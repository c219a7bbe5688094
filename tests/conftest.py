from __future__ import annotations

import glob
import os

import duckdb
import pytest

SF_DIR = os.environ.get("PAC_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pac_spark.session import get_spark

    spark = get_spark(app_name="pac_spark_tests", master="local[16]", shuffle_partitions=16)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def gate_decisions(monkeypatch):
    """Every ``loops.fits_broadcast`` result, in call order, while the
    real gate still decides — proves which join branch a loop took."""
    from pac_spark import loops

    real, taken = loops.fits_broadcast, []

    def spy(spark, n_rows):
        taken.append(real(spark, n_rows))
        return taken[-1]

    monkeypatch.setattr(loops, "fits_broadcast", spy)
    return taken


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the same views the driver registers."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def canonical(df_pandas):
    """Canonicalize a result frame the way an order-insensitive
    value-hash would see it: columns sorted by name, rows sorted by
    stringified values, floats via repr (exact — the engine guarantees
    bit-identical arithmetic vs the oracle)."""
    import pandas as pd

    df = df_pandas.reindex(sorted(df_pandas.columns), axis=1)
    def cell(v):
        if v is None or v != v:
            return "<null>"
        if isinstance(v, float):
            return repr(round(v, 9) + 0.0)
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return list(df.columns), rows


def assert_oracle_match(spark_df, duck_rel):
    scols, srows = canonical(spark_df.toPandas())
    ocols, orows = canonical(duck_rel.df())
    assert scols == ocols, f"column mismatch: spark={scols} oracle={ocols}"
    assert len(srows) == len(orows), f"row count: spark={len(srows)} oracle={len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  oracle: {b}"


def write_pendant_triangle(path) -> None:
    """A co-purchase ``lineitem.parquet`` under ``path``: a triangle
    with a 3-node pendant chain off node 3, plus an isolated edge. Its
    2-core is the triangle, reached only after several peel rounds."""
    import pandas as pd

    # every edge = one part pair ordered together in TWO orders
    edges = [(1, 2), (2, 3), (1, 3),  # triangle
             (3, 4), (4, 5), (5, 6),  # pendant chain off node 3
             (7, 8)]                   # isolated edge
    rows = []
    oid = 0
    for a, b in edges:
        for _ in range(2):
            rows += [(oid, a), (oid, b)]
            oid += 1
    pd.DataFrame(
        {
            "l_orderkey": [o for o, _ in rows],
            "l_partkey": [p for _, p in rows],
        }
    ).to_parquet(os.path.join(path, "lineitem.parquet"))
