"""Result checks: Spark results against the registry's DuckDB oracle SQL.

The canonical form is the engine's test-suite value hash: columns sorted
by name, rows sorted by their stringified cells, NULL and NaN as one
token, floats as ``repr(round(v, 9))``.
"""

from __future__ import annotations

import glob
import os

import duckdb


class WrongResult(AssertionError):
    """A result differs from its reference."""


def _cell(v) -> str:
    if v is None or v != v:
        return "<null>"
    if isinstance(v, float):
        return repr(round(v, 9) + 0.0)
    return str(v)


def canonical(frame) -> tuple[list[str], list[tuple[str, ...]]]:
    """Order-insensitive canonical form of a pandas frame."""
    frame = frame.reindex(sorted(frame.columns), axis=1)
    rows = sorted(tuple(_cell(v) for v in row) for row in frame.itertuples(index=False))
    return list(frame.columns), rows


def canonical_records(records: list[dict]) -> list[tuple[str, ...]]:
    """Canonical rows of a list of dicts that share one key set."""
    return sorted(tuple(_cell(r[k]) for k in sorted(r)) for r in records)


def assert_same(name: str, got, want) -> None:
    gcols, grows = canonical(got)
    wcols, wrows = canonical(want)
    if gcols != wcols:
        raise WrongResult(f"{name}: columns {gcols} != oracle {wcols}")
    if len(grows) != len(wrows):
        raise WrongResult(f"{name}: {len(grows)} rows != oracle {len(wrows)}")
    for i, (a, b) in enumerate(zip(grows, wrows)):
        if a != b:
            raise WrongResult(f"{name}: row {i} differs\n  spark : {a}\n  oracle: {b}")


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table file, as the engine's
    oracle SQL expects."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con
