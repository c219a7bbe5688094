"""Focused pins for the r11 optimization-round internals.

Each r11 change claims value-equivalence under a different execution
strategy (fused loop, broadcast-vs-shuffle gate, scoped partition
count). These tests pin each claim directly, so a future edit that
breaks the equivalence fails HERE, not in a driver round.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pac_spark.cache import release_caches


@pytest.fixture(autouse=True)
def _sweep():
    yield
    release_caches(all_generations=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_pq_codebooks_match_per_subspace_loops(spark, sf_dir):
    """_pq_codebooks (one loop keyed by sub) must reproduce the per-m
    _ivf_centroids loops digit-for-digit — same init salts, same
    argmin windows, same exact-BIGINT means."""
    from pac_spark import catalog
    from pac_spark.operators.similarity import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        _PQ_INIT_SALT,
        _dvec,
        _fit_sample,
        _ivf_centroids,
        _pq_codebooks,
        _pq_subv,
    )

    emb = (
        catalog.load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _dvec("embedding").alias("v"), "label")
    )
    sample = _fit_sample(emb)
    # ONE fused training run, filtered per m afterwards — calling
    # _pq_codebooks inside the per-m comprehension re-ran the full
    # PQ_ITERS Lloyd loop PQ_M times for identical output (ADVICE r11)
    codebooks = _pq_codebooks(sample)
    fused = {
        m: _rows(
            codebooks.filter(F.col("sub") == m).select("centroid_id", "c")
        )
        for m in range(PQ_M)
    }
    for m in range(PQ_M):
        per_m = _rows(
            _ivf_centroids(
                sample.select("vec_id", F.expr(_pq_subv("v", m)).alias("v")),
                n_centroids=PQ_K,
                iters=PQ_ITERS,
                init_salt=f"{_PQ_INIT_SALT}_m{m}",
            )
        )
        assert fused[m] == per_m, f"subspace {m} codebook diverged"


def test_graph_loops_invariant_to_broadcast_gate(
    spark, sf_dir, tmp_path, gate_decisions
):
    """lpa/sssp/kcore results must be identical with loop broadcasts
    disabled (threshold -1 forces the shuffle-join fallback path). The
    gate spy proves run 1 (threshold 1g) took the broadcast branch and
    run 2 the shuffle branch, so the comparison is between two plans.
    kcore also runs on a crafted graph: the fixture's co-purchase graph
    is already a 2-core, so its peel loop never reaches the gate."""
    from pac_spark.operators.graph import (
        kcore_parts,
        lpa_communities,
        sssp_from_hub,
    )
    from tests.conftest import write_pendant_triangle

    write_pendant_triangle(tmp_path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    for fn, data, gated in (
        (lpa_communities, sf_dir, True),
        (sssp_from_hub, sf_dir, True),
        (kcore_parts, sf_dir, False),
        (kcore_parts, str(tmp_path), True),
    ):
        try:
            gate_decisions.clear()
            spark.conf.set(key, "1g")
            with_bcast = _rows(fn(spark, data))
            if gated:
                assert gate_decisions and all(gate_decisions), fn.__name__
            release_caches(all_generations=True)
            gate_decisions.clear()
            spark.conf.set(key, "-1")
            without = _rows(fn(spark, data))
            if gated:
                assert gate_decisions and not any(gate_decisions), fn.__name__
        finally:
            spark.conf.set(key, prev)
        release_caches(all_generations=True)
        assert with_bcast == without, f"{fn.__name__} gate-variant"


def test_stream_shuffle_parts_rule(spark, sf_dir, tmp_path):
    """The drain partition rule: floor 4, source-byte scaling, session
    cap, None when the source is missing — and it must not leak the
    session setting."""
    from pac_spark.streaming.stream_exec import (
        _STREAM_PART_BYTES,
        stream_shuffle_parts,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    parts = stream_shuffle_parts(spark, sf_dir)
    assert spark.conf.get(key) == before  # helper never mutates conf
    assert parts is not None and 4 <= parts <= int(before)
    # a source bigger than cap x target keeps the session setting
    import os

    nbytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    expected = min(int(before), max(4, -(-nbytes // _STREAM_PART_BYTES)))
    assert parts == expected
    # missing table -> no override
    assert stream_shuffle_parts(spark, str(tmp_path), "events") is None


def test_run_to_memory_restores_partition_conf(spark, sf_dir):
    """A drained stream with a parts override must restore the session
    shuffle-partition setting even though the query ran at the scoped
    count."""
    from pac_spark.streaming.stream_exec import (
        run_to_memory,
        stream_events,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    ev = stream_events(spark, sf_dir).groupBy("event_type").count()
    out = run_to_memory(spark, ev, "r11_parts_probe", "complete", parts=4)
    assert out.count() > 0
    assert spark.conf.get(key) == before


def test_assortativity_moment_identity(spark, sf_dir):
    """The r11 restructure's algebra: over the symmetric trade-edge
    set, sum_edges deg(src)^k == sum_nodes deg^(k+1) exactly, and the
    dst moments equal the src moments (the identity the operator now
    relies on)."""
    from pac_spark.cache import pin
    from pac_spark.operators.graph import trade_edges

    edges = pin(trade_edges(spark, sf_dir))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        edges.join(deg.withColumnRenamed("src", "a"), F.col("src") == F.col("a"))
        .select("src", "dst", F.col("deg").alias("dx"))
        .join(deg.withColumnRenamed("src", "b"), F.col("dst") == F.col("b"))
        .select("dx", F.col("deg").alias("dy"))
    )
    dec = "decimal(38,0)"
    per_edge = e.agg(
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx").cast(dec) * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy").cast(dec) * F.col("dy")).cast(dec)).alias("syy"),
    ).collect()[0]
    d = F.col("deg").cast(dec)
    per_node = deg.agg(
        F.sum((d * F.col("deg")).cast(dec)).alias("sx"),
        F.sum((d * F.col("deg") * F.col("deg")).cast(dec)).alias("sxx"),
    ).collect()[0]
    assert per_edge["sx"] == per_edge["sy"] == per_node["sx"]
    assert per_edge["sxx"] == per_edge["syy"] == per_node["sxx"]
