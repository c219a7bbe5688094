"""Similarity search over the ``embeddings`` table (64-dim float
vectors).

- **Brute-force cosine top-k** — the exact baseline: query vectors
  broadcast against the full collection, dot/norm as sequential
  left-fold array expressions (bit-reproducible in the DuckDB oracle
  via ``list_reduce``). One scan, no shuffle until the per-query top-k
  (TakeOrderedAndProject after a window rank).
- **Threshold similarity pairs** — label-blocked pair generation (the
  IVF idea: only compare within a coarse partition) with cosine >= τ.
- **ANN via random-hyperplane LSH** — seeded deterministic hyperplanes
  built JVM-side; bucket join + exact rescoring inside buckets only.
- **ANN via IVF** — a deterministic DataFrame-native Lloyd's coarse
  quantizer (seeded md5-order init, exact floor-scaled BIGINT means,
  fixed rounds) + multi-probe; the oracle unrolls the identical loop.
- **ANN via PQ/ADC** — per-subspace codebooks from the same Lloyd
  loop, 12-bit codes, per-query distance tables, exact rescore of the
  bounded top-k (staged for the r6 driver rotation).

All four tiers carry full value-hash DuckDB oracles (since r5): every
arithmetic step — fold order, quantization, argmin ties — is the same
IEEE expression in both engines.

At 100 TB: the brute-force path stays usable for small query sets
(it's a broadcast of queries, linear scan — embarrassingly parallel);
the LSH path bounds candidate counts per bucket; IVF probes read only
~nprobe/nlist of the collection; PQ scans 12-bit codes, never raw
vectors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pac_spark import catalog, loops
from pac_spark.cache import checkpoint, pin

__all__ = [
    "knn_bruteforce",
    "knn_rerank",
    "embedding_similar_pairs",
    "semantic_dedup",
    "similar_pairs_banded",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "pq_topk",
    "label_centroids",
    "embedding_dim_stats",
    "DIM_STATS_SQL",
    "kcenter_diverse_embeddings",
    "KCENTER_SQL",
    "embedding_covariance",
    "COVARIANCE_SQL",
    "ann_recall_audit",
    "pca_top_component",
    "PCA_SQL",
    "label_centroid_cosine",
    "CENTROID_COSINE_SQL",
]

QUERY_IDS = (0, 1, 2)
TOP_K = 10


def _dvec(col_name: str) -> Column:
    """float[] -> double[] (exact) so all arithmetic is double-precision."""
    return F.expr(f"transform({col_name}, x -> cast(x as double))")


def _dot(a: str, b: str) -> Column:
    """Sequential left-fold dot product: 0.0 + a1*b1 + a2*b2 + ... —
    the exact accumulation order the oracle reproduces."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, p) -> acc + p)"
    )


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors (vec_id 0, 1, 2):
    broadcast queries x full scan, windowed rank, k rows per query.

    Norms are computed once per vector BEFORE the join, so the per-pair
    expression is a single dot-product fold, not three — at n vectors
    and q queries that is n + q norm folds instead of 2·n·q."""
    emb = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v"), "label"
    )
    normed = emb.withColumn("nv", F.sqrt(_dot("v", "v")))
    queries = normed.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    cos = _dot("v", "qv") / (F.col("nv") * F.col("nq"))
    scored = (
        normed.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(cos, 8).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension) —
    the building block of k-means refits, class prototypes, and
    centroid-based semantic dedup.

    Plan: ``posexplode`` the vectors and aggregate per (label, pos) —
    one map-side-combined shuffle whose key count is labels x dims, so
    reducer state is bounded by the schema, never by corpus size. Rows
    out (not reassembled arrays): at 100 TB the consumer is the next
    keyed operation, and ``collect_list``-style array reassembly would
    only add a nondeterministic-order hazard. The mean uses the
    fixed-point exact-sum pattern (``functions.exact``), so the result
    is bit-identical between Spark's aggregation tree and the serial
    oracle at any partition count.
    """
    from pac_spark.functions.exact import exact_avg

    exploded = catalog.load(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(_dvec("embedding")).alias("pos", "val")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.count("*").alias("n_vectors"),
            exact_avg(F.col("val"), scale=6).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


def knn_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query candidate re-ranking via grouped ``applyInPandas`` —
    the bounded-group vectorized-Python shape (complementing
    ``mapInPandas`` for per-batch and ``applyInPandasWithState`` for
    stateful streaming).

    Each query's top-k list arrives as ONE pandas frame; the rerank
    derives gap-to-best and relative-score features (the slot where a
    real pipeline runs a cross-encoder over the candidate list). This
    is the legitimate ``applyInPandas`` regime: groups are top-k lists
    — at most ``TOP_K`` rows by construction at ANY corpus size.
    Unbounded per-group frames (per-language stats, per-label vectors)
    must use histogram/aggregate plans instead — see
    ``text.lang_quality_quantiles`` for the restructured example.

    All derived features are raw IEEE double arithmetic on the
    already-hash-verified scores (subtract, divide — no rounding, no
    transcendentals), so numpy and the DuckDB oracle agree bit-exactly.
    """
    import pandas as pd

    base = knn_bruteforce(spark, sf_dir)

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        best = pdf["score"].max()
        out = pdf.copy()
        out["gap_to_best"] = best - pdf["score"]
        out["rel_score"] = (pdf["score"] / best) if best != 0.0 else None
        return out

    schema = (
        "query_id long, vec_id long, label int, score double, rank int, "
        "gap_to_best double, rel_score double"
    )
    return (
        base.groupBy("query_id")
        .applyInPandas(rerank, schema=schema)
        .orderBy("query_id", "rank")
    )


# Sign-LSH sub-bucketing inside each label for pair generation.
# The (bits-per-band, n-bands) point is a recall/cost dial. With
# p(tau) = 1 - acos(tau)/pi (per-bit sign-agreement probability at
# cosine tau), a pair at >= tau is missed by every band with
# probability <= (1 - p^bits)^bands:
#
# - diffuse threshold 0.35 (the registered query; pairs barely
#   off-random, p = 0.614): 16 bands x 2 bits -> miss <= (1-0.377)^16
#   < 0.05%, while still splitting every label block 4 ways per band
#   (skew bound: no single join key carries a whole label);
# - production near-dup threshold 0.8 (p = 0.795): 16 bands x 4 bits
#   -> miss <= (1 - 0.795^4)^16 = 2.9e-4, with 16-way splits per band
#   and random (cos ~ 0) pairs colliding in a band at only 6.25%
#   (vs 25% at 2 bits) — candidate volume drops ~4x per band. The
#   sf0.001 recall property test plants near-dup vectors and asserts
#   this dial loses none of them (test_properties.py).
EMB_PAIR_BITS = 2

# the registered diffuse cosine threshold — named once so the operator
# defaults and BOTH oracle call sites (llm_plans) cannot drift apart
DIFFUSE_PAIR_THRESHOLD = 0.35
EMB_PAIR_BANDS = 16
EMB_PAIR_BITS_PROD = 4
EMB_PAIR_BANDS_PROD = 16


def similar_pairs_banded(
    emb: DataFrame,
    threshold: float,
    bits: int = EMB_PAIR_BITS,
    bands: int = EMB_PAIR_BANDS,
) -> DataFrame:
    """Core banded pair generation over a (vec_id, v, label) frame.

    Candidate generation: each vector gets a sign signature against
    fixed hyperplanes; candidates must share (label, band) for at
    least one of ``bands`` bands — the join key is
    (label, band_idx, band_key), never the bare label, so per-key
    fan-out stays bounded as labels grow. Candidates are then rescored
    with the exact cosine and thresholded, so any pair the banding
    surfaces carries its true score.
    """
    n_planes = bits * bands
    planes = _hyperplanes(n_planes)
    plane_arr = F.array(*[F.array(*[F.lit(x) for x in row]) for row in planes])
    sig = F.expr(
        "transform(planes, p -> case when aggregate(zip_with(v, p, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, q) -> acc + q) >= 0 then '1' else '0' end)"
    )
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat(
                    *[F.col("bits")[b * bits + r] for r in range(bits)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    # pinned: the band frame is BOTH sides of the self-join, and the
    # normed frame below feeds both rescore joins — unpinned, each
    # consumer re-runs the 32 plane dots / the norm over the corpus
    # (code-review r7)
    banded = pin(
        emb.withColumn("planes", plane_arr)
        .withColumn("bits", sig)
        .select("vec_id", "label", F.explode(bands_arr).alias("band"))
        .select(
            "vec_id",
            "label",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_key").alias("band_key"),
        )
    )
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, on=["label", "band_idx", "band_key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            "label",
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    normed = pin(emb.withColumn("nv", F.sqrt(_dot("v", "v"))))
    va = normed.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("v_a"), F.col("nv").alias("n_va")
    )
    vb = normed.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("v_b"), F.col("nv").alias("n_vb")
    )
    cos = _dot("v_a", "v_b") / (F.col("n_va") * F.col("n_vb"))
    return (
        candidates.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("label", "vec_a", "vec_b", F.round(cos, 8).alias("score"))
        .filter(F.col("score") >= threshold)
        .orderBy("label", "vec_a", "vec_b")
    )


def embedding_similar_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = DIFFUSE_PAIR_THRESHOLD
) -> DataFrame:
    """Within-label similar pairs (cosine >= threshold) over the
    ``embeddings`` table, at the diffuse-threshold banding dial."""
    emb = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v"), "label"
    )
    return similar_pairs_banded(emb, threshold)


def semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = DIFFUSE_PAIR_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-dup groups (SemDeDup-style): vectors whose
    cosine reaches the threshold land in one cluster; keeper = minimum
    vec_id of the cluster, everything else is a semantic duplicate.

    Composition of two already-scale-shaped pieces: banded pair
    generation (``similar_pairs_banded`` — keyed joins, bounded
    fan-out) feeds edges into the ER module's connected components
    (endpoint-only min-label propagation). The driver oracle re-derives
    the clustering from the exhaustive pair list with a recursive CTE,
    so banding recall is hash-checked end-to-end here too.
    """
    from pac_spark.operators.entity_resolution import connected_components

    emb = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v"), "label"
    )
    edges = similar_pairs_banded(emb, threshold).select(
        F.col("vec_a").alias("id_a"), F.col("vec_b").alias("id_b")
    )
    labels = connected_components(
        emb.select(F.col("vec_id").alias("id")), edges
    )
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("is_keeper"),
    ).orderBy("vec_id")


N_PLANES = 12
_PLANE_SEED = 1234567


def _hyperplanes(n: int = N_PLANES) -> list[list[float]]:
    """Deterministic isotropic Gaussian hyperplanes — md5-keyed
    Box-Muller, python-side constants, identical every run (no
    library RNG). Keyed per (plane, dim) so plane i is the same for
    any n >= i (asking for more planes never perturbs existing
    signatures).

    A raw-LCG stream is NOT usable here: its serial correlation makes
    all planes nearly parallel, so sign agreement for a pair collapses
    to ~0 or ~1 instead of 1 - angle/pi and banding recall breaks.
    """
    import hashlib
    import math

    def unit(i: int, j: int, salt: str) -> float:
        h = hashlib.md5(f"{_PLANE_SEED}:{salt}:{i}:{j}".encode()).hexdigest()
        return (int(h[:13], 16) + 0.5) / float(1 << 52)  # (0, 1)

    planes = []
    for i in range(n):
        row = []
        for j in range(64):
            u1, u2 = unit(i, j, "u1"), unit(i, j, "u2")
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        planes.append(row)
    return planes


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join + exact rescoring.

    Each vector hashes to a 6-bit sign signature against the first 6
    fixed hyperplanes, and the bucket IS that signature — there is no
    longer hidden signature this is a prefix of (code-review r7
    corrected the docstring: N_PLANES sizes the shared plane table,
    not this operator's index). Exact cosine is computed only inside
    buckets. Approximate → rows-only driver check; recall vs brute
    force is property-tested.
    """
    emb = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v"), "label"
    )
    planes = _hyperplanes()
    plane_arr = F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in planes[:6]]
    )
    sig = F.expr(
        "transform(planes, p -> case when aggregate(zip_with(v, p, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, q) -> acc + q) >= 0 then '1' else '0' end)"
    )
    bucketed = emb.withColumn("planes", plane_arr).select(
        "vec_id",
        "v",
        "label",
        F.array_join(sig, "").alias("bucket"),
        F.sqrt(_dot("v", "v")).alias("nv"),
    )
    queries = bucketed.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("nv").alias("nq"),
    )
    cos = _dot("v", "qv") / (F.col("nv") * F.col("nq"))
    scored = (
        bucketed.join(
            F.broadcast(queries), F.col("bucket") == F.col("qbucket")
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", F.round(cos, 8).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


IVF_NLIST = 16
IVF_NPROBE = 3
# fixed Lloyd rounds — the oracle unrolls exactly this many; a coarse
# quantizer converges "enough" in a handful of rounds and exactness of
# the partition is irrelevant to IVF correctness (any partition works,
# a good one just probes fewer useless lists)
IVF_ITERS = 3
# index-build sample: ~50 vectors per centroid is plenty for a coarse
# quantizer; the fit input is capped near this regardless of corpus size
IVF_FIT_TARGET = 50 * IVF_NLIST
_IVF_FIT_SALT = "ivf_fit_v1"
_IVF_INIT_SALT = "ivf_init_v1"
# centroid quantization denominator: means are computed from exact
# BIGINT sums of floor(x * SCALE), so they are partition-order
# invariant AND reproducible digit-for-digit in the DuckDB oracle
_CENT_SCALE = 10_000_000.0


def _sqdist(a: str, b: str) -> Column:
    """Squared L2 distance as the same sequential left-fold the oracle
    mirrors (see ``_dot``): identical operation order → identical
    doubles → identical argmin decisions in both engines."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, d) -> acc + d)"
    )


def _fit_sample(with_vec: DataFrame) -> DataFrame:
    """Deterministic hash-bucket sample for the k-means fit: the salted
    md5 permille bucket from curation (independent salt), with the rate
    chosen so the expected sample is ~``IVF_FIT_TARGET`` vectors. One
    count() job per index build — the build is already a multi-pass
    batch job, and the alternative (fitting 10 Lloyd iterations over
    the full 100 TB collection) is exactly what this avoids (VERDICT
    r3 #3). Collections at or under the target fit on everything."""
    from pac_spark.operators.curation import _sample_bucket

    cnt = with_vec.count()
    if cnt <= IVF_FIT_TARGET:
        return with_vec
    # integer ceiling (not math.ceil over a float quotient) so the
    # oracle reproduces the rate with the same integer arithmetic
    permille = min(1000, max(1, (IVF_FIT_TARGET * 1000 + cnt - 1) // cnt))
    return with_vec.filter(
        _sample_bucket(F.col("vec_id"), salt=_IVF_FIT_SALT) < permille
    )


def _argmin_code(cents_col: str, vec_expr: str) -> Column:
    """Row-local argmin over a broadcast (centroid_id, c) struct-array
    column: strict < keeps the FIRST minimal element of the
    ascending-id array, i.e. ties go to the lower id — the same
    decision the oracles' (dist, centroid_id) windows make. One
    definition shared by the IVF assignment and PQ encoding so the
    tie-break semantics cannot drift between them."""
    sq = (
        f"aggregate(zip_with({vec_expr}, ct.c, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, d) -> acc + d)"
    )
    # distances are materialized ONCE by the transform, then the fold
    # compares structs — splicing {sq} into both arms of the if made
    # Spark evaluate the 64-dim fold twice whenever a new minimum won
    # (code-review r7; this runs in the hot full-corpus IVF-assign and
    # PQ-encode passes). Same arithmetic, same strict-< first-minimum
    # tie-break, so oracle parity is untouched.
    return F.expr(
        f"aggregate(transform({cents_col}, "
        f"ct -> named_struct('d', {sq}, 'id', ct.centroid_id)), "
        "named_struct('d', cast('Infinity' as double), 'id', -1), "
        "(acc, x) -> if(x.d < acc.d, x, acc)).id"
    )


def _ivf_centroids(
    sample: DataFrame,
    n_centroids: int = IVF_NLIST,
    iters: int = IVF_ITERS,
    init_salt: str = _IVF_INIT_SALT,
) -> DataFrame:
    """Deterministic DataFrame-native Lloyd's loop → (centroid_id, c).

    - init: the ``IVF_NLIST`` sample vectors first in salted-md5 order
      of vec_id (a seeded shuffle both engines can replay);
    - assign: window argmin over squared L2 (left-fold — identical
      doubles in the oracle), ties to the lower centroid_id;
    - update: componentwise mean from EXACT BIGINT sums of
      floor(x·``_CENT_SCALE``) — associative, so partition-count
      invariant, and digit-identical in DuckDB (floor dodges the
      round-half engine divergence); empty clusters keep their
      previous centroid;
    - ``IVF_ITERS`` fixed rounds, unrolled in the oracle as plain CTE
      chains.

    Every round touches only the bounded fit sample, so the loop costs
    O(IVF_ITERS × IVF_FIT_TARGET × IVF_NLIST) regardless of corpus
    size. Replaces the r1-r4 Spark-ML KMeans whose centroids no oracle
    could re-derive (VERDICT r4 wrong-#3).

    The 16-row centroid frame is CHECKPOINTED each round (eager
    localCheckpoint — lineage cut, not just cached): iteration t+1
    references cents_t twice (assignment + empty-cluster carry), so an
    unmaterialized loop would replay the init lineage 2^IVF_ITERS
    times, and a pin-only loop kept the whole unrolled lineage in
    every downstream plan (7 MB plan strings, ~300 lineage exchanges
    through pq_topk's 8 per-subspace loops — plan-audit campaign r8);
    the flat-plan discipline ``pagerank`` and
    ``connected_components`` apply.
    """
    h = F.md5(
        F.encode(
            F.concat(F.col("vec_id").cast("string"), F.lit(":" + init_salt)),
            "UTF-8",
        )
    )
    cents = (
        sample.withColumn("rn", F.row_number().over(W.orderBy(h.asc())))
        .filter(F.col("rn") <= n_centroids)
        .select((F.col("rn") - 1).cast("int").alias("centroid_id"), F.col("v").alias("c"))
    )
    wa = W.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
    # every frame the loop shuffles is bounded by the FIT SAMPLE
    # (≤ IVF_FIT_TARGET rows by construction, regardless of corpus
    # size), so the loop sizes to that constant: on a cluster session
    # with thousands of shuffle partitions the 800-row fit sample would
    # otherwise schedule thousands of empty tasks per round. Results
    # are partition-count invariant (exact BIGINT sums; argmin window
    # is per-vec_id with a total order).
    spark = sample.sparkSession
    parts = loops.loop_parts(spark, nodes=IVF_FIT_TARGET)
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        for _ in range(iters):
            assigned = (
                sample.crossJoin(F.broadcast(cents))
                .withColumn("dist", _sqdist("v", "c"))
                .withColumn("rn", F.row_number().over(wa))
                .filter(F.col("rn") == 1)
                .select(F.col("centroid_id").alias("list_id"), "v")
            )
            sums = (
                assigned.select("list_id", F.posexplode("v").alias("pos", "val"))
                .groupBy("list_id", "pos")
                .agg(
                    F.sum(F.floor(F.col("val") * F.lit(_CENT_SCALE))).alias("sm"),
                    F.count("*").alias("n"),
                )
            )
            newc = (
                sums.withColumn(
                    "m",
                    F.col("sm").cast("double")
                    / (F.lit(_CENT_SCALE) * F.col("n").cast("double")),
                )
                .groupBy("list_id")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
                    ).alias("c_new")
                )
            )
            # checkpoint, not pin: the lineage must be CUT each round,
            # not just cached — pinned rounds kept the whole unrolled
            # loop in every downstream plan (the corrected plan
            # auditor read a 7 MB plan string with ~300 lineage
            # exchanges through pq_topk's per-subspace loops; eager
            # localCheckpoint of a 16-row frame is microseconds and
            # keeps plans flat at any iteration count — the
            # pagerank/CC loop discipline)
            cents = checkpoint(
                cents.join(
                    newc.withColumnRenamed("list_id", "centroid_id"),
                    "centroid_id",
                    "left",
                ).select("centroid_id", F.coalesce("c_new", "c").alias("c"))
            )
    return cents


def _pq_codebooks(sample: DataFrame) -> DataFrame:
    """All ``PQ_M`` per-subspace codebooks from ONE fused Lloyd loop →
    (sub, centroid_id, c).

    r11 (guide §1.2 "the distributed algorithm first"): the previous
    shape ran :func:`_ivf_centroids` once per subspace — PQ_M
    independent loops of PQ_ITERS rounds each, i.e. M×ITERS eager
    checkpoints and M×ITERS×3 tiny shuffle stages, all over the SAME
    bounded fit sample. Training all subspaces in one loop keyed by
    ``sub`` runs the identical per-(sub, centroid) arithmetic — init
    order is the per-sub salted-md5 window (same salt string per sub
    as the per-m loops built), assignment the same per-(sub, vec_id)
    argmin window, update the same exact-BIGINT componentwise mean —
    so every codebook is value-identical (oracle-verified; the DuckDB
    oracle still unrolls per-m loops), while the round count drops
    M-fold: PQ_ITERS checkpoints instead of PQ_M×PQ_ITERS. Same-JVM
    interleaved A/B at sf0.1 (min-of-4, warm, whole pq_topk):
    7.68 s -> 3.88 s.
    """
    subs = sample.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.expr(_pq_subv("v", m)) for m in range(PQ_M)])
        ).alias("sub", "v"),
    )
    h = F.md5(
        F.encode(
            F.concat(
                F.col("vec_id").cast("string"),
                F.lit(":" + _PQ_INIT_SALT + "_m"),
                F.col("sub").cast("string"),
            ),
            "UTF-8",
        )
    )
    cents = (
        subs.withColumn("rn", F.row_number().over(W.partitionBy("sub").orderBy(h.asc())))
        .filter(F.col("rn") <= PQ_K)
        .select(
            "sub",
            (F.col("rn") - 1).cast("int").alias("centroid_id"),
            F.col("v").alias("c"),
        )
    )
    wa = W.partitionBy("sub", "vec_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
    spark = sample.sparkSession
    parts = loops.loop_parts(spark, nodes=IVF_FIT_TARGET)
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        for _ in range(PQ_ITERS):
            assigned = (
                subs.join(F.broadcast(cents), "sub")
                .withColumn("dist", _sqdist("v", "c"))
                .withColumn("rn", F.row_number().over(wa))
                .filter(F.col("rn") == 1)
                .select("sub", F.col("centroid_id").alias("list_id"), "v")
            )
            sums = (
                assigned.select("sub", "list_id", F.posexplode("v").alias("pos", "val"))
                .groupBy("sub", "list_id", "pos")
                .agg(
                    F.sum(F.floor(F.col("val") * F.lit(_CENT_SCALE))).alias("sm"),
                    F.count("*").alias("n"),
                )
            )
            newc = (
                sums.withColumn(
                    "m",
                    F.col("sm").cast("double")
                    / (F.lit(_CENT_SCALE) * F.col("n").cast("double")),
                )
                .groupBy("sub", "list_id")
                .agg(
                    F.expr(
                        "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
                    ).alias("c_new")
                )
            )
            cents = checkpoint(
                cents.join(
                    newc.withColumnRenamed("list_id", "centroid_id"),
                    ["sub", "centroid_id"],
                    "left",
                ).select("sub", "centroid_id", F.coalesce("c_new", "c").alias("c"))
            )
    return cents


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) search: deterministic
    k-means coarse quantizer (:func:`_ivf_centroids`) + multi-probe.

    Build: fit the quantizer on a deterministic hash-bucket sample
    (~``IVF_FIT_TARGET`` vectors — see :func:`_fit_sample`), then tag
    every vector with its nearest-centroid list id in one ROW-LOCAL
    fold over the broadcast centroid array — zero shuffle for the
    assignment pass, the shape that matters at 100 TB. Search: each
    query scores all centroids (tiny), probes the ``IVF_NPROBE``
    nearest lists, and computes exact cosine only against vectors in
    those lists — candidate count drops to ~nprobe/nlist of the
    collection.

    Every stage (sample, init, Lloyd rounds, assignment, probing,
    scoring) is deterministic and engine-portable, so the driver now
    hash-verifies the whole index + search pipeline against a DuckDB
    oracle that unrolls the identical loop; the property test
    additionally asserts every returned score equals the brute-force
    score for that pair.
    """
    emb = catalog.load(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec("embedding").alias("v"), "label"
    )
    # pin both bounded frames: the fit sample is read once per Lloyd
    # round, and the 16-row centroid table has three consumers below
    # (broadcast array, probe scoring, and each's reuse)
    cents = pin(_ivf_centroids(pin(_fit_sample(emb))))
    cent_arr = F.broadcast(
        cents.agg(
            F.expr("array_sort(collect_list(struct(centroid_id, c)))").alias("cents")
        )
    )
    assigned = (
        emb.crossJoin(cent_arr)
        .select(
            "vec_id",
            "v",
            "label",
            _argmin_code("cents", "v").alias("list_id"),
            F.sqrt(_dot("v", "v")).alias("nv"),
        )
    )

    queries = assigned.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    # multi-probe: nprobe nearest centroids per query (centroid table is
    # tiny — the cross join is queries x nlist rows, then a top-n window)
    probe_w = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("centroid_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn(
            "dist",
            F.expr(
                "aggregate(zip_with(qv, c, (x, y) -> (x - y) * (x - y)), "
                "cast(0.0 as double), (acc, d) -> acc + d)"
            ),
        )
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= IVF_NPROBE)
        .select("query_id", "qv", "nq", F.col("centroid_id").alias("list_id"))
    )

    cos = _dot("v", "qv") / (F.col("nv") * F.col("nq"))
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", F.round(cos, 8).alias("score"))
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ---- Product quantization (PQ) + asymmetric-distance (ADC) search ----
# The 4th ANN tier (brute / sign-LSH / IVF / PQ): vectors compress to
# PQ_M sub-space code ids (here 4 x 3 bits = 12 bits per vector vs 64
# doubles), and search scans CODES against a per-query distance table,
# never raw vectors — the memory-bound regime FAISS-style engines run
# at billions of vectors. Same determinism contract as the IVF: every
# codebook comes from the shared Lloyd loop, so the whole index is
# engine-reproducible.
PQ_M = 4
PQ_SUB_DIM = 16  # 64 dims / 4 subspaces
PQ_K = 8
PQ_ITERS = 2
_PQ_INIT_SALT = "pq_init_v1"


def _pq_subv(vec_col: str, m: int) -> str:
    return f"slice({vec_col}, {m * PQ_SUB_DIM + 1}, {PQ_SUB_DIM})"


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via product quantization with ADC lookup.

    Build: per subspace m, a ``PQ_K``-code codebook from the shared
    deterministic Lloyd loop (:func:`_ivf_centroids`, per-subspace
    init salt) over the bounded fit sample; every vector encodes to M
    code ids with a ROW-LOCAL argmin fold over the broadcast codebook
    — zero shuffle, and at scale the stored index is the code table,
    not the vectors. Search: each query precomputes an M×K distance
    table (M·K tiny rows → nested array, broadcast); a vector's
    approximate distance is M array lookups summed — no vector
    arithmetic in the scan. The bounded top-k then rescores EXACT
    cosine against the raw vectors (the standard ADC + rescore
    pipeline). Deterministic end-to-end → full value-hash oracle that
    unrolls the M Lloyd loops (staged for the r6 rotation; local gate
    in ``tests/test_oracle_parity_staged.py``).
    """
    # unembedded vectors (NULL embedding) are EXCLUDED by contract,
    # stated in both engines: a NULL vector cannot be PQ-encoded — its
    # argmin code would poison the ADC distance-table lookup with a
    # NULL/zero index (the other similarity tiers drop NULLs naturally
    # through their NULL-propagating cosine filters)
    emb = (
        catalog.load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", _dvec("embedding").alias("v"), "label")
    )
    sample = pin(_fit_sample(emb))
    # ONE fused Lloyd loop trains all PQ_M codebooks (r11 — see
    # _pq_codebooks: M-fold fewer rounds, value-identical); the per-m
    # book views below are filters over the 32-row checkpointed frame,
    # so the rest of the pipeline is unchanged
    codebooks = _pq_codebooks(sample)
    books = [
        pin(codebooks.filter(F.col("sub") == m).select("centroid_id", "c"))
        for m in range(PQ_M)
    ]

    enc = emb.withColumn("nv", F.sqrt(_dot("v", "v")))
    for m, book in enumerate(books):
        arr = F.broadcast(
            book.agg(
                F.expr("array_sort(collect_list(struct(centroid_id, c)))").alias(
                    f"cents_{m}"
                )
            )
        )
        enc = (
            enc.crossJoin(arr)
            .withColumn(f"code_{m}", _argmin_code(f"cents_{m}", _pq_subv("v", m)))
            .drop(f"cents_{m}")
        )

    # pinned: the encoded table feeds the query extraction, the ADC
    # scan, AND the bounded rescore join-back — unpinned, the M
    # argmin-encode passes would re-run per consumer
    enc = pin(enc)

    queries = enc.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    dt_parts = []
    for m, book in enumerate(books):
        qsq = (
            f"aggregate(zip_with({_pq_subv('qv', m)}, c, "
            "(x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, d) -> acc + d)"
        )
        dt_parts.append(
            queries.crossJoin(F.broadcast(book)).select(
                "query_id",
                F.lit(m).alias("m"),
                "centroid_id",
                F.expr(qsq).alias("d"),
            )
        )
    dt_rows = dt_parts[0]
    for part in dt_parts[1:]:
        dt_rows = dt_rows.unionByName(part)
    per_m = dt_rows.groupBy("query_id", "m").agg(
        F.expr("transform(array_sort(collect_list(struct(centroid_id, d))), x -> x.d)").alias(
            "arr"
        )
    )
    qdt = per_m.groupBy("query_id").agg(
        F.expr("transform(array_sort(collect_list(struct(m, arr))), x -> x.arr)").alias(
            "dt"
        )
    )

    adc = F.expr(
        " + ".join(f"element_at(element_at(dt, {m + 1}), code_{m} + 1)" for m in range(PQ_M))
    )
    # only scalar columns travel through the rank window: the raw
    # vector, its norm, the dt arrays, and the code columns stayed in
    # the shuffled row before (code-review r7 — ~800 extra bytes per
    # candidate row, defeating the "search scans codes, never raw
    # vectors" claim); the bounded top-k joins the vectors back from
    # the pinned encode table for the exact rescore
    scored = (
        enc.crossJoin(F.broadcast(qdt))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "label", adc.alias("approx_dist"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .join(enc.select("vec_id", "v", "nv"), "vec_id")
    )
    cos = _dot("v", "qv") / (F.col("nv") * F.col("nq"))
    return (
        topk.join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round("approx_dist", 8).alias("approx_dist"),
            F.round(cos, 8).alias("score"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics of the embedding collection — count,
    mean, exact p25/median/p75, min, max — the readout a vector
    pipeline consults before whitening/normalizing or diagnosing a
    collapsed dimension.

    Determinism: float sums are order-dependent, so values are scaled
    to exact 1e-6 fixed point (float32 -> double is exact; the scaled
    round is identical in both engines) and every sum/percentile runs
    on integers; only the final mean/display divisions touch doubles.
    Percentiles reuse the shared histogram read-off
    (:func:`pac_spark.operators.stats.group_percentiles_disc`) — the
    per-dim histogram is bounded by the value domain.

    Scale shape: posexplode fan-out (rows x dims) into one map-side-
    combined aggregate per output; the join of the two per-dim frames
    is dim-count-sized.
    """
    from pac_spark.operators.stats import group_percentiles_disc

    emb = catalog.load(spark, sf_dir, "embeddings").select(
        F.posexplode(_dvec("embedding")).alias("dim", "val")
    )
    fp = emb.select(
        "dim", F.round(F.col("val") * 1_000_000).cast("long").alias("v")
    )
    moments = fp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("s"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    pcts = group_percentiles_disc(fp, ["dim"], "v", pcts=(25, 50, 75)).select(
        "dim", "p25", "p50", "p75"
    )
    back = lambda c: (F.col(c).cast("double") / 1_000_000.0)  # noqa: E731
    return (
        moments.join(pcts, "dim")
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            (F.col("s").cast("double") / F.col("n").cast("double") / 1_000_000.0).alias(
                "mean_val"
            ),
            back("mn").alias("min_val"),
            back("p25").alias("p25"),
            back("p50").alias("median"),
            back("p75").alias("p75"),
            back("mx").alias("max_val"),
        )
        .orderBy("dim")
    )


DIM_STATS_SQL = """
WITH fp AS (
    SELECT i - 1 AS dim,
           CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
), moments AS (
    SELECT dim, COUNT(*) AS n, SUM(v) AS s, MIN(v) AS mn, MAX(v) AS mx
    FROM fp GROUP BY dim
), h AS (
    -- NULL elements are excluded like the Spark side's
    -- group_percentiles_disc (its docstring: oracles over
    -- possibly-NULL columns must state the same filter)
    SELECT dim, v, COUNT(*) AS c FROM fp WHERE v IS NOT NULL GROUP BY dim, v
), w AS (
    SELECT dim, v,
           SUM(c) OVER (PARTITION BY dim ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(c) OVER (PARTITION BY dim) AS nn
    FROM h
), pcts AS (
    SELECT dim,
           MIN(CASE WHEN cum * 100 >= 25 * nn THEN v END) AS p25,
           MIN(CASE WHEN cum * 100 >= 50 * nn THEN v END) AS p50,
           MIN(CASE WHEN cum * 100 >= 75 * nn THEN v END) AS p75
    FROM w GROUP BY dim
)
SELECT CAST(m.dim AS INT) AS dim,
       CAST(n AS BIGINT) AS n,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_val,
       CAST(mn AS DOUBLE) / 1000000.0 AS min_val,
       CAST(p25 AS DOUBLE) / 1000000.0 AS p25,
       CAST(p50 AS DOUBLE) / 1000000.0 AS median,
       CAST(p75 AS DOUBLE) / 1000000.0 AS p75,
       CAST(mx AS DOUBLE) / 1000000.0 AS max_val
FROM moments m JOIN pcts p ON m.dim = p.dim
ORDER BY dim
"""


# ---------------------------------------------------------------------------
# k-center diversity sampling (farthest-point traversal)

KCENTER_K = 8
_FP = 10**6  # embedding fixed-point scale: float -> integer micro-units


def _d2_expr(a: str, b: str) -> Column:
    """Exact integer squared L2 distance between two fixed-point
    vectors — comparisons (argmax, LEAST) never touch a float, so
    center selection is bit-deterministic at any partition count and
    identical to the oracle."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, p) -> acc + p)"
    )


def kcenter_diverse_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) traversal over the embedding
    table: start from the smallest vec_id, then repeatedly select the
    vector farthest from everything selected so far — the classic
    2-approximation to the k-center objective and the standard
    diversity-sampling / coreset-seeding pass for training data (pick
    prototypes that COVER the embedding space, where random sampling
    oversamples dense clusters).

    Exactness: embeddings become integer micro-units once; every
    distance is an exact BIGINT Σ(Δ)² (64 dims × (1.2·10⁶)² ≈ 10¹⁴,
    ample long headroom), so the argmax at each round has no float
    ties. Ties break to the smallest vec_id; exact duplicates of
    already-selected vectors (d² = 0) are never selected, so the
    trace stops early iff the space is exhausted.

    Scale shape per round: the candidate frame keeps (vec_id, v, d =
    min distance to selected centers); one broadcast of the 1-row new
    center updates d via LEAST (a map-only pass over the pinned
    frame), one max + one TakeOrdered pick the next center. K is a
    small constant (the PageRank fixed-rounds pattern); nothing ever
    collects the vectors to the driver.
    """
    from pac_spark.cache import checkpoint

    fp = F.expr(
        f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_FP}) AS BIGINT))"
    )
    emb = pin(
        catalog.load(spark, sf_dir, "embeddings").select("vec_id", fp.alias("v"))
    )
    seed = checkpoint(emb.orderBy("vec_id").limit(1))
    cur = seed.select(F.col("v").alias("cv"))
    # every round CHECKPOINTS (eager): the selection chain re-reads
    # each frame through two broadcasts per round, and un-materialized
    # lineage would fork exponentially across rounds (each reuse
    # re-evaluates the whole prefix) — the kcore/pagerank truncation
    # rule, which their per-round count() actions get implicitly
    md = checkpoint(
        emb.crossJoin(F.broadcast(cur)).select(
            "vec_id", "v", _d2_expr("v", "cv").alias("d")
        )
    )
    trace = [
        seed.select(
            F.lit(1).alias("sel_order"),
            "vec_id",
            F.lit(None).cast("long").alias("radius"),
        )
    ]
    for j in range(2, KCENTER_K + 1):
        mx = md.agg(F.max("d").alias("m"))
        pick = checkpoint(
            md.join(F.broadcast(mx), F.col("d") == F.col("m"))
            .filter(F.col("d") > 0)
            .orderBy("vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("c_id"),
                F.col("v").alias("cv"),
                F.col("d").alias("radius"),
            )
        )
        trace.append(
            pick.select(
                F.lit(j).alias("sel_order"),
                F.col("c_id").alias("vec_id"),
                "radius",
            )
        )
        # the update feeds the NEXT round's argmax — after the final
        # pick there is no next round, and the eager checkpoint would
        # materialize a full corpus-sized distance pass nothing reads
        # (code-review r7)
        if j < KCENTER_K:
            md = checkpoint(
                md.crossJoin(F.broadcast(pick.select("cv"))).select(
                    "vec_id",
                    "v",
                    F.least(F.col("d"), _d2_expr("v", "cv")).alias("d"),
                )
            )
    out = trace[0]
    for t in trace[1:]:
        out = out.unionByName(t)
    return out.orderBy("sel_order")


def KCENTER_SQL(k: int = KCENTER_K) -> str:
    """STAGED for the r7/r8 rotation (gate: tests/test_staged_specs.py)."""

    def d2(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(generate_series(1, len({a})), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
            "(acc, x) -> acc + x)"
        )

    parts = [
        f"""
e AS (
    SELECT vec_id,
           list_transform(embedding::DOUBLE[],
                          x -> CAST(ROUND(x * {_FP}) AS BIGINT)) AS v
    FROM embeddings
),
c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
md1 AS MATERIALIZED (
    SELECT e.vec_id, e.v, {d2("e.v", "c1.v")} AS d FROM e, c1
)"""
    ]
    for j in range(2, k + 1):
        parts.append(f"""
c{j} AS MATERIALIZED (
    SELECT vec_id, v, d FROM md{j - 1}
    WHERE d = (SELECT MAX(d) FROM md{j - 1}) AND d > 0
    ORDER BY vec_id LIMIT 1
),
md{j} AS MATERIALIZED (
    SELECT m.vec_id, m.v, LEAST(m.d, {d2("m.v", f"c{j}.v")}) AS d
    FROM md{j - 1} m, c{j}
)""")
    selects = ["SELECT 1 AS sel_order, vec_id, CAST(NULL AS BIGINT) AS radius FROM c1"]
    for j in range(2, k + 1):
        selects.append(
            f"SELECT {j} AS sel_order, vec_id, CAST(d AS BIGINT) AS radius FROM c{j}"
        )
    return (
        "WITH " + ",".join(parts) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY sel_order"
    )


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix of the embedding collection — one row
    per dimension pair ``i <= j`` with the unbiased-free population
    covariance — the whitening/PCA input and the collapsed-dimension
    diagnostic (a near-zero diagonal entry is a dead dimension; an
    off-diagonal near ±sqrt(var_i·var_j) is a redundant pair).

    Determinism (the ``embedding_dim_stats`` discipline): components
    quantize to exact 1e-6 fixed point, every moment is a
    decimal(38,0) sum of integer products — order-independent at any
    partition count — and the one double division happens at the
    read-off: ``cov = (n·Σxy − Σx·Σy) / (n²·10¹²)``. Rows with a
    NULL embedding or ANY NULL component are excluded whole (listwise
    deletion, stated in both engines) so every pair shares one ``n``.

    Scale shape: the pair products are a ROW-LOCAL nested transform
    (d(d+1)/2 = 2080 terms at d = 64) exploded straight into a
    map-side-combined aggregate on the 2080-key pair space — no join,
    no shuffle of row data; per-dim sums ride a posexplode of the
    same pinned quantized frame (64 keys). Past ~d = 256 the fan-out
    crosses into Gram-accumulation-by-mapInPandas territory; at this
    schema's d = 64 the declarative form keeps codegen and leaves
    AQE free.
    """
    DEC = "decimal(38,0)"
    emb = catalog.load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    q = pin(
        emb.select(
            F.expr(
                "transform(embedding,"
                " x -> cast(round(cast(x as double) * 1000000) as long))"
            ).alias("v")
        )
    )
    pair_terms = q.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(v) - 1),"
                " i -> transform(sequence(i, size(v) - 1),"
                " j -> struct(i AS i, j AS j, v[i] * v[j] AS xy))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.xy")
    sxy = pair_terms.groupBy("i", "j").agg(
        F.sum(F.col("xy").cast(DEC)).alias("sxy")
    )
    dims = pin(
        q.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(DEC)).alias("sx"),
        )
    )
    di = dims.select(
        F.col("dim").alias("i"),
        F.col("n").alias("n"),
        F.col("sx").alias("si"),
    )
    dj = dims.select(F.col("dim").alias("j"), F.col("sx").alias("sj"))
    return (
        sxy.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            F.col("n").cast("long").alias("n"),
            (
                (
                    F.col("n").cast(DEC) * F.col("sxy")
                    - F.col("si") * F.col("sj")
                ).cast("double")
                / (F.col("n").cast("double") * F.col("n").cast("double"))
                / 1e12
            ).alias("cov"),
        )
        .orderBy("dim_i", "dim_j")
    )


COVARIANCE_SQL = """
WITH complete AS (
    SELECT embedding FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
q AS (
    SELECT list_transform(
               embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
           ) AS v
    FROM complete
),
pair_terms AS (
    SELECT u.i - 1 AS i, w.j - 1 AS j,
           CAST(v[u.i] AS HUGEINT) * v[w.j] AS xy
    FROM q, UNNEST(range(1, len(v) + 1)) u(i),
         UNNEST(range(u.i, len(v) + 1)) w(j)
),
sxy AS (SELECT i, j, SUM(xy) AS sxy FROM pair_terms GROUP BY i, j),
dims AS (
    SELECT u.i - 1 AS dim, COUNT(*) AS n, SUM(CAST(v[u.i] AS HUGEINT)) AS sx
    FROM q, UNNEST(range(1, len(v) + 1)) u(i)
    GROUP BY 1
)
SELECT CAST(sxy.i AS INT) AS dim_i, CAST(sxy.j AS INT) AS dim_j,
       CAST(di.n AS BIGINT) AS n,
       CAST(di.n * sxy.sxy - di.sx * dj.sx AS DOUBLE)
           / (CAST(di.n AS DOUBLE) * CAST(di.n AS DOUBLE)) / 1e12 AS cov
FROM sxy
JOIN dims di ON di.dim = sxy.i
JOIN dims dj ON dj.dim = sxy.j
ORDER BY dim_i, dim_j
"""


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of every approximate-nearest-neighbor tier
    against the exact brute-force ranking — the eval row a production
    ANN index ships with (VERDICT r10 next-#3): per (tier, query),
    how many of the true top-k the tier returned. An index whose
    recall drifts after a re-fit is broken no matter how fast it got.

    Exactness: recall is ``int_div(hits·1000, TOP_K)`` — the shared
    truncating division, no doubles; hits are a left-semi join on the
    (query_id, vec_id) pair, so scores never enter the comparison
    (rank-set recall, the standard definition). Scale shape: each
    tier's plan is its own registered operator reused verbatim
    (broadcast queries, bounded candidates); the audit adds only
    k-row-per-query joins and aggregates on top — the exact/approx
    frames are k·|queries| rows each.
    """
    from pac_spark.functions.exact import int_div

    exact = knn_bruteforce(spark, sf_dir).select("query_id", "vec_id")
    tiers = (
        ("ivf", ann_ivf_topk),
        ("lsh", ann_lsh_topk),
        ("pq", pq_topk),
    )
    out = None
    for name, fn in tiers:
        approx = fn(spark, sf_dir).select("query_id", "vec_id")
        hits = (
            approx.join(exact, ["query_id", "vec_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        per_q = (
            approx.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_returned"))
            .join(hits, "query_id", "left")
            .select(
                F.lit(name).alias("tier"),
                "query_id",
                "n_returned",
                F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
                int_div(
                    F.coalesce("n_hits", F.lit(0)) * 1000, F.lit(TOP_K)
                ).alias("recall_milli"),
            )
        )
        out = per_q if out is None else out.unionByName(per_q)
    return out.orderBy("tier", "query_id")


PCA_SCALE = 1_000_000  # iterate x in 1e-6 fixed point
PCA_ROUNDS = 10


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding collection by POWER
    ITERATION in exact integer arithmetic — the PCA/whitening step
    downstream of :func:`embedding_covariance`: per dimension the
    dominant eigenvector loading (1e-6 fixed point) plus the Rayleigh-
    style eigenvalue read-off. Float power iteration is not engine-
    portable (each matvec is an order-dependent double sum); here the
    covariance quantizes to EXACT nano-unit integers — ``trunc((n·Σxy
    − Σx·Σy) / (n²·10³))``, every step a decimal(38,0) operation — the
    start vector is all-``PCA_SCALE``, and each round computes ``y =
    A·x`` as exact integer sums then rescales ``x' = y·SCALE div
    max|y|`` with the shared truncating division, so all
    ``PCA_ROUNDS`` rounds are bit-identical in both engines (the
    PageRank discipline applied to eigensolving; no normalization
    sqrt anywhere).

    Convergence honesty: a K-round iterate separates eigenvectors at
    rate (λ2/λ1)^K, so on a near-flat spectrum (this synthetic
    corpus: λ2/λ1 ≈ 0.93-0.99) the DIRECTION is a top-eigenspace
    mixture, not the exact eigenvector — which is what whitening
    consumes anyway; the Rayleigh quotient (variance captured)
    converges quadratically and the independent numpy gate asserts
    ≥ 90% of λ1 at every fixture SF. On real embedding collections
    (spectral gaps of 2-10×) ten rounds separate fully — pinned by
    the spectral-gap crafted test.

    The DISTRIBUTED work is the moment aggregation (the same
    fan-out/aggregate as ``embedding_covariance``, one pass over the
    collection); the d×d eigensolve itself runs on the driver over the
    collected quantized matrix — legitimate because d is SCHEMA-
    bounded (d² = 4096 rows at d = 64, the bound that justifies
    dim_stats' posexplode), the exact split MLlib-style systems use
    (Gram distributed, eigensolve local). Rows with NULL embeddings /
    components are excluded whole (the covariance contract). A
    degenerate all-zero matrix raises rather than emitting a fake
    direction.
    """
    DEC = "decimal(38,0)"
    emb = catalog.load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    q = pin(
        emb.select(
            F.expr(
                "transform(embedding,"
                " x -> cast(round(cast(x as double) * 1000000) as long))"
            ).alias("v")
        )
    )
    pair_terms = q.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(v) - 1),"
                " i -> transform(sequence(0, size(v) - 1),"
                " j -> struct(i AS i, j AS j, v[i] * v[j] AS xy))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.xy")
    sxy = pair_terms.groupBy("i", "j").agg(
        F.sum(F.col("xy").cast(DEC)).alias("sxy")
    )
    dims = pin(
        q.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast(DEC)).alias("sx"),
        )
    )
    di = dims.select(F.col("dim").alias("i"), "n", F.col("sx").alias("si"))
    dj = dims.select(F.col("dim").alias("j"), F.col("sx").alias("sj"))
    num = F.col("n").cast(DEC) * F.col("sxy") - F.col("si") * F.col("sj")
    den = (F.col("n").cast(DEC) * F.col("n") * F.lit(1000)).cast(DEC)
    aq = (
        sxy.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            "i",
            "j",
            ((num - num % den) / den).cast("long").alias("a"),
        )
    )
    rows = aq.collect()  # d^2 rows, SCHEMA-bounded (see docstring)
    if not rows:
        raise ValueError("pca_top_component needs a non-empty collection")
    d = max(r["i"] for r in rows) + 1
    A = [[0] * d for _ in range(d)]
    for r in rows:
        A[r["i"]][r["j"]] = r["a"]
    x = [PCA_SCALE] * d
    m = 0
    for _ in range(PCA_ROUNDS):
        y = [sum(A[i][j] * x[j] for j in range(d)) for i in range(d)]
        m = max(abs(v) for v in y)
        if m == 0:
            raise ValueError("zero covariance matrix: no dominant direction")
        # trunc-toward-zero division, the int_div contract in python
        # ints (exact at any magnitude)
        x = [_trunc_div(v * PCA_SCALE, m) for v in y]
    eigenvalue_nano = _trunc_div(m, PCA_SCALE)
    out = [(i, x[i], eigenvalue_nano) for i in range(d)]
    return spark.createDataFrame(
        out, "dim int, loading_micro long, eigenvalue_nano long"
    ).orderBy("dim")


def _trunc_div(a: int, b: int) -> int:
    """Truncation-toward-zero integer division on python ints (``//``
    floors negatives; the engines' shared contract truncates)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def PCA_SQL() -> str:
    """Oracle: the quantized covariance in HUGEINT + the identical
    ``PCA_ROUNDS`` unrolled matvec/rescale rounds (the PageRank
    unrolled-CTE discipline; HUGEINT ``//`` truncates like the shared
    contract for these non-negative divisors after sign split)."""
    rounds = []
    for k in range(1, PCA_ROUNDS + 1):
        rounds.append(f"""
y{k} AS MATERIALIZED (
    SELECT a.i AS dim, SUM(a.a * x.xv) AS yv
    FROM aq a JOIN x{k - 1} x ON x.dim = a.j
    GROUP BY a.i
),
m{k} AS (SELECT MAX(ABS(yv)) AS m FROM y{k}),
x{k} AS MATERIALIZED (
    SELECT dim,
           CASE WHEN yv >= 0
                THEN (yv * {PCA_SCALE}) // m
                ELSE -((-yv * {PCA_SCALE}) // m) END AS xv
    FROM y{k}, m{k}
)""")
    chain = ",".join(rounds)
    return f"""
WITH complete AS (
    SELECT embedding FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
q AS (
    SELECT list_transform(
               embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
           ) AS v
    FROM complete
),
pair_terms AS (
    SELECT u.i - 1 AS i, w.j - 1 AS j,
           CAST(v[u.i] AS HUGEINT) * v[w.j] AS xy
    FROM q, UNNEST(range(1, len(v) + 1)) u(i),
         UNNEST(range(1, len(v) + 1)) w(j)
),
sxy AS (SELECT i, j, SUM(xy) AS sxy FROM pair_terms GROUP BY i, j),
dims AS (
    SELECT u.i - 1 AS dim, COUNT(*) AS n, SUM(CAST(v[u.i] AS HUGEINT)) AS sx
    FROM q, UNNEST(range(1, len(v) + 1)) u(i)
    GROUP BY 1
),
aq AS (
    SELECT sxy.i, sxy.j,
           CASE WHEN (di.n * sxy.sxy - di.sx * dj.sx) >= 0
                THEN (di.n * sxy.sxy - di.sx * dj.sx)
                     // (di.n * di.n * 1000)
                ELSE -((-(di.n * sxy.sxy - di.sx * dj.sx))
                     // (di.n * di.n * 1000)) END AS a
    FROM sxy
    JOIN dims di ON di.dim = sxy.i
    JOIN dims dj ON dj.dim = sxy.j
),
x0 AS (SELECT DISTINCT i AS dim, CAST({PCA_SCALE} AS HUGEINT) AS xv FROM aq),
{chain}
SELECT CAST(x.dim AS INT) AS dim,
       CAST(x.xv AS BIGINT) AS loading_micro,
       CAST(m.m // {PCA_SCALE} AS BIGINT) AS eigenvalue_nano
FROM x{PCA_ROUNDS} x, m{PCA_ROUNDS} m
ORDER BY dim
"""


def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between the per-label centroids of
    the embedding collection — the corpus-similarity matrix in
    embedding space (which classes/sources sit close, the signal a
    mixing/curation pass reads next to the vocabulary-based
    ``source_vocab_tv_matrix``). A near-1 off-diagonal pair is a
    candidate for merged treatment; a negative pair is genuinely
    separated.

    Exactness: cosine is SCALE-INVARIANT, so it is computed on the
    per-label component SUM vectors — never the divided means — and
    those sums are decimal(38,0) over exact 1e-6 fixed-point
    components (the embedding_dim_stats discipline,
    order-independent at any partition count). The only float ops are
    the read-off ``dot / (sqrt(n_a) · sqrt(n_b))`` — cast, sqrt,
    multiply, divide, each IEEE-correctly-rounded and bit-identical
    across engines. A zero-norm centroid yields NULL (stated in both
    engines) rather than an ANSI division error.

    Scale shape: one scan; posexplode → map-side-combined aggregate
    onto the (label × dim) key space — K·d rows for ANY collection
    size — then a broadcast self-join on dim (K² · d terms, K =
    label-space size) and a K²-row read-off. Rows with a NULL label,
    NULL embedding, or any NULL component are excluded whole
    (listwise deletion, stated in both engines).
    """
    emb = catalog.load(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull()
        & F.col("embedding").isNotNull()
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    q = emb.select(
        "label",
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 1000000) as long))"
        ).alias("v"),
    )
    sums = pin(
        q.select("label", F.posexplode("v").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum(F.col("x").cast("decimal(38,0)")).alias("s"))
    )
    da = sums.select(
        F.col("label").alias("la"), "dim", F.col("s").alias("sa")
    )
    db = sums.select(
        F.col("label").alias("lb"), "dim", F.col("s").alias("sb")
    )
    dots = (
        da.join(F.broadcast(db), "dim")
        .where(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    norms = sums.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("nrm")
    )
    na = norms.select(F.col("label").alias("la"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("lb"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "la")
        .join(F.broadcast(nb), "lb")
        .select(
            F.col("la").cast("int").alias("label_a"),
            F.col("lb").cast("int").alias("label_b"),
            F.when(
                (F.col("na") == 0) | (F.col("nb") == 0), F.lit(None)
            )
            .otherwise(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            )
            .alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


CENTROID_COSINE_SQL = """
WITH complete AS (
    SELECT label, embedding FROM embeddings
    WHERE label IS NOT NULL AND embedding IS NOT NULL
      AND len(list_filter(embedding, x -> x IS NULL)) = 0
),
q AS (
    SELECT label,
           list_transform(
               embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
           ) AS v
    FROM complete
),
sums AS (
    SELECT label, u.i - 1 AS dim, SUM(CAST(v[u.i] AS HUGEINT)) AS s
    FROM q, UNNEST(range(1, len(v) + 1)) u(i)
    GROUP BY 1, 2
),
dots AS (
    SELECT a.label AS la, b.label AS lb, SUM(a.s * b.s) AS dot
    FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
),
norms AS (SELECT label, SUM(s * s) AS nrm FROM sums GROUP BY label)
SELECT CAST(la AS INT) AS label_a, CAST(lb AS INT) AS label_b,
       CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN NULL
            ELSE CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
       END AS cosine
FROM dots
JOIN norms na ON na.label = la
JOIN norms nb ON nb.label = lb
ORDER BY label_a, label_b
"""
