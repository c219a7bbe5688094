"""True Structured Streaming execution of the windowed operators.

``readStream`` over the events parquet, watermarked event-time
aggregation, ``availableNow`` trigger draining to a memory sink. On a
cluster the same plans run unmodified against Kafka/file sources with
continuous triggers — the trigger and sink are deployment config, not
plan shape.

Registry entries built from here return the drained sink as a batch
DataFrame, so streaming operators get the same DuckDB-oracle check as
batch ones (the tumbling stream result equals the batch tumbling
result — Structured Streaming's exactly-once guarantee).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pac_spark import catalog, loops
from pac_spark.functions.exact import money_sum
from pac_spark.streaming.windows import TS_FMT, windowed_agg

__all__ = [
    "stream_events",
    "run_to_memory",
    "stream_shuffle_parts",
    "streaming_tumbling_1h",
    "streaming_sliding_1h_30m",
    "streaming_sessions_10m",
    "streaming_dedup_events",
    "streaming_enriched_by_segment",
    "streaming_purchase_click_join",
    "streaming_neardup_admission",
    "streaming_cms_heavy_hitters",
    "streaming_purchase_click_left_join",
    "STREAM_PC_LEFT_ORACLE",
]

_TS6 = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream view of the events table (schema pinned from the
    batch catalog — streaming sources never infer)."""
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # file-stream sources take a directory; glob-filter to the one table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # ts physical-type normalization is SHARED with the batch scan —
    # one definition in catalog.py so the two paths cannot drift
    return catalog.normalize_events_ts(stream)


# per-partition input-byte target for the stream partition rule below
_STREAM_PART_BYTES = 16 << 20


def stream_shuffle_parts(
    spark: SparkSession, sf_dir: str, table: str = "events"
) -> int | None:
    """Scale-adaptive shuffle-partition count for ONE streaming drain.

    Stateful streaming creates one state store per shuffle partition
    (HDFS-backed store init + commit + snapshot PER STORE PER
    micro-batch), so a partition count sized for the batch corpus is
    pure fixed overhead when the streamed source is small — and the
    overhead repeats every micro-batch, not once per query (guide
    §2.2: fewer, larger partitions; the state-store analog of the
    graph loops' measured rule). Derived from the SOURCE's on-disk
    bytes — max(4, bytes / _STREAM_PART_BYTES) capped at the
    session default — so it is scale-adaptive, not tuned to this box:
    a TB-scale source keeps the session's own setting, and the
    session default itself stays whatever the cluster set. Returns
    None (no override) when the source cannot be stat'ed — the sizing
    stat is LOCAL-FILESYSTEM-ONLY by design (ADVICE r11): on remote
    storage (s3a://, hdfs://) the os.path probe fails and the drain
    simply runs at the session default, a perf-only fallback; the
    catalog itself resolves ``{sf_dir}/{table}.parquet`` the same way
    (catalog.load), so when the probe DOES succeed it is reading the
    drain's actual source, not an unrelated file. Partition count
    cannot change any drained result: every stateful fold here is a
    per-key monoid (unit-tested both merge orders) and watermark
    semantics are partition-independent.
    """
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return None
    cur = loops.session_shuffle_parts(spark)
    if cur is None:
        return None
    return min(cur, max(4, -(-nbytes // _STREAM_PART_BYTES)))


def run_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    parts: int | None = None,
) -> DataFrame:
    """Drain a streaming plan with trigger(availableNow) into a memory
    sink and return the sink contents as a batch DataFrame. ``parts``
    (from :func:`stream_shuffle_parts`) scopes the shuffle-partition
    count — i.e. the state-store count — to the drain; the session
    setting is restored before returning."""
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, parts):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(name)


def streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregation as an actual stream: watermarked
    event-time groupBy, complete-mode drain. Result is identical to the
    batch ``tumbling_1h_by_type`` and shares its DuckDB oracle."""
    events = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    out = windowed_agg(events, "1 hour")
    return run_to_memory(spark, out, "stream_tumbling_1h", "complete", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "window_start", "event_type"
    )


def streaming_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1h/30m sliding-window aggregation as an actual stream —
    same logical plan as the batch ``sliding_1h_30m_by_type`` (each
    event lands in two overlapping windows), watermarked and drained
    complete-mode; shares the batch DuckDB oracle."""
    events = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    out = windowed_agg(events, "1 hour", "30 minutes")
    return run_to_memory(spark, out, "stream_sliding_1h_30m", "complete", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "window_start", "event_type"
    )


def streaming_sessions_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10-min gap) via ``F.session_window`` on a
    watermarked stream — Spark's native stateful session operator.

    Session *contents* match the batch gaps-and-islands form; session
    ids differ (ordinal vs start-time) so the comparable surface is
    (user, start, end, n, sum)."""
    events = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    out = (
        events.groupBy(
            F.session_window("ts", "10 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("win").getField("start"), TS_FMT).alias("session_start"),
            F.date_format(F.col("win").getField("end"), TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(spark, out, "stream_sessions_10m", "complete", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "user_id", "session_start"
    )


def streaming_enriched_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the event stream joins the
    customer dimension read as a plain batch frame, then aggregates
    hourly per market segment.

    The static side needs no watermark and holds no state — Spark
    re-resolves (and re-broadcasts) the batch relation per micro-batch,
    which is exactly how a slowly-changing dimension should meet a
    stream at scale: the dim is KBs-to-MBs broadcast to executors, the
    stream never shuffles for the join."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    cust = catalog.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            money_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win").getField("start"), TS_FMT).alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(spark, out, "stream_enriched_by_segment", "complete", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "window_start", "segment"
    )


def streaming_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join: every purchase paired with the
    same user's clicks in the preceding 30 minutes.

    Both sides are watermarked so Spark can bound the join state: a
    buffered click can be dropped once the purchase-side watermark
    passes its 30-minute relevance window — without the time-range
    condition the state would grow forever. Append mode: a joined pair
    is emitted exactly once, when both sides have arrived.
    """
    out = _purchase_click_joined(spark, sf_dir, "inner")
    return run_to_memory(spark, out, "stream_pc_join", "append", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "purchase_id", "click_id"
    )


def _purchase_click_joined(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Shared builder for the inner AND left-outer purchase←click
    interval joins: identical side projections, watermarks, and time-
    range condition, parameterized only by join type — one definition
    so the two registered streams cannot drift (code-review r7; the
    copies differed in exactly the join-type string)."""
    ev = stream_events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.date_format("p_ts", _TS6).alias("purchase_ts"),
        "click_id",
        F.date_format("c_ts", _TS6).alias("click_ts"),
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming deduplication on event_id within the
    watermark horizon (``dropDuplicatesWithinWatermark``) followed by a
    per-type count — the streaming twin of exact dedup.

    CONTRACT (decision record, SURVEY §2.9): the duplicate horizon is
    the 1-hour watermark delay — that is the STATED semantics, not an
    approximation of global dedup. ``dropDuplicatesWithinWatermark``
    keeps an event_id's state only until the watermark passes it, so
    two occurrences more than the delay apart (by event time) may BOTH
    survive; within the horizon, exactly one survives. This is the
    only dedup a stream can afford — global dedup needs unbounded
    state. The registered oracle states global DISTINCT, which
    coincides exactly when event_ids never recur beyond the horizon;
    the events fixture satisfies the stronger precondition (event_ids
    globally unique), asserted by
    ``tests/test_watermark.py::test_streaming_dedup_horizon_contract``,
    which also pins the horizon boundary on crafted multi-run data:
    an in-horizon redelivery is dropped by dedup, a beyond-horizon
    one (with a fresh event time) is re-emitted after state eviction,
    and a redelivery whose event time is behind the watermark is
    dropped as LATE DATA before dedup ever sees it.
    """
    events = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = events.dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique_events"))
    return run_to_memory(spark, out, "stream_dedup_events", "complete", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "event_type"
    )


def admission_stream_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (unstarted) streaming plan behind
    :func:`streaming_neardup_admission`, exposed so plan-shape tests
    can assert the broadcast contract on the stream's own logical plan
    rather than on a batch stand-in.

    Continual-ingestion dedup as an actual stream: newly-ingested
    documents arrive on a ``readStream``, and each is admitted only if
    it is not a near-duplicate of the standing corpus — the streaming
    twin of ``operators/dedup.py::incremental_neardup_filter``, sharing
    its oracle.

    The per-document MinHash signature is computed ROW-LOCALLY from the
    document's own shingle array (``array_min`` over per-seed md5
    transforms — no groupBy), which is what makes the plan stream
    legally: the only stateful operator is the final per-document
    aggregation. Band rows then LEFT-join the *static* historical band
    index (so documents with zero collisions still flow through and
    get admitted), collisions rescore with exact Jaccard against the
    static historical shingle sets, and ``collect_set`` dedupes
    multi-band collisions of the same (new, hist) pair.

    At 100 TB the historical index is a stored, bucketed table and a
    day's batch is small: both static joins broadcast, the stream never
    shuffles before its one keyed aggregation, and state is bounded by
    the ingest batch in flight (complete-mode drain here is a test
    harness artifact — production runs the same plan with foreachBatch
    appending admissions to the corpus and the index).
    """
    from pac_spark.cache import pin
    from pac_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        NEW_BATCH_MOD,
        _band_rows,
        _band_struct_array,
        _rowlocal_signature_cols,
        _rowlocal_signatures,
        _shingle_sets,
    )
    from pac_spark.operators.text_core import distinct_shingled

    # ---- static side: the standing corpus's band index + shingle sets
    doc_sets = pin(_shingle_sets(spark, sf_dir))
    is_hist = (F.col("doc_id") % 10) < NEW_BATCH_MOD
    hist_sets = doc_sets.filter(is_hist).select(
        F.col("doc_id").alias("hist_id"), F.col("sh").alias("sh_hist")
    )
    hist_bands = pin(
        _band_rows(_rowlocal_signatures(doc_sets.filter(is_hist))).select(
            F.col("doc_id").alias("hist_id"), "band_idx", "band_key"
        )
    )

    # ---- stream side: new batch, row-local signature + band keys
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # shingling goes through the SAME text_core.distinct_shingled the
    # stored index was built from — an inline copy (the pre-r8 shape,
    # hardcoded n=3) could silently drift the stream's band keys off
    # the index it must collide with (code-review r7)
    new = distinct_shingled(
        stream.filter((F.col("doc_id") % 10) >= NEW_BATCH_MOD).select(
            "doc_id", "lang", "source", "text"
        )
    )
    # signature + band-key encodings come from dedup.py so the stream
    # can never drift from the batch-built index it must collide with
    sigs = new.select(
        "doc_id", "lang", "source", "sh", *_rowlocal_signature_cols("sh")
    )
    banded = sigs.select(
        "doc_id",
        "lang",
        "source",
        "sh",
        F.explode_outer(_band_struct_array()).alias("band"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "sh",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
    )

    # ---- stream-static joins + rescoring + one keyed aggregation
    cands = banded.join(F.broadcast(hist_bands), ["band_idx", "band_key"], "left")
    rescored = cands.join(F.broadcast(hist_sets), "hist_id", "left")
    inter = F.size(F.array_intersect("sh", "sh_hist"))
    union = F.size("sh") + F.size("sh_hist") - inter
    is_dup = F.round(inter / union, 8) >= JACCARD_THRESHOLD
    hit = F.when(is_dup, F.col("hist_id"))
    return (
        rescored.groupBy("doc_id", "lang", "source")
        .agg(
            F.size(F.collect_set(hit)).cast("int").alias("n_dup_matches"),
            F.min(hit).alias("nearest_hist"),
        )
        .withColumn("admitted", F.col("n_dup_matches") == 0)
    )


def streaming_neardup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain :func:`admission_stream_plan` (availableNow trigger,
    complete mode) and return the admissions as a batch frame."""
    out = admission_stream_plan(spark, sf_dir)
    return run_to_memory(spark, out, "stream_neardup_admission", "complete", parts=stream_shuffle_parts(spark, sf_dir)).orderBy(
        "doc_id"
    )


def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained BY Structured Streaming: the
    cell table (`sketch.cms_build`) is itself a streaming aggregate —
    explode-to-cells then groupBy(row, col) — so every micro-batch
    merges its partial sketch into the state store exactly the way
    cluster partials merge in batch mode. That mergeability is the
    sketch's whole contract; here it runs against the real incremental
    engine rather than being assumed.

    The drained sketch then answers the identical heavy-hitters
    question as the batch row, and the ORACLE IS THE BATCH ORACLE
    (``CMS_HH_SQL``): hash equality proves a sketch grown one
    micro-batch at a time is bit-identical to one built in a single
    pass — no estimate drifts, no cell differs. Exact top-N truth
    comes from a second streaming aggregate over the same source.

    At scale this is the streaming-ingest shape: the sketch state is
    bounded (DEPTH×WIDTH cells) no matter how many events flow
    through, which is why a sketch — and not an exact per-key count —
    is what a 100 TB/day firehose can afford to keep hot.
    """
    from pac_spark.cache import pin
    from pac_spark.operators.sketch import cms_build, cms_top_report

    ev = stream_events(spark, sf_dir).select("user_id")
    parts = stream_shuffle_parts(spark, sf_dir)
    sketch = pin(
        run_to_memory(
            spark, cms_build(ev, "user_id"), "stream_cms_sketch", "complete",
            parts=parts,
        )
    )
    counts = run_to_memory(
        spark,
        ev.groupBy("user_id").agg(F.count("*").alias("n_rows")),
        "stream_cms_counts",
        "complete",
        parts=parts,
    )
    return cms_top_report(sketch, counts, "user_id")


# maturity horizon for the LEFT OUTER stream-stream join. A purchase's
# no-click NULL row is only guaranteed once the engine's LEFT-side
# state watermark passes it, and Spark derives that conservatively:
# global watermark (max event time - 1h delay) minus the OTHER side's
# allowance again. A 90-minute cutoff (delay + window) left the newest
# matured purchase withheld on this source; the safe bound is
# delay + delay + window = 60 + 60 + 30 = 150 minutes, which is what
# this constant states — keep the arithmetic and the constant in sync
# when tuning either delay or the window.
_OUTER_MATURITY_MIN = 150  # one integer, interpolated into BOTH engines
_OUTER_MATURITY = f"INTERVAL {_OUTER_MATURITY_MIN} MINUTES"


def streaming_purchase_click_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase with its
    preceding-30-minute clicks, and purchases with NO qualifying click
    emitted once with NULLs — the semantics inner joins cannot give
    (an absent match is itself a signal: an unattributed purchase).

    The outer side makes watermarks LOAD-BEARING rather than just a
    state bound: a NULL row may only be emitted when the watermark
    proves no matching click can still arrive. At stream end that
    guarantee covers only purchases older than watermark delay + join
    window, so BOTH the stream and the batch oracle restrict to that
    matured prefix — the honest comparison window; without the cutoff
    the tail's withheld NULL rows would differ from batch semantics by
    construction, not by bug.
    """
    # the cutoff scalar comes from a BATCH read of the same files (a
    # streaming frame cannot be collected). CRITICAL: it is applied to
    # the drained RESULT, never to the purchase stream — filtering the
    # stream would lower that side's own watermark (watermarks combine
    # as the min across sides), shrinking the emission horizon by
    # exactly the amount filtered and withholding the newest matured
    # NULL row again, recursively (observed live on sf0.001). The
    # anchor is LEAST(max purchase ts, max click ts): watermarks are
    # assigned AFTER the event_type filters, so the engine's global
    # watermark is driven by the earlier-finishing SIDE, not the
    # corpus max — anchoring at MAX(ts) over all events could demand
    # rows past the true NULL-emission horizon (code-review r7;
    # measured 2h25m of slack at sf0.001 where clicks stop early).
    batch_ev = catalog.load(spark, sf_dir, "events")
    side_max = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    bound = (
        batch_ev.agg(
            F.date_format(
                F.least(side_max("purchase"), side_max("click"))
                - F.expr(_OUTER_MATURITY),
                _TS6,
            ).alias("cutoff")
        )
        .collect()[0]["cutoff"]
    )
    out = _purchase_click_joined(spark, sf_dir, "left_outer").withColumn(
        "unattributed", F.col("click_id").isNull()
    )
    return (
        run_to_memory(spark, out, "stream_pc_left_join", "append", parts=stream_shuffle_parts(spark, sf_dir))
        .filter(F.col("purchase_ts") <= F.lit(bound))
        .orderBy("purchase_id", "click_id")
    )


STREAM_PC_LEFT_ORACLE = f"""
WITH mx AS (
    SELECT LEAST(
               MAX(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS TIMESTAMP) END),
               MAX(CASE WHEN event_type = 'click'
                        THEN CAST(ts AS TIMESTAMP) END)
           ) - INTERVAL {_OUTER_MATURITY_MIN} MINUTE AS cutoff
    FROM events
), p AS (
    SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
    FROM events, mx
    WHERE event_type = 'purchase' AND CAST(ts AS TIMESTAMP) <= cutoff
), c AS (
    SELECT event_id AS click_id, user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts
    FROM events WHERE event_type = 'click'
)
SELECT purchase_id,
       p.user_id,
       strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
       click_id,
       strftime(c_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       click_id IS NULL AS unattributed
FROM p LEFT JOIN c
  ON p.user_id = c.c_user
 AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
 AND c.c_ts <= p.p_ts
ORDER BY purchase_id, click_id
"""
