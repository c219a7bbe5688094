"""Physical-plan shape assertions — the scale contract, enforced.

Correctness tests prove the numbers; these prove the *plan* is the one
that survives a 100x scale-up: filters pushed into the parquet scan,
bounded dims broadcast, pair generation never falling back to a
cartesian product. A regression here is a performance bug even when
every value still matches the oracle.
"""

from __future__ import annotations


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full_qe(df) -> str:
    return df._jdf.queryExecution().toString()


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    """Q6's predicates must appear as PushedFilters on the scan — a
    plan filtering after a full-column read is wrong at any scale."""
    from pac_spark.operators.relational import q6_forecast_revenue

    qe = _full_qe(q6_forecast_revenue(spark, sf_dir))
    assert "PushedFilters" in qe
    assert "PushedFilters: []" not in qe


def test_flagship_dim_join_broadcasts(spark, sf_dir):
    """The ticker-dim lookup (ref's N+1 HTTP loop) must be a broadcast
    hash join — the fact side streams, the dim ships once."""
    from pac_spark.operators.issues import company_issue_positions

    assert "BroadcastHashJoin" in _exec_plan(company_issue_positions(spark, sf_dir))


def test_q17_brand_filter_broadcasts(spark, sf_dir):
    from pac_spark.operators.relational import q17_small_quantity_revenue

    plan = _exec_plan(q17_small_quantity_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q4_exists_is_semi_join(spark, sf_dir):
    """The correlated EXISTS must execute as a LEFT SEMI join (one
    output row per order, no fan-out), never a cartesian product."""
    from pac_spark.operators.relational import q4_late_shipments

    plan = _exec_plan(q4_late_shipments(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """NOT EXISTS -> LeftAnti; the global-average scalar subquery is a
    1-row broadcast, not a driver-side collect."""
    from pac_spark.operators.relational import q22_idle_customers

    plan = _exec_plan(q22_idle_customers(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row avg_bal side


def test_pair_generators_never_cartesian(spark, sf_dir):
    """Every pairwise operator must generate candidates through a keyed
    join (block / shingle / band), never an unkeyed cross product."""
    from pac_spark.operators.dedup import minhash_lsh_dedup, ngram_jaccard_pairs
    from pac_spark.operators.entity_resolution import candidate_pairs
    from pac_spark.operators.similarity import embedding_similar_pairs
    from pac_spark.operators.temporal import interval_overlap_join

    for df in (
        candidate_pairs(spark, sf_dir),
        ngram_jaccard_pairs(spark, sf_dir),
        minhash_lsh_dedup(spark, sf_dir),
        embedding_similar_pairs(spark, sf_dir),
        interval_overlap_join(spark, sf_dir),
    ):
        assert "CartesianProduct" not in _exec_plan(df)


def test_curation_gate_runs_in_scan(spark, sf_dir):
    """The quality gate must reach the documents scan (survivors-only
    enter the dedup joins), the exact-keeper join must broadcast, and
    nothing may plan as a cartesian product. The sampler must be a
    single pruned scan — no shuffle at all before its final sort."""
    from pac_spark.operators.curation import corpus_curation, stratified_sample

    plan = _exec_plan(corpus_curation(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # single text scan in the curation branch: quality stats and the
    # content hash are fused, so no O(N) keeper list is ever joined —
    # the keeper filter is a window over the gated frame
    assert "Window" in plan
    assert plan.count("FileScan parquet") >= 2  # curation scan + shingle scan
    sample_plan = _exec_plan(stratified_sample(spark, sf_dir))
    assert "Exchange hashpartitioning" not in sample_plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" in sample_plan


def test_token_budget_avoids_big_frame_sort(spark, sf_dir):
    """The mix keeps fully-funded quality bins through a broadcast
    semi-join; window sorts touch only the tiny bin aggregate and the
    per-language boundary-bin docs — never the full stats frame."""
    from pac_spark.operators.curation import token_budget_mix

    plan = _exec_plan(token_budget_mix(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan
    # three Window operators, all per-language over bounded inputs: the
    # bin running-sum planned once per consuming branch (tiny bin
    # frame, twice) + the boundary-bin doc resolution. A naive
    # implementation would instead show one Window directly over the
    # full documents scan.
    assert plan.count("Window [sum") == 3


def test_bucketed_join_query_exchange_free_join(spark, sf_dir):
    """The registered bucketed-layout query must plan its fact-to-fact
    join WITHOUT an exchange on either side (bucket metadata consumed);
    the only hash exchange is the final per-priority aggregate.
    Broadcast is disabled so exchange-absence is a bucketing effect."""
    from pac_spark.operators.scale import bucketed_orders_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _exec_plan(bucketed_orders_join(spark, sf_dir))
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount" in plan
        assert plan.count("Exchange hashpartitioning") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_quantiles_no_whole_language_task(spark, sf_dir):
    """lang_quality_quantiles must never hand one task a whole
    language: no grouped-pandas stage, and every Window partitions by
    (lang, qbin[, stat]) over pre-aggregated score counts — the only
    doc-level operation is the map-side-combined groupBy (VERDICT r3
    #2)."""
    import re

    from pac_spark.operators.text import lang_quality_quantiles

    plan = _exec_plan(lang_quality_quantiles(spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in plan
    # every window spec must carry qbin in its partition key — a
    # windowspecdefinition(lang#N, ...) without qbin would mean a
    # per-language sort crept back in
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected Window operators in the quantiles plan"
    for spec in specs:
        assert "qbin" in spec, f"window partitioned by language only: {spec}"


def test_vocab_topn_uses_take_ordered(spark, sf_dir):
    """Vocabulary induction's top-N must plan as TakeOrderedAndProject
    (per-partition heaps) over a map-side-combined aggregate — never a
    global sort of the full term table."""
    from pac_spark.operators.text import vocab_top_terms

    plan = _exec_plan(vocab_top_terms(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan


def test_knn_query_side_broadcasts(spark, sf_dir):
    """Brute-force kNN is a broadcast of the (tiny) query set against a
    linear scan — BroadcastNestedLoopJoin is the intended shape here."""
    from pac_spark.operators.similarity import knn_bruteforce

    assert "BroadcastNestedLoopJoin" in _exec_plan(knn_bruteforce(spark, sf_dir))


def test_topk_uses_take_ordered(spark, sf_dir):
    """orderBy + limit must plan as TakeOrderedAndProject (per-partition
    heap), never a full global sort followed by limit."""
    from pac_spark.operators.relational import q3_shipping_priority

    assert "TakeOrderedAndProject" in _exec_plan(q3_shipping_priority(spark, sf_dir))


def test_no_persisted_rdds_leak_across_queries(spark, sf_dir):
    """Every pin()/checkpoint() an operator takes must be released by
    the registry's between-query sweep: after a cache-heavy query's
    result is collected and the next query begins, no persistent RDDs
    may remain (VERDICT r2 #4)."""
    from pac_spark.cache import release_caches
    from pac_spark.plans.registry import queries

    qs = queries()
    release_caches(all_generations=True)
    spark.catalog.clearCache()
    base = len(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    # er_approved pins the consolidation output AND runs connected
    # components (checkpoints); ngram pins the shingle rows
    for name in ("er_approved", "ngram_jaccard_pairs"):
        assert qs[name](spark, sf_dir).count() > 0
        assert len(dict(spark.sparkContext._jsc.getPersistentRDDs())) > base
    release_caches(all_generations=True)
    assert len(dict(spark.sparkContext._jsc.getPersistentRDDs())) == base


def test_scrub_and_repetition_are_single_scan_projections(spark, sf_dir):
    """The per-document scrub and repetition operators must stay pure
    codegen projections: the only Exchange allowed is the final
    presentation orderBy (rangepartitioning) — no aggregation shuffle,
    no join, no Python boundary."""
    from pac_spark.operators.scrub import pii_scrub_docs
    from pac_spark.operators.text import doc_repetition_signals

    for fn in (pii_scrub_docs, doc_repetition_signals):
        plan = _exec_plan(fn(spark, sf_dir))
        assert plan.count("Exchange") == 1, plan
        assert "rangepartitioning" in plan
        assert "HashAggregate" not in plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_streaming_admission_static_joins_broadcast(spark, sf_dir):
    """The admission stream's two static joins (band index, historical
    shingle sets) must carry broadcast hints and the plan must be a
    legal stream: exactly one stateful aggregation, no stream-side
    shuffle-inducing operator before it."""
    from pac_spark.streaming.stream_exec import admission_stream_plan

    out = admission_stream_plan(spark, sf_dir)
    assert out.isStreaming
    # optimized/physical plans require writeStream.start(); the
    # analyzed plan is available and carries the resolved hints
    logical = out._jdf.queryExecution().analyzed().toString()
    assert logical.lower().count("broadcast") >= 2, logical
    # exactly one STREAMING aggregate ("~"-prefixed operators are on
    # the stream side; the static index's own groupBy doesn't count)
    assert logical.count("~Aggregate") == 1, logical


def test_queued_operators_plan_shapes(spark, sf_dir):
    """Queued-spec operators keep the plans that survive scale: no
    cartesian products anywhere; the SCD2 diff is a single full-outer
    sort-merge join; cohort retention never materializes per-user
    event lists (no collect_list); profiling is ONE aggregation pass
    plus the unpivot."""
    from pac_spark.operators.graph import pagerank_trade_graph
    from pac_spark.operators.profile import profile_orders
    from pac_spark.operators.relational import (
        basket_part_pairs,
        cohort_retention,
        event_transition_matrix,
    )
    from pac_spark.operators.scale import key_skew_report
    from pac_spark.operators.scd import scd2_customer_diff
    from pac_spark.operators.temporal import funnel_view_click_purchase

    plans = {}
    for fn in (
        pagerank_trade_graph,
        profile_orders,
        cohort_retention,
        scd2_customer_diff,
        funnel_view_click_purchase,
        event_transition_matrix,
        basket_part_pairs,
        key_skew_report,
    ):
        plans[fn.__name__] = _exec_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plans[fn.__name__], fn.__name__

    scd_plan = plans["scd2_customer_diff"]
    assert scd_plan.count("SortMergeJoin") == 1, scd_plan
    assert "FullOuter" in scd_plan, scd_plan

    assert "collect_list" not in plans["cohort_retention"]


def test_rowlocal_signature_paths_zero_exchange_before_banding(spark, sf_dir):
    """The r5 dedup rewiring's contract: MinHash signatures + band keys
    are row-local projections over the pinned set arrays, so the ONLY
    exchanges in minhash_lsh_dedup are the band-bucket groupBy, the
    candidate distinct, the rescoring joins, and the output sort — the
    explode+groupBy signature shuffle must never reappear. Counted
    coarsely: the full plan stays under 6 exchanges (it was 7+ with the
    grouped signature path) and contains no aggregate keyed on doc_id
    before banding (the signature groupBy's fingerprint)."""
    from pac_spark.operators.dedup import minhash_lsh_dedup, minhash_signatures

    sig_plan = _exec_plan(minhash_signatures(spark, sf_dir))
    # the signatures query itself is groupBy-free: scan -> project -> sort
    assert "HashAggregate" not in sig_plan and "ObjectHashAggregate" not in sig_plan

    lsh_plan = _exec_plan(minhash_lsh_dedup(spark, sf_dir))
    assert lsh_plan.count("Exchange") <= 6, lsh_plan.count("Exchange")


def test_ivf_assignment_is_rowlocal_broadcast(spark, sf_dir):
    """ann_ivf_topk's full-corpus list assignment must be a fold over
    the broadcast centroid array — a BroadcastNestedLoopJoin of the
    1-row array frame, never an exchange of the corpus keyed for a
    join, and never a CartesianProduct."""
    from pac_spark.operators.similarity import ann_ivf_topk

    plan = _exec_plan(ann_ivf_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_window_distribution_two_phase(spark, sf_dir):
    """The low-cardinality-group positional stats must run the
    two-phase shape: a local top-k window keyed on (class, input
    partition id) before any whole-class window, so no task ever holds
    a fifth of the table (the single-task-per-group shape this engine
    rejects — same discipline as lang_quality_quantiles)."""
    from pac_spark.operators.relational import window_distribution_stats

    plan = _exec_plan(window_distribution_stats(spark, sf_dir))
    assert "_pid" in plan, "local pre-ranking phase missing from plan"
    assert plan.index("_pid") < plan.rindex("Window"), plan


def test_cms_sketch_broadcasts_and_never_cartesian(spark, sf_dir):
    """The sketch is bounded (depth x width rows) so the estimate join
    must broadcast it; nothing in the plan may fall back to a
    cartesian product."""
    from pac_spark.operators.sketch import cms_user_heavy_hitters

    plan = _exec_plan(cms_user_heavy_hitters(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_encoding_is_rowlocal_broadcast(spark, sf_dir):
    """PQ encoding folds each vector against the broadcast codebook
    arrays (BroadcastNestedLoopJoin of 1-row frames) — never an
    exchange of the corpus keyed for the codebooks, never cartesian."""
    from pac_spark.operators.similarity import pq_topk

    plan = _exec_plan(pq_topk(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_bloom_probe_filters_before_the_join_shuffle(spark, sf_dir):
    """The bloom predicate must evaluate at the fact scan stage —
    BELOW the join's exchange in the physical tree — so non-joining
    rows are dropped before they are hashed/serialized. In the printed
    plan (root first, scans last) the xxhash64 probe filter therefore
    appears AFTER the last Exchange above it."""
    from pac_spark.operators.scale import bloom_pruned_orders_join

    plan = _exec_plan(bloom_pruned_orders_join(spark, sf_dir))
    assert "xxhash64" in plan, "bloom probe missing from plan"
    probe_at = plan.index("xxhash64")
    assert "Exchange" in plan[:probe_at], (
        "no exchange above the probe — the filter should sit on the "
        "scan side of the join shuffle\n" + plan
    )


def test_gapfill_grid_is_generated_not_joined(spark, sf_dir):
    """The hourly grid comes from sequence()+explode of the per-user
    span frame — the plan must contain a Generate (explode) and no
    cartesian product against any calendar table."""
    from pac_spark.operators.temporal import timeseries_gapfill_hourly

    plan = _exec_plan(timeseries_gapfill_hourly(spark, sf_dir))
    assert "Generate" in plan and "sequence" in plan
    assert "CartesianProduct" not in plan


def test_rfm_boundaries_broadcast(spark, sf_dir):
    """Quartile-boundary frames are 1-row — the scoring joins must be
    broadcast nested loops, never a shuffle keyed on a constant."""
    from pac_spark.operators.stats import rfm_customer_segments

    plan = _exec_plan(rfm_customer_segments(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangle_closure_broadcasts(spark, sf_dir):
    """Triangle enumeration must close via broadcast joins of the
    bounded top-K edge frame — never a shuffle that grows with the
    corpus — and the edge cut must be TakeOrdered, not a global sort."""
    from pac_spark.operators.graph import triangle_top_parts

    plan = _exec_plan(triangle_top_parts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ohlc_single_data_shuffle(spark, sf_dir):
    """The collapsing groupBy must reuse the window's hash exchange:
    exactly one hash exchange in the whole plan (the only other
    exchange is the presentation range sort)."""
    from pac_spark.operators.temporal import ohlc_bars_hourly

    plan = _exec_plan(ohlc_bars_hourly(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_welch_single_shuffle_no_join(spark, sf_dir):
    """Both arms' moments come from conditional aggregation in one
    groupBy — a per-arm join would double-scan and co-shuffle."""
    from pac_spark.operators.stats import welch_ab_value_by_hour

    plan = _exec_plan(welch_ab_value_by_hour(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_winsorize_bounds_broadcast_no_second_scan(spark, sf_dir):
    """The clip bounds must broadcast onto the histogram, and the
    plan must scan the fact table exactly once (everything after the
    histogram is histogram-sized)."""
    from pac_spark.operators.stats import winsorized_price_stats_by_flag

    plan = _exec_plan(winsorized_price_stats_by_flag(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the histogram is pinned and BOTH consumers (bounds + clip agg)
    # read the cache — the raw scan happens once at runtime even
    # though the plan text prints the lineage under each branch
    assert "InMemoryTableScan" in plan


def test_seasonal_baseline_broadcasts_single_scan(spark, sf_dir):
    from pac_spark.operators.stats import seasonal_anomaly_days

    plan = _exec_plan(seasonal_anomaly_days(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # pinned per-day frame reused


def test_chi2_candidate_cut_is_take_ordered(spark, sf_dir):
    from pac_spark.operators.text import chi2_terms_by_source

    plan = _exec_plan(chi2_terms_by_source(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_two_phase_prefix_sum_plan_shape(spark):
    """global_running_sums must never move the DATA through a single
    partition: the in-bucket running sums are hash-partitioned windows,
    the only SinglePartition exchange is over per-bucket TOTALS
    (one row per bucket), and the offsets come back via broadcast."""
    from pyspark.sql import functions as F

    from pac_spark.functions.prefix import global_running_sums

    df = spark.range(1000).select(
        F.col("id").alias("t"), (F.col("id") % 7).alias("v")
    )
    out = global_running_sums(df, "t", ["v"], bucket=(F.col("t") / 100).cast("long"))
    plan = _exec_plan(out)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") == 1
    # the single-partition window's input is the per-bucket aggregate,
    # i.e. a HashAggregate sits between the data and that exchange
    single = plan.split("Exchange SinglePartition")[1]
    assert "HashAggregate" in single.split("Exchange")[0] or "HashAggregate" in single


def test_peak_concurrency_pins_shared_frames(spark, sf_dir):
    """The sessionization scan feeds two prefix-sum consumers and the
    candidate frame feeds max + argmax — both must come from cache
    (the plan text re-prints cached lineage per branch, so the runtime
    dedup is asserted via InMemoryTableScan presence, same convention
    as test_winsorize_bounds_broadcast_no_second_scan)."""
    from pac_spark.operators.temporal import peak_concurrent_sessions

    plan = _exec_plan(peak_concurrent_sessions(spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_cut_is_take_ordered(spark, sf_dir):
    """The top-k cut must be TakeOrderedAndProject (per-partition
    heaps); df and corpus totals must arrive via broadcast; the only
    nested-loop join allowed is the 1-row corpus-totals cross."""
    from pac_spark.operators.text import bm25_topk_docs

    plan = _exec_plan(bm25_topk_docs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_session_paths_cut_is_take_ordered(spark, sf_dir):
    from pac_spark.operators.temporal import top_session_paths

    plan = _exec_plan(top_session_paths(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_two_hop_anchors_broadcast(spark, sf_dir):
    """The ego expansion must be anchor-filtered via broadcast joins —
    the mid-node join must never shuffle the whole edge set twice."""
    from pac_spark.operators.graph import two_hop_reach_top_customers

    plan = _exec_plan(two_hop_reach_top_customers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_daily_users_single_partition_windows_are_day_sized(spark, sf_dir):
    """Both unpartitioned windows in the growth accounting run over
    day-level aggregates: each must sit above a HashAggregate, never
    directly over the event scan."""
    from pac_spark.operators.relational import daily_user_accounting

    plan = _exec_plan(daily_user_accounting(spark, sf_dir))
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        assert "HashAggregate" in chunk


def test_skyline_single_partition_is_cost_group_sized(spark, sf_dir):
    """The only single-partition window allowed is the prefix helper's
    bucket-offsets pass; the supplier frame itself must come from
    cache for its two consumers."""
    from pac_spark.operators.relational import skyline_suppliers

    plan = _exec_plan(skyline_suppliers(spark, sf_dir))
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    # the claim itself: a naive unpartitioned running-max over the
    # data-sized supplier frame would add SinglePartition exchanges
    # whose input is NOT an aggregate (code-review r6 #6); cached
    # lineage reprints per consumer, so count per cached branch
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        assert "HashAggregate" in chunk


def test_hll_register_aggregate_is_map_side_combined(spark, sf_dir):
    """The sketch must leave the map side as (group, register) maxima
    — two-level HashAggregate, no window, no join before the final
    dim-sized combine."""
    from pac_spark.operators.sketch import hll_distinct_customers_by_priority

    plan = _exec_plan(hll_distinct_customers_by_priority(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_allocation_everything_after_fact_aggregate_is_tiny(spark, sf_dir):
    """The ranking window runs over the nation-sized frame; scalar
    totals broadcast (BroadcastNestedLoopJoin on 1-row frames is the
    sanctioned shape)."""
    from pac_spark.operators.stats import budget_allocation_by_nation

    plan = _exec_plan(budget_allocation_by_nation(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_spatial_radius_join_is_equi_join_on_cells(spark, sf_dir):
    """The radius self-join must be a hash/merge EQUI-join on the
    grid-cell keys — the whole point of the 3x3 stencil is that no
    CartesianProduct or nested-loop appears — and the stencil explode
    is a fixed fan-out Generate, not a data-sized blow-up."""
    from pac_spark.operators.spatial import spatial_customer_neighbors

    plan = _exec_plan(spatial_customer_neighbors(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_quantile_normalize_no_global_data_window(spark, sf_dir):
    """The global order statistics must come from the two-phase prefix
    scan: the only SinglePartition exchanges feed bucket-total /
    corpus-total aggregates (tiny frames), never the per-doc data, and
    the position read-off plus offset join are hash/broadcast joins —
    no cartesian."""
    from pac_spark.operators.text import quantile_normalized_quality

    plan = _exec_plan(quantile_normalized_quality(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        assert "HashAggregate" in chunk.split("Exchange")[0] or "HashAggregate" in chunk


def test_epoch_interleave_no_global_data_window(spark, sf_dir):
    """The dense epoch rank must come from the two-phase prefix scan:
    SinglePartition exchanges may only feed aggregate-sized frames
    (the per-within_pos totals), never the per-doc data."""
    from pac_spark.operators.curation import epoch_interleave_positions

    plan = _exec_plan(epoch_interleave_positions(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        assert "HashAggregate" in chunk.split("Exchange")[0] or "HashAggregate" in chunk


def test_user_growth_accounting_plan_shape(spark, sf_dir):
    """Growth accounting is ONE scan of events (the churn markers are
    emitted by the same windowed rows via explode — no second
    scan/distinct branch and no day-axis outer join), with no
    cartesian product and a bounded exchange count (distinct +
    user window + day agg + output sort)."""
    from pac_spark.operators.relational import user_growth_accounting
    from tests.test_plans import _exec_plan

    plan = _exec_plan(user_growth_accounting(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 5, plan.count("Exchange")


def test_priority_sample_plan_shape(spark, sf_dir):
    """The rn <= k+1 filter must compile to WindowGroupLimit (partial
    per-partition top-(k+1) heaps BEFORE the source shuffle — the sort
    never sees the corpus), and the two source-sized reduction frames
    join by broadcast."""
    from pac_spark.operators.curation import priority_sample_docs
    from tests.test_plans import _exec_plan

    plan = _exec_plan(priority_sample_docs(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 2, plan.count("BroadcastHashJoin")


def test_prefix_filter_plan_and_index_reduction(spark, sf_dir):
    """The prefix tier joins candidates (no cartesian product), and
    the indexed prefix really is the ~(1-tau) fraction: at tau = 0.8
    the prefix rows are under 35% of the full shingle rows."""
    from pac_spark.operators.dedup import _doc_shingles, prefix_filter_neardup_pairs
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W
    from pac_spark.functions.exact import int_div
    from tests.test_plans import _exec_plan

    plan = _exec_plan(prefix_filter_neardup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan

    sh = _doc_shingles(spark, sf_dir)
    total = sh.count()
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "shingle")
    p = (
        F.col("n_shingles")
        - int_div(F.lit(4) * F.col("n_shingles") + F.lit(4), F.lit(5))
        + F.lit(1)
    )
    n_prefix = (
        sh.join(df_tab, "shingle")
        .select("doc_id", "n_shingles", F.row_number().over(w).alias("pos"), p.alias("p"))
        .filter(F.col("pos") <= F.col("p"))
        .count()
    )
    assert n_prefix < 0.35 * total, (n_prefix, total)


def test_plan_audit_counters_on_known_plans(spark, sf_dir):
    """The audit module's counters agree with the ad-hoc grep
    assertions above on plans whose shape is already pinned, and the
    four newest staged operators get their scale budgets enforced
    through it."""
    import re

    from pac_spark.operators.curation import priority_sample_docs
    from pac_spark.operators.relational import q6_forecast_revenue
    from pac_spark.operators.temporal import (
        conversion_latency_by_hour,
        user_daily_features,
    )
    from pac_spark.operators.text import phrase_match_docs
    from pac_spark.operators.stats import weighted_percentiles_price_by_flag
    from pac_spark.plans.audit import (
        _NODE_NAME,
        _split_cached_subtrees,
        assert_scale_legal,
        plan_audit,
    )

    q6 = plan_audit(q6_forecast_revenue(spark, sf_dir))
    assert q6.scans == 1 and q6.cartesian_products == 0
    assert q6.pushed_filters  # same claim as test_q6_filters_reach_parquet_scan

    ps = assert_scale_legal(
        priority_sample_docs(spark, sf_dir), require_window_group_limit=True
    )
    assert ps.broadcast_joins == 2

    # one corpus pass each: feature matrix, weighted percentiles
    assert_scale_legal(user_daily_features(spark, sf_dir), max_scans=1,
                       max_exchanges=3)
    assert_scale_legal(weighted_percentiles_price_by_flag(spark, sf_dir),
                       max_scans=1, max_exchanges=4)
    # phrase match: the pinned posting frame is the ONE corpus scan for
    # any phrase length m (every per-word branch reads the cache), and
    # the query-word filter runs inside the pin's build, below any
    # exchange — the words are selected before the shuffle. The filter
    # is on a posexplode output, so it can never reach a parquet
    # footer: PushedFilters is not the invariant here.
    pm = phrase_match_docs(spark, sf_dir)
    assert_scale_legal(pm, max_scans=1)
    _, builds = _split_cached_subtrees(_exec_plan(pm))
    assert builds, "posting frame is no longer pinned"
    for build in builds.values():
        nodes = [
            (m.group(1), line)
            for line in build.splitlines()
            if (m := _NODE_NAME.match(line))
        ]
        assert any(
            name == "Filter" and re.search(r"\btok#\d+", line)
            for name, line in nodes
        ), f"no word filter in the posting build:\n{build}"
        assert not any("Exchange" in name for name, _ in nodes), (
            f"shuffle inside the posting build:\n{build}"
        )
    # latency percentiles: asof window + histogram — bounded exchanges
    assert_scale_legal(conversion_latency_by_hour(spark, sf_dir),
                       max_scans=1, max_exchanges=4)


def test_plan_audit_skips_cached_build_plans(spark, sf_dir):
    """A pinned frame's stored build plan (rendered under
    InMemoryTableScan) is NOT re-executed by the consuming query — the
    auditor must not bill its FileScan/Exchange nodes to every cached
    read, or a correctly-pinned multi-consumer plan reads as a scan
    storm (plan-audit campaign r8: prefix_filter_neardup_pairs showed
    6 scans for 1 real one)."""
    from pac_spark import catalog
    from pac_spark.cache import pin, release_caches
    from pac_spark.plans.audit import plan_audit
    from pyspark.sql import functions as F

    try:
        nat = pin(
            catalog.load(spark, sf_dir, "nation").groupBy("n_regionkey").agg(
                F.count("*").alias("n")
            )
        )
        # consume the pinned frame THREE times in one query
        df = (
            nat.unionAll(nat)
            .unionAll(nat)
            .groupBy("n_regionkey")
            .agg(F.sum("n").alias("n"))
        )
        df.count()
        a = plan_audit(df)
        # the pin's build scan bills ONCE (not zero — the build IS a
        # corpus pass — and not once per read site: the three cached
        # reads re-alias the same relation with fresh expression ids)
        assert a.scans == 1, a
        # and the build's shuffle is similarly billed at most once
        assert a.exchanges <= 2, a
    finally:
        release_caches(all_generations=True)


def test_rfm_no_global_data_window(spark, sf_dir):
    """The monetary quartile boundaries ride the two-phase prefix scan
    (code-review r7): lifetime-cents histograms are ~|customers| rows,
    so SinglePartition exchanges may only feed aggregate-sized frames
    (bucket totals / boundary read-offs), never a raw histogram
    window."""
    from pac_spark.operators.stats import rfm_customer_segments

    plan = _exec_plan(rfm_customer_segments(spark, sf_dir))
    assert "CartesianProduct" not in plan
    for chunk in plan.split("Exchange SinglePartition")[1:]:
        head = chunk.split("Exchange")[0]
        assert "HashAggregate" in head or "HashAggregate" in chunk


def test_r11_new_ops_scale_legal(spark, sf_dir):
    """Plan-shape pins for the r11-new staged operators: no cartesian
    products anywhere, scan/exchange budgets that hold the stated
    scale stories, pushdown where the story depends on it."""
    from pac_spark.operators.curation import corpus_split_assignment
    from pac_spark.operators.graph import clustering_coeff_parts
    from pac_spark.operators.relational import open_orders_daily
    from pac_spark.operators.sketch import cms_daily_heavy_hitters
    from pac_spark.operators.similarity import embedding_covariance
    from pac_spark.operators.temporal import (
        attribution_position_weighted,
        interarrival_stats_by_type,
    )
    from pac_spark.operators.text import (
        bigram_fluency_score,
        heaps_vocab_growth,
        oov_rate_docs,
        source_vocab_tv_matrix,
    )
    from pac_spark.plans.audit import assert_scale_legal

    # row-local hash + one groupBy (+ the promised output sort)
    assert_scale_legal(
        corpus_split_assignment(spark, sf_dir), max_scans=1, max_exchanges=2
    )
    # one tokenize (pinned, billed once) + three checkpoint aggregates
    assert_scale_legal(heaps_vocab_growth(spark, sf_dir), max_scans=2)
    # K-row vocab broadcast onto the token stream; one per-doc shuffle
    oov = assert_scale_legal(oov_rate_docs(spark, sf_dir), max_scans=1)
    if oov.broadcast_joins == 0:
        raise AssertionError(f"vocab join must broadcast: {oov}")
    assert_scale_legal(source_vocab_tv_matrix(spark, sf_dir), max_scans=1)
    assert_scale_legal(bigram_fluency_score(spark, sf_dir), max_scans=1)
    # user-keyed lag + one aggregate + the histogram pass
    assert_scale_legal(
        interarrival_stats_by_type(spark, sf_dir), max_scans=1
    )
    # 3 scans is the MEASURED optimum, not an oversight: pinning the
    # scored frame cut the plan to 2 scans/5 exchanges but ran
    # 1.07-1.22x slower in the interleaved A/B at two scale points
    # (decision record in the operator docstring) — the cap exists to
    # catch regression past the measured shape
    assert_scale_legal(
        attribution_position_weighted(spark, sf_dir),
        max_scans=3,
        max_exchanges=9,
    )
    assert_scale_legal(clustering_coeff_parts(spark, sf_dir), max_scans=1)
    assert_scale_legal(embedding_covariance(spark, sf_dir), max_scans=1)
    assert_scale_legal(open_orders_daily(spark, sf_dir), max_scans=2)
    # per-day candidates must rank through WindowGroupLimit heaps
    assert_scale_legal(
        cms_daily_heavy_hitters(spark, sf_dir),
        require_window_group_limit=True,
    )


def test_hits_scale_legal(spark, sf_dir):
    """The HITS read-off plan: the per-round checkpoints cut lineage,
    so the final assembly must be checkpoint-scan + union + sort only
    — no parquet re-scan, no cartesian product. (The in-loop plans are
    the pagerank shape: equi-joins + scalar broadcasts; the audit on
    the returned frame pins that no round leaked an un-checkpointed
    crossJoin chain into the read-off.)"""
    from pac_spark.operators.graph import hits_hub_authority
    from pac_spark.plans.audit import assert_scale_legal

    assert_scale_legal(hits_hub_authority(spark, sf_dir), max_scans=0)


def test_doc_surprisal_scale_legal(spark, sf_dir):
    """One tokenize scan; the pinned per-(doc, term) frame feeds both
    the tf derivation and the re-join (no second corpus pass), and the
    corpus total rides a broadcast — the unigram_prob_score shape."""
    from pac_spark.operators.text import doc_surprisal_octaves
    from pac_spark.plans.audit import assert_scale_legal

    a = assert_scale_legal(doc_surprisal_octaves(spark, sf_dir), max_scans=1)
    if a.broadcast_joins == 0:
        raise AssertionError(f"corpus total must broadcast: {a}")


def test_label_centroid_cosine_scale_legal(spark, sf_dir):
    """One scan; the (label x dim) sums frame is pinned (it feeds the
    dots self-join twice AND the norms), and the self-join + norm
    joins all broadcast — the K-sized frames never shuffle the
    collection."""
    from pac_spark.operators.similarity import label_centroid_cosine
    from pac_spark.plans.audit import assert_scale_legal

    a = assert_scale_legal(label_centroid_cosine(spark, sf_dir), max_scans=1)
    if a.broadcast_joins < 3:
        raise AssertionError(f"centroid joins must broadcast: {a}")


def test_ppr_scale_legal(spark, sf_dir):
    """The PPR read-off: per-round checkpoints cut lineage, so the
    final frame must be checkpoint-scan + sort only — no parquet
    re-scan, no cartesian product."""
    from pac_spark.operators.graph import ppr_from_hub
    from pac_spark.plans.audit import assert_scale_legal

    assert_scale_legal(ppr_from_hub(spark, sf_dir), max_scans=0)


def test_hyperball_scale_legal(spark, sf_dir):
    """The HyperBall read-off: per-round checkpoints mean the final
    plan is K+1 readout aggregates over checkpoint scans + the 1-row
    final broadcast — no parquet re-scan, no cartesian product."""
    from pac_spark.operators.graph import hyperball_reach_profile
    from pac_spark.plans.audit import assert_scale_legal

    assert_scale_legal(hyperball_reach_profile(spark, sf_dir), max_scans=0)


def test_harmonic_centrality_scale_legal(spark, sf_dir):
    """The harmonic read-off: K+1 node-sized estimate frames joined on
    node over checkpoint scans, TakeOrderedAndProject cut — no parquet
    re-scan, no cartesian product."""
    from pac_spark.operators.graph import hyperball_harmonic_centrality
    from pac_spark.plans.audit import assert_scale_legal

    assert_scale_legal(
        hyperball_harmonic_centrality(spark, sf_dir), max_scans=0
    )


def test_jackknife_scale_legal(spark, sf_dir):
    """One scan; the pinned (priority, bucket) frame feeds totals,
    replicates, and the read-off; joins back broadcast."""
    from pac_spark.operators.stats import jackknife_se_price_by_priority
    from pac_spark.plans.audit import assert_scale_legal

    a = assert_scale_legal(
        jackknife_se_price_by_priority(spark, sf_dir), max_scans=1
    )
    if a.broadcast_joins < 2:
        raise AssertionError(f"K-row joins must broadcast: {a}")


def test_langid_confusion_scale_legal(spark, sf_dir):
    """The classifier scan + one K^2 aggregate + the window over it."""
    from pac_spark.operators.text import langid_confusion_matrix
    from pac_spark.plans.audit import assert_scale_legal

    assert_scale_legal(langid_confusion_matrix(spark, sf_dir), max_scans=1)


def test_collocations_scale_legal(spark, sf_dir):
    """One tokenize scan (pinned, bigram + unigram consumers); corpus
    totals broadcast; vocab-bounded joins; TakeOrderedAndProject."""
    from pac_spark.operators.text import collocations_top_lift
    from pac_spark.plans.audit import assert_scale_legal

    a = assert_scale_legal(collocations_top_lift(spark, sf_dir), max_scans=1)
    if a.broadcast_joins < 2:
        raise AssertionError(f"corpus totals must broadcast: {a}")


def test_hrw_scale_legal(spark, sf_dir):
    """Owner assignment is pure row-local codegen: one scan, one
    map-side aggregate onto the shard space — no join, no window."""
    from pac_spark.operators.curation import hrw_shard_rebalance
    from pac_spark.plans.audit import assert_scale_legal

    assert_scale_legal(
        hrw_shard_rebalance(spark, sf_dir), max_scans=1, max_exchanges=2
    )
