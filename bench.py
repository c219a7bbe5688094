"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count() forces the full plan —
scan, shuffles, aggregation) but results are not collected to the
driver, so the timing measures engine work, not driver materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the r1-r4 headline set — kept as a named subtotal so the
# round-over-round trend stays comparable after additions
CORE15 = [
    "flagship_company_positions",
    "company_issue_summary",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_rank_orders",
    "events_sessions_10m",
    "streaming_tumbling_1h",
    "er_candidate_pairs",
    "er_clusters",
    "minhash_lsh_dedup",
    "ngram_jaccard_pairs",
    "knn_bruteforce",
    "text_stats",
    "multimodal_byte_features",
]

# the r5 headline set, frozen (VERDICT r6 wrong-#1: the grand total
# stopped being a comparable series when the set grew — every
# historical set keeps its own named subtotal instead)
CORE20 = [
    "flagship_company_positions",
    "company_issue_summary",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q21_last_to_ship",
    "window_rank_orders",
    "events_sessions_10m",
    "streaming_tumbling_1h",
    "streaming_neardup_admission",
    "er_candidate_pairs",
    "er_candidate_pairs_lsh",
    "er_clusters",
    "minhash_lsh_dedup",
    "ngram_jaccard_pairs",
    "incremental_neardup_filter",
    "knn_bruteforce",
    "text_stats",
    "multimodal_byte_features",
]

# per-query family labels: the JSON emits one subtotal per family so a
# regression localizes at a glance (VERDICT r6 next-#5)
FAMILY = {
    "flagship_company_positions": "relational",
    "company_issue_summary": "relational",
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "q5_local_supplier": "relational",
    "q9_product_profit": "relational",
    "q21_last_to_ship": "relational",
    "bloom_pruned_orders_join": "relational",
    "window_rank_orders": "windows",
    "window_distribution_stats": "windows",
    "events_sessions_10m": "streaming",
    "streaming_tumbling_1h": "streaming",
    "streaming_neardup_admission": "streaming",
    "streaming_ivm_user_value": "streaming",
    "streaming_ohlc_bars": "streaming",
    "er_candidate_pairs": "er",
    "er_candidate_pairs_lsh": "er",
    "er_clusters": "er",
    "minhash_lsh_dedup": "dedup",
    "ngram_jaccard_pairs": "dedup",
    "incremental_neardup_filter": "dedup",
    "dup_span_coverage": "dedup",
    "knn_bruteforce": "llm",
    "text_stats": "llm",
    "multimodal_byte_features": "llm",
    "chi2_terms_by_source": "llm",
    "contrastive_negatives": "llm",
    "sequence_packing": "llm",
    "pagerank_trade_graph": "graph",
    "triangle_top_parts": "graph",
    "scd2_customer_diff": "analytics",
    "cms_user_heavy_hitters": "analytics",
    "ivm_nation_balance": "analytics",
    "expectations_orders": "analytics",
    "percentiles_price_by_flag": "stats",
    "rfm_customer_segments": "stats",
    "welch_ab_value_by_hour": "stats",
    "cusum_user_value_shift": "stats",
    "winsorized_price_stats_by_flag": "stats",
    "seasonal_anomaly_days": "stats",
    "trend_slope_by_type": "stats",
    "timeseries_gapfill_hourly": "temporal",
    "ohlc_bars_hourly": "temporal",
    "peak_concurrent_sessions": "temporal",
    "top_session_paths": "temporal",
    "user_activity_streaks": "temporal",
    "funnel_within_1h_view_click_purchase": "temporal",
    "ks_test_price_by_flag": "stats",
    "budget_allocation_by_nation": "stats",
    "bm25_topk_docs": "llm",
    "token_gini_by_source": "llm",
    "source_overlap_matrix": "llm",
    "two_hop_reach_top_customers": "graph",
    "daily_user_accounting": "relational",
    "skyline_suppliers": "relational",
    "streaming_user_accounting": "streaming",
    "pq_topk": "llm",
    "ann_ivf_topk": "llm",
    "embedding_dim_stats": "llm",
    "hll_distinct_customers_by_priority": "analytics",
    "daily_coverage_us": "temporal",
    "rolling_7d_distinct_users_hll": "analytics",
    "percentiles_cont_price_by_flag": "stats",
    "kmv_nation_part_overlap": "analytics",
    "association_rules_parts": "analytics",
    "item_item_similar_parts": "analytics",
    "ewma_user_value": "stats",
    "streaming_ewma_user_value": "streaming",
    "attribution_last_touch": "temporal",
    "bpe_learn_merges": "llm",
    "auc_value_predicts_purchase": "analytics",
    "decile_lift_value_purchase": "analytics",
    "kcore_parts": "graph",
    "dedup_canonical_docs": "dedup",
    "degree_assortativity": "graph",
    "table_fingerprint_by_nation": "analytics",
    "levenshtein_neardup_pairs": "dedup",
    "containment_neardup_pairs": "dedup",
    "sssp_from_hub": "graph",
    "quantile_normalized_quality": "llm",
    "streaming_bitmap_distinct_users": "streaming",
    "fd_profile_orders": "analytics",
    "time_weighted_value_by_user": "temporal",
    "ams_f2_user_activity": "analytics",
    "epoch_interleave_positions": "llm",
    "ams_join_size_orders_events": "analytics",
    "kcenter_diverse_embeddings": "llm",
    "streaming_kmv_distinct_users": "streaming",
    "cramers_v_lang_source": "llm",
    "mann_kendall_by_type": "stats",
    "acf_daily_revenue": "stats",
    "ivm_join_nation_revenue": "analytics",
    "daily_event_mix_drift": "stats",
    "bitmap_distinct_users_daily": "analytics",
    "benford_price_audit": "analytics",
    "pattern_runs_view_click_purchase": "temporal",
    "theilsen_trend_by_type": "stats",
    "k_anonymity_customer_qi": "analytics",
    "spatial_customer_neighbors": "analytics",
    "spearman_quality_tokens_by_lang": "llm",
    "conversion_latency_by_hour": "temporal",
    "user_daily_features": "temporal",
    "user_growth_accounting": "relational",
    "streaming_growth_accounting": "streaming",
    "streaming_purchase_click_left_join": "streaming",
    "streaming_twa_user_value": "streaming",
    "streaming_halflife_user_value": "streaming",
    "phrase_match_docs": "llm",
    "prefix_filter_neardup_pairs": "dedup",
    "priority_sample_docs": "llm",
    "source_budget_waterfill": "llm",
    "vocab_frequency_octaves": "llm",
    "weighted_percentiles_price_by_flag": "stats",
    "halflife_decayed_user_value": "stats",
    "lpa_communities": "graph",
    "er_consolidated": "er",
    "semantic_dedup": "llm",
}

# headline set: one representative per operator family (relational
# core, windows, streaming, ER, dedup, similarity, text, multimodal),
# plus the r4-new heavy hitters (VERDICT r4 next-#5: regressions in
# new code were invisible round-over-round without them)
BENCH_QUERIES = [
    "flagship_company_positions",
    "company_issue_summary",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "q21_last_to_ship",
    "window_rank_orders",
    "events_sessions_10m",
    "streaming_tumbling_1h",
    "streaming_neardup_admission",
    "er_candidate_pairs",
    "er_candidate_pairs_lsh",
    "er_clusters",
    "minhash_lsh_dedup",
    "ngram_jaccard_pairs",
    "incremental_neardup_filter",
    "knn_bruteforce",
    "text_stats",
    "multimodal_byte_features",
    # r6 additions (VERDICT r5 next-#5): the r5-promoted analytics
    # family had zero bench visibility — the exact blind spot that hid
    # the r4 dedup regression
    "pagerank_trade_graph",
    "scd2_customer_diff",
    "window_distribution_stats",
    "cms_user_heavy_hitters",
    # r6-new operators, benched from birth so no future round inherits
    # an invisible regression
    "bloom_pruned_orders_join",
    "percentiles_price_by_flag",
    "rfm_customer_segments",
    "timeseries_gapfill_hourly",
    "ivm_nation_balance",
    "sequence_packing",
    # r7-registered operators, benched from birth
    "welch_ab_value_by_hour",
    "cusum_user_value_shift",
    "winsorized_price_stats_by_flag",
    "seasonal_anomaly_days",
    "trend_slope_by_type",
    "ohlc_bars_hourly",
    "streaming_ohlc_bars",
    "streaming_ivm_user_value",
    "dup_span_coverage",
    "contrastive_negatives",
    "chi2_terms_by_source",
    "triangle_top_parts",
    "expectations_orders",
    # r8-registered operators, benched from birth
    "peak_concurrent_sessions",
    "top_session_paths",
    "user_activity_streaks",
    "funnel_within_1h_view_click_purchase",
    "ks_test_price_by_flag",
    "budget_allocation_by_nation",
    "bm25_topk_docs",
    "token_gini_by_source",
    "source_overlap_matrix",
    "two_hop_reach_top_customers",
    "daily_user_accounting",
    "skyline_suppliers",
    "streaming_user_accounting",
    # r8 plan-audit campaign: the similarity index builds gained
    # lineage cuts (Lloyd-loop checkpoint cadence) — benched from the
    # fix onward so the trained-index family has trend visibility
    "pq_topk",
    "ann_ivf_topk",
    # r9-registered operators, benched from birth
    "embedding_dim_stats",
    "hll_distinct_customers_by_priority",
    "daily_coverage_us",
    "rolling_7d_distinct_users_hll",
    "percentiles_cont_price_by_flag",
    "kmv_nation_part_overlap",
    "association_rules_parts",
    "item_item_similar_parts",
    "ewma_user_value",
    "streaming_ewma_user_value",
    "attribution_last_touch",
    "bpe_learn_merges",
    "auc_value_predicts_purchase",
    "decile_lift_value_purchase",
    "kcore_parts",
    "dedup_canonical_docs",
    "degree_assortativity",
    "table_fingerprint_by_nation",
    "levenshtein_neardup_pairs",
    "containment_neardup_pairs",
    "sssp_from_hub",
    "quantile_normalized_quality",
    "streaming_bitmap_distinct_users",
    "fd_profile_orders",
    "time_weighted_value_by_user",
    "ams_f2_user_activity",
    "epoch_interleave_positions",
    "ams_join_size_orders_events",
    "kcenter_diverse_embeddings",
    "streaming_kmv_distinct_users",
    "cramers_v_lang_source",
    "mann_kendall_by_type",
    "acf_daily_revenue",
    "ivm_join_nation_revenue",
    "daily_event_mix_drift",
    "bitmap_distinct_users_daily",
    "benford_price_audit",
    "pattern_runs_view_click_purchase",
    "theilsen_trend_by_type",
    "k_anonymity_customer_qi",
    "spatial_customer_neighbors",
    "spearman_quality_tokens_by_lang",
    "conversion_latency_by_hour",
    # r11 registrations, benched from birth
    "user_daily_features",
    "user_growth_accounting",
    "streaming_growth_accounting",
    "streaming_purchase_click_left_join",
    "streaming_twa_user_value",
    "streaming_halflife_user_value",
    "phrase_match_docs",
    "prefix_filter_neardup_pairs",
    "priority_sample_docs",
    "source_budget_waterfill",
    "vocab_frequency_octaves",
    "weighted_percentiles_price_by_flag",
    "halflife_decayed_user_value",
    "lpa_communities",
    # r12 additions (additions only, per the round rules): the two
    # heavy direct consumers of the connected-components loop that the
    # r12 broadcast change touches — visibility for the rows the change
    # claims to move. Never remove or rename existing entries.
    "er_consolidated",
    "semantic_dedup",
]


def compare(old_path: str, new_path: str) -> None:
    """Anchor-normalized round-over-round adjudication (VERDICT r9
    next-#3): this box's ambient speed swings ±15-70% within hours, so
    a raw per-query delta is NOT code-attributable. Both BENCH_DETAIL
    snapshots carry ``anchor_sec`` — fixed plain-Spark workloads whose
    movement is machine drift by construction — so each query's ratio
    divides by the MOST FORGIVING anchor ratio (max of cpu/scan:
    attribute as much as the anchors allow to the machine) and only a
    residual > 1.2x is flagged as a code regression. Usage:
    ``python bench.py --compare <old BENCH_DETAIL> <new BENCH_DETAIL>``
    (the old side usually via ``git show <rev>:BENCH_DETAIL.json``)."""
    with open(old_path) as fh:
        old = json.load(fh)
    with open(new_path) as fh:
        new = json.load(fh)
    a_old, a_new = old.get("anchor_sec") or {}, new.get("anchor_sec") or {}
    ratios = {
        k: a_new[k] / a_old[k]
        for k in ("cpu", "scan")
        if a_old.get(k) and a_new.get(k)
    }
    if not ratios:
        raise SystemExit(
            "one side lacks anchor_sec — anchors exist from r9 on; "
            "fall back to the same-JVM interleaved A/B recipe"
        )
    ambient = max(ratios.values())
    print(
        f"anchors old={a_old} new={a_new} ratios="
        f"{ {k: round(v, 3) for k, v in ratios.items()} } "
        f"ambient(max)={ambient:.3f}"
    )
    rows = []
    for q, t_old in (old.get("queries") or {}).items():
        t_new = (new.get("queries") or {}).get(q)
        if t_new is None or not t_old:
            continue
        raw = t_new / t_old
        rows.append((raw / ambient, raw, t_old, t_new, q))
    rows.sort(reverse=True)
    flagged = [r for r in rows if r[0] > 1.2]
    print(f"{len(rows)} comparable queries; {len(flagged)} normalized regressions > 1.2x")
    for norm, raw, t_old, t_new, q in rows[:15]:
        mark = " <-- FLAG" if norm > 1.2 else ""
        print(
            f"  {q:42s} {t_old:7.3f}s -> {t_new:7.3f}s raw {raw:5.2f}x "
            f"norm {norm:5.2f}x{mark}"
        )


def main() -> None:
    global BENCH_QUERIES
    if len(sys.argv) >= 2 and sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # diagnostic scoping: BENCH_ONLY="a,b" times just those queries —
    # for isolating whether a row's cost is the query or JVM context
    only = {q for q in os.environ.get("BENCH_ONLY", "").split(",") if q}
    if only:
        unknown = only - set(BENCH_QUERIES)
        if unknown:
            raise SystemExit(
                f"BENCH_ONLY names not in the bench set: {sorted(unknown)}"
            )
        BENCH_QUERIES = [q for q in BENCH_QUERIES if q in only]
    from pac_spark.plans.registry import queries
    from pac_spark.session import get_spark

    spark = get_spark(app_name="pac_spark_bench")
    qs = queries()
    # a renamed/dropped registry entry must fail LOUDLY, not silently
    # shrink the trend series the bench exists to keep comparable — a
    # vanished row reads as a phantom speedup (code-review r8)
    missing = [q for q in BENCH_QUERIES if q not in qs]
    if missing:
        raise SystemExit(f"BENCH_QUERIES not in the registry: {missing}")

    # warm every benched plan once on the smallest SF so per-query
    # numbers measure steady-state execution (the cluster regime),
    # not first-call codegen/JIT compilation of each plan.
    for name in BENCH_QUERIES:
        if name in qs:
            qs[name](spark, "/root/testdata/sf0.001").count()

    # drop every block the warm-up phase left behind (pinned frames,
    # checkpoints, implicit caches): timed runs must each pay their own
    # materialization, not inherit or evict each other's warm-up state
    # (the r2 bench showed ±30-360% drift on untouched queries).
    from pac_spark.cache import release_caches

    release_caches(all_generations=True)
    spark.catalog.clearCache()

    # three timed rounds, min per query: a single pass is hostage to
    # whatever JVM event (full GC, state-store teardown from an earlier
    # streaming query, block eviction) lands on it — observed swings of
    # 3x on unchanged plans, and with only two rounds both samples of a
    # query regularly land on the same disturbance. The min of three is
    # the steady-state number a cluster would see; each run still pays
    # its query's own materialization (caches are released between
    # queries). A GC hint between timed queries keeps one query's
    # garbage from billing the next query's measurement.
    timings: dict[str, float] = {}
    for _round in range(3):
        for name in BENCH_QUERIES:
            if name not in qs:
                continue
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            elapsed = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, elapsed), elapsed)
            # drain BOTH checkpoint generations: the registry's
            # one-generation deferral exists for a driver that builds
            # query N+1 before collecting N, but this bench is strictly
            # sequential — deferred blocks from an iterative query
            # (er_clusters) otherwise occupy storage memory through the
            # NEXT query's measurement (A/B: +30-70% on the query that
            # follows).
            release_caches(all_generations=True)

    # ambient-drift calibration anchor (VERDICT r8 next-#5): two fixed
    # workloads UNTOUCHED by any pac_spark code path — plain Spark APIs
    # only — timed under the identical min-of-3 protocol. Their
    # round-over-round movement is machine/JVM drift by construction
    # (same bytecode every round), so a query delta decomposes into
    # (anchor drift) x (code drift) without a git-worktree replay. The
    # r7->r8 adjudication measured +15-25% ambient drift that the BENCH
    # files alone could not see.
    anchors: dict[str, float] = {}
    for _round in range(3):
        spark.sparkContext._jvm.System.gc()
        # CPU anchor: codegen-bound hash+agg over a generated range —
        # no IO, fixed row count, exercises whole-stage codegen + one
        # shuffle exactly like the query mix does
        t0 = time.time()
        (
            spark.range(0, 50_000_000, 1, 32)
            .selectExpr("xxhash64(id) % 1024 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
            .count()
        )
        anchors["cpu"] = min(
            anchors.get("cpu", 9e9), round(time.time() - t0, 3)
        )
        # scan anchor: raw parquet scan-agg of the fact table via plain
        # spark.read — disk+decode bound, constant bytes per SF dir
        t1 = time.time()
        (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .groupBy("l_returnflag")
            .count()
            .count()
        )
        anchors["scan"] = min(
            anchors.get("scan", 9e9), round(time.time() - t1, 3)
        )

    # sf is cosmetic metadata: a non-"sf<number>" data dir must not
    # crash the final print and lose the whole run's timings
    # (code-review r8) — emit null instead
    import re as _re

    m = _re.fullmatch(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = m.group(1) if m else None
    families: dict[str, float] = {}
    for q, t in timings.items():
        if q == "pagerank_trade_graph":
            continue  # own field below — would drown the graph family
        fam = FAMILY.get(q, "other")
        families[fam] = round(families.get(fam, 0.0) + t, 3)
    summary = {
        "metric": "bench_total_sec",
        # pagerank is reported separately (VERDICT r6 wrong-#2):
        # at ~28% of the aggregate its fixed iterative cost
        # drowned every other query's signal in the total
        "value": round(
            sum(t for q, t in timings.items() if q != "pagerank_trade_graph"),
            3,
        ),
        "unit": "sec",
        "n_queries": len(timings),
        "pagerank_sec": timings.get("pagerank_trade_graph"),
        # the r1-r4 15-query subtotal: compare THIS against the
        # 26.48 s r1 baseline / 18.3-21.7 s r3-r4 totals
        "core15_sec": round(
            sum(t for q, t in timings.items() if q in CORE15), 3
        ),
        # the frozen r5 20-query set (r5: 32.3 s total)
        "core20_sec": round(
            sum(t for q, t in timings.items() if q in CORE20), 3
        ),
        "families_sec": dict(sorted(families.items())),
        "anchor_sec": anchors,
        "sf": float(sf) if sf else None,
    }
    # full per-query map: committed artifact + an EARLIER stdout line.
    # BENCH_r08 lost its structured metrics because the 69-entry
    # one-line JSON outgrew the driver's 2000-char tail capture
    # (VERDICT r8 wrong-#3) — the LAST line must stay compact, so the
    # detail moves to a file (git history keeps the per-round trend)
    # and the headline drops the per-query map.
    # written ATOMICALLY (tmp + rename) so a reader that samples the
    # file mid-write — the driver's per-query comparator reads this
    # file because the stdout tail is truncation-prone (VERDICT r11
    # next-#2) — never sees a half-written JSON document. Keys are
    # unchanged from r8 ("queries" holds the per-query seconds map).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    tmp_path = f"{detail_path}.{os.getpid()}.tmp"
    with open(tmp_path, "w") as fh:
        json.dump({**summary, "queries": timings}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp_path, detail_path)
    print(json.dumps({**summary, "queries": timings}))
    line = json.dumps(summary)
    if len(line) > 1800:  # headroom under the 2000-char tail capture
        summary["families_sec"] = {}
        line = json.dumps(summary)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
