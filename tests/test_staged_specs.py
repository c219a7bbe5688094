"""Operators STAGED for the r6 rotation (the r5 driver cap is fully
claimed — see the R6 plan in plans/registry.py): run the IDENTICAL
value-hash oracle gate locally until each gets its driver slot.
pcm_audio_features has its gate in test_multimodal_multibyte.py; this
file covers pq_topk.
"""

from __future__ import annotations


def test_pq_topk_oracle(spark, duck, sf_dir):
    from pac_spark.operators.similarity import pq_topk
    from pac_spark.plans.llm_plans import _pq_topk_sql
    from tests.conftest import assert_oracle_match

    assert_oracle_match(pq_topk(spark, sf_dir), duck.sql(_pq_topk_sql()))


def test_pq_rescore_matches_bruteforce(spark, sf_dir):
    """The ADC ranking is approximate, but every returned (query, hit)
    pair's exact-cosine rescore must equal the brute-force score for
    that pair — the same exactness contract the IVF tier carries."""
    from pac_spark.operators.similarity import knn_bruteforce, pq_topk

    exact = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in knn_bruteforce(spark, sf_dir).collect()
    }
    got = pq_topk(spark, sf_dir).collect()
    assert got, "PQ search returned nothing"
    for r in got:
        assert r["approx_dist"] is not None and r["approx_dist"] >= 0
        if (r["query_id"], r["vec_id"]) in exact:
            assert abs(exact[(r["query_id"], r["vec_id"])] - r["score"]) < 1e-9


def test_streaming_ivm_matches_batch_aggregate(spark, duck, sf_dir):
    """Staged for r7: per-micro-batch IVM folding must equal the full
    batch aggregate (same identical-oracle gate the driver will run)."""
    from pac_spark.streaming.stateful import (
        STREAMING_IVM_ORACLE,
        streaming_ivm_user_value,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_ivm_user_value(spark, sf_dir), duck.sql(STREAMING_IVM_ORACLE)
    )


def test_dup_span_coverage_oracle(spark, duck, sf_dir):
    """Staged for r7: duplicated-span coverage vs the identical
    positioned-gram oracle."""
    from pac_spark.operators.dedup import dup_span_coverage
    from pac_spark.plans.llm_plans import _dup_span_sql
    from tests.conftest import assert_oracle_match

    assert_oracle_match(dup_span_coverage(spark, sf_dir), duck.sql(_dup_span_sql()))


def test_dup_span_coverage_crafted(spark, tmp_path):
    """Crafted corpus pins the semantics: (a) a gram repeated inside
    ONE doc is not duplicated; (b) a shared 5-gram marks exactly the
    positions it covers; (c) docs shorter than N tokens are absent."""
    import pandas as pd

    boiler = "the quick brown fox jumps"  # exactly 5 tokens
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                boiler + " over the lazy dog",  # 9 toks -> 5 grams, 1 dup
                boiler + " under a red moon",  # 9 toks -> 5 grams, 1 dup
                "alpha beta gamma alpha beta gamma alpha beta gamma",
                "too short",  # < 5 tokens -> absent
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.dedup import dup_span_coverage

    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_bp"])
        for r in dup_span_coverage(spark, str(tmp_path)).collect()
    }
    # doc 1/2: 5 gram positions each; only the shared leading gram dup
    assert got[1] == (5, 1, 2000)
    assert got[2] == (5, 1, 2000)
    # doc 3: internal repeats only -> zero duplicated positions
    assert got[3] == (5, 0, 0)
    assert 4 not in got


def test_triangle_top_parts_oracle(spark, duck, sf_dir):
    """Staged for r7: triangle motif counts vs the identical top-K
    edge-cut oracle."""
    from pac_spark.operators.graph import TRIANGLE_SQL, triangle_top_parts
    from tests.conftest import assert_oracle_match

    assert_oracle_match(triangle_top_parts(spark, sf_dir), duck.sql(TRIANGLE_SQL()))


def test_triangle_counts_crafted(spark, tmp_path):
    """K4 on parts {1,2,3,4} = 4 triangles, each node in 3; one
    pendant edge (5-6) adds no triangle. Orders are the baskets."""
    import pandas as pd

    baskets = {
        10: [1, 2, 3],
        11: [1, 2, 4],
        12: [1, 3, 4],
        13: [2, 3, 4],
        14: [5, 6],
    }
    rows = [
        (o, p, i + 1)
        for o, parts in baskets.items()
        for i, p in enumerate(parts)
    ]
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey", "l_linenumber"]).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from pac_spark.operators.graph import triangle_top_parts

    got = {
        r["part_id"]: r["n_triangles"]
        for r in triangle_top_parts(spark, str(tmp_path)).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_ohlc_bars_oracle(spark, duck, sf_dir):
    """Staged for r7: OHLC hourly bars vs the identical full-frame
    window oracle."""
    from pac_spark.operators.temporal import OHLC_SQL, ohlc_bars_hourly
    from tests.conftest import assert_oracle_match

    assert_oracle_match(ohlc_bars_hourly(spark, sf_dir), duck.sql(OHLC_SQL()))


def test_ohlc_bars_crafted(spark, tmp_path):
    """Open/close follow (ts, event_id) order — including an
    equal-timestamp tie decided by event_id — and high/low/sum are
    order-free."""
    import pandas as pd

    ts = pd.Timestamp("2024-01-01 10:00:00")
    rows = [
        # one hour, one type; events deliberately out of id order
        (3, ts + pd.Timedelta(minutes=30), 7, "click", 5.00),
        (1, ts + pd.Timedelta(minutes=10), 7, "click", 2.00),
        (2, ts + pd.Timedelta(minutes=50), 7, "click", 9.00),
        # equal-ts tie: event_id 4 < 5 decides close
        (5, ts + pd.Timedelta(minutes=55), 7, "click", 1.00),
        (4, ts + pd.Timedelta(minutes=55), 7, "click", 3.00),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import ohlc_bars_hourly

    [bar] = ohlc_bars_hourly(spark, str(tmp_path)).collect()
    assert bar["open_value"] == 2.00  # earliest ts
    assert bar["close_value"] == 1.00  # latest ts, higher event_id wins tie
    assert bar["high_value"] == 9.00 and bar["low_value"] == 1.00
    assert bar["n_events"] == 5 and bar["sum_value"] == 20.00


def test_welch_ab_oracle(spark, duck, sf_dir):
    """Staged for r7: Welch t per hour-of-day vs the identical
    exact-moments oracle."""
    from pac_spark.operators.stats import WELCH_AB_SQL, welch_ab_value_by_hour
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        welch_ab_value_by_hour(spark, sf_dir), duck.sql(WELCH_AB_SQL())
    )


def test_welch_ab_crafted(spark, tmp_path):
    """The statistic equals the textbook Welch formula computed
    independently (statistics module), and an arm with n < 2 drops
    its hour."""
    import statistics

    import pandas as pd

    ts = pd.Timestamp("2024-03-01 09:00:00")
    a_vals = [1.00, 2.00, 3.00, 4.00]
    b_vals = [2.00, 4.00]
    rows = [
        (i, ts + pd.Timedelta(seconds=i), 1, "purchase", v)
        for i, v in enumerate(a_vals)
    ] + [
        (10 + i, ts + pd.Timedelta(seconds=30 + i), 2, "click", v)
        for i, v in enumerate(b_vals)
    ]
    # hour 11: only one purchase and one click -> filtered out
    rows += [
        (20, pd.Timestamp("2024-03-01 11:00:00"), 3, "purchase", 5.00),
        (21, pd.Timestamp("2024-03-01 11:00:01"), 3, "click", 6.00),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import welch_ab_value_by_hour

    out = welch_ab_value_by_hour(spark, str(tmp_path)).collect()
    assert [r["hour_of_day"] for r in out] == [9]
    [r] = out
    a_c = [v * 100 for v in a_vals]
    b_c = [v * 100 for v in b_vals]
    va, vb = statistics.variance(a_c), statistics.variance(b_c)
    na, nb = len(a_c), len(b_c)
    sq = va / na + vb / nb
    t = (statistics.mean(a_c) - statistics.mean(b_c)) / sq**0.5
    df = sq * sq / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["mean_a"] - 2.50) < 1e-12 and abs(r["mean_b"] - 3.00) < 1e-12
    assert abs(r["welch_t"] - t) < 1e-9
    assert abs(r["welch_df"] - df) < 1e-9


def test_cusum_oracle(spark, duck, sf_dir):
    """Staged for r7: CUSUM level-shift stats vs the identical
    prefix-sum window oracle."""
    from pac_spark.operators.stats import CUSUM_SQL, cusum_user_value_shift
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        cusum_user_value_shift(spark, str(sf_dir)), duck.sql(CUSUM_SQL())
    )


def test_cusum_crafted(spark, tmp_path):
    """The window form equals the textbook recursion
    C_i = max(0, C_{i-1} + d_i) replayed in plain Python on a series
    with a deliberate mid-stream level shift."""
    import pandas as pd

    vals = [1.00, 1.00, 1.00, 1.00, 9.00, 9.00, 9.00, 9.00]
    ts0 = pd.Timestamp("2024-05-01 00:00:00")
    pd.DataFrame(
        {
            "event_id": range(len(vals)),
            "ts": [ts0 + pd.Timedelta(minutes=i) for i in range(len(vals))],
            "user_id": 1,
            "event_type": "view",
            "value": vals,
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import cusum_user_value_shift

    [r] = cusum_user_value_shift(spark, str(tmp_path)).collect()
    cents = [v * 100 for v in vals]
    n, s = len(cents), sum(cents)
    up = dn = cu = cd = 0.0
    for c in cents:
        d = c * n - s
        cu = max(0.0, cu + d)
        cd = max(0.0, cd - d)
        up, dn = max(up, cu), max(dn, cd)
    assert r["n_events"] == n
    assert abs(r["up_shift"] - up / n / 100.0) < 1e-9
    assert abs(r["down_shift"] - dn / n / 100.0) < 1e-9
    assert r["alarm"] == (up / n / 100.0 > 100.0)


def test_winsorized_oracle(spark, duck, sf_dir):
    """Staged for r7: winsorized means vs the identical
    histogram-clipping oracle."""
    from pac_spark.operators.stats import WINSOR_SQL, winsorized_price_stats_by_flag
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        winsorized_price_stats_by_flag(spark, sf_dir), duck.sql(WINSOR_SQL())
    )


def test_winsorized_crafted(spark, tmp_path):
    """A group with one extreme outlier: the winsorized mean caps it
    at p99 (percentile_disc read-off replayed in plain Python)."""
    import pandas as pd

    vals = [10.00] * 98 + [11.00, 9999.00]  # p1=10.00, p99=11.00
    pd.DataFrame(
        {
            "l_orderkey": range(len(vals)),
            "l_returnflag": "A",
            "l_extendedprice": vals,
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.stats import winsorized_price_stats_by_flag

    [r] = winsorized_price_stats_by_flag(spark, str(tmp_path)).collect()
    # percentile_disc: smallest v with cum*100 >= p*n over the
    # 3-bucket histogram {10.00:98, 11.00:1, 9999.00:1}, n=100
    assert r["p_low"] == 10.00 and r["p_high"] == 11.00
    assert r["n_clipped_low"] == 0 and r["n_clipped_high"] == 1
    assert abs(r["mean_raw"] - (98 * 10 + 11 + 9999) / 100) < 1e-9
    assert abs(r["mean_winsorized"] - (98 * 10 + 11 + 11) / 100) < 1e-9


def test_streaming_ohlc_matches_batch_oracle(spark, duck, sf_dir):
    """Staged for r7: streaming-maintained OHLC bars equal the batch
    window oracle (streaming maintenance == one-shot computation)."""
    from pac_spark.operators.temporal import OHLC_SQL
    from pac_spark.streaming.stateful import streaming_ohlc_bars
    from tests.conftest import assert_oracle_match

    assert_oracle_match(streaming_ohlc_bars(spark, sf_dir), duck.sql(OHLC_SQL()))


def test_streaming_ohlc_merge_is_order_free(spark, tmp_path):
    """Adversarial batch split: one hour's rows scattered across three
    files delivered LATEST-FIRST (mtimes force the file-stream order).
    The merged view must equal the single-shot partial over the whole
    table — the commutative-monoid claim, tested against the grain."""
    import os
    import time

    import pandas as pd

    from pac_spark.streaming.stateful import (
        _ohlc_merge,
        _ohlc_partial,
        _rotate_view,
    )

    ts0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = [
        # (event_id, minute, value) — one type, two hours, interleaved
        (1, 5, 3.00), (2, 10, 1.00), (3, 55, 7.00),      # file A (earliest data)
        (4, 62, 2.00), (5, 70, 9.00),                     # file B (hour 2 opens)
        (6, 2, 8.00), (7, 119, 4.00),                     # file C (true open of hour 1 + true close of hour 2)
    ]
    src = tmp_path / "src"
    src.mkdir()
    files = [rows[0:3], rows[3:5], rows[5:7]]
    for i, chunk in enumerate(files):
        frame = pd.DataFrame(
            {
                "event_id": [r[0] for r in chunk],
                "ts": [ts0 + pd.Timedelta(minutes=r[1]) for r in chunk],
                "user_id": 1,
                "event_type": "view",
                "value": [r[2] for r in chunk],
            }
        )
        # micros, not pandas-default nanos: the raw file stream here
        # bypasses stream_events' NANOS normalization
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        frame.to_parquet(src / f"part-{i}.parquet")
    # deliver newest-data file FIRST: ascending mtimes in reverse order
    now = time.time()
    for i, name in enumerate(["part-2.parquet", "part-1.parquet", "part-0.parquet"]):
        os.utime(src / name, (now + i, now + i))

    schema = spark.read.parquet(str(src)).schema
    state = {"view": None, "handles": []}
    batches = []

    def fold(batch_df, _bid):
        batches.append(batch_df.count())
        delta = _ohlc_partial(batch_df)
        view = state["view"]
        merged = delta if view is None else _ohlc_merge(view, delta)
        _rotate_view(state, merged)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(fold)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 3, f"expected 3 micro-batches, got {batches}"

    def canon(df):
        return sorted(
            (r["event_type"], r["hour_ts"], r["o"], r["cl"], r["h"], r["l"], r["n"], r["s"])
            for r in df.collect()
        )

    single_shot = _ohlc_partial(spark.read.parquet(str(src)))
    assert canon(state["view"]) == canon(single_shot)
    # and the semantics are right: hour-1 open is the event at :02
    bars = {r["hour_ts"]: r for r in state["view"].collect()}
    assert bars["2024-06-01 08:00:00"]["o"]["cents"] == 800
    assert bars["2024-06-01 09:00:00"]["cl"]["cents"] == 400


def test_contrastive_negatives_oracle(spark, duck, sf_dir):
    """Staged for r7: deterministic negative sampling vs the identical
    double-salted md5 bucket/rank oracle."""
    from pac_spark.operators.curation import NEGATIVES_SQL, contrastive_negatives
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        contrastive_negatives(spark, sf_dir), duck.sql(NEGATIVES_SQL())
    )


def test_contrastive_negatives_semantics(spark, sf_dir):
    """Negatives never share the anchor's label or id, at most NEG_K
    per anchor, and the draw is reproducible run to run."""
    from pac_spark.operators.curation import NEG_K, contrastive_negatives

    from pac_spark import catalog

    labels = {
        r["vec_id"]: r["label"]
        for r in catalog.load(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    rows = contrastive_negatives(spark, sf_dir).collect()
    assert rows, "no negatives drawn"
    per_anchor = {}
    for r in rows:
        assert labels[r["neg_id"]] == r["neg_label"]
        assert r["neg_label"] != labels[r["anchor_id"]]
        assert r["neg_id"] != r["anchor_id"]
        per_anchor.setdefault(r["anchor_id"], []).append((r["neg_slot"], r["neg_id"]))
    for drawn in per_anchor.values():
        assert len(drawn) <= NEG_K
        # distinct BY CONSTRUCTION: no negative repeats across slots
        assert len({neg for _, neg in drawn}) == len(drawn)
    again = contrastive_negatives(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_welch_ab_degenerate_variance(spark, tmp_path):
    """Both arms constant: pooled variance is zero, so t/df must be
    NULL on both engines (Spark 4 ANSI mode would otherwise throw
    DIVIDE_BY_ZERO mid-job)."""
    import pandas as pd

    ts = pd.Timestamp("2024-03-02 09:00:00")
    rows = [
        (i, ts + pd.Timedelta(seconds=i), 1, "purchase", 5.00) for i in range(3)
    ] + [
        (10 + i, ts + pd.Timedelta(seconds=30 + i), 2, "click", 3.00)
        for i in range(3)
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import welch_ab_value_by_hour

    [r] = welch_ab_value_by_hour(spark, str(tmp_path)).collect()
    assert r["welch_t"] is None and r["welch_df"] is None
    assert r["mean_a"] == 5.00 and r["mean_b"] == 3.00


def test_chi2_terms_oracle(spark, duck, sf_dir):
    """Staged for r7: chi-square discriminative terms vs the identical
    contingency oracle."""
    from pac_spark.operators.text import CHI2_SQL, chi2_terms_by_source
    from tests.conftest import assert_oracle_match

    assert_oracle_match(chi2_terms_by_source(spark, sf_dir), duck.sql(CHI2_SQL()))


def test_chi2_terms_crafted(spark, tmp_path):
    """A term exclusive to one source tops that source's ranking with
    the hand-computed chi-square of its 2x2 table."""
    import pandas as pd

    rows = []
    for i in range(10):
        rows.append((i, "zebra common filler", "en", "src_a", 0))
    for i in range(10, 20):
        rows.append((i, "common filler words", "en", "src_b", 0))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import chi2_terms_by_source

    out = chi2_terms_by_source(spark, str(tmp_path)).collect()
    top_a = next(r for r in out if r["source"] == "src_a" and r["rank"] == 1)
    # 'zebra': a=10, b=0, c=0, d=10, n=20 -> chi2 = 20*(100)^2/10^4 = 20
    assert top_a["term"] == "zebra"
    assert abs(top_a["chi2"] - 20.0) < 1e-12
    assert top_a["docs_with_term"] == 10


def test_cusum_matches_recursion_many_series(spark, tmp_path):
    """20 seeded pseudo-random user series (varied length, scale,
    trend) in ONE job: the window closed form must equal the textbook
    recursion replayed per user."""
    import random

    import pandas as pd

    rng = random.Random(20260814)
    rows = []
    eid = 0
    ts0 = pd.Timestamp("2024-07-01")
    series = {}
    for user in range(1, 21):
        n = rng.randint(1, 40)
        drift = rng.choice([0.0, 0.5, -0.5, 3.0])
        vals = [
            round(max(0.01, 10 + drift * i + rng.uniform(-5, 5)), 2)
            for i in range(n)
        ]
        series[user] = vals
        for i, v in enumerate(vals):
            rows.append((eid, ts0 + pd.Timedelta(minutes=eid), user, "view", v))
            eid += 1
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import cusum_user_value_shift

    got = {
        r["user_id"]: r for r in cusum_user_value_shift(spark, str(tmp_path)).collect()
    }
    for user, vals in series.items():
        cents = [round(v * 100) for v in vals]
        n, s = len(cents), sum(cents)
        up = dn = cu = cd = 0
        for c in cents:
            d = c * n - s
            cu = max(0, cu + d)
            cd = max(0, cd - d)
            up, dn = max(up, cu), max(dn, cd)
        r = got[user]
        assert r["n_events"] == n
        assert abs(r["up_shift"] - up / n / 100.0) < 1e-9, f"user {user}"
        assert abs(r["down_shift"] - dn / n / 100.0) < 1e-9, f"user {user}"


def test_seasonal_anomaly_oracle(spark, duck, sf_dir):
    """Staged for r7: seasonally-adjusted day anomalies vs the
    identical rational-ratio oracle (dow numbering differs between
    engines — Spark Sunday=1, DuckDB Sunday=0 — but dow is only a
    grouping key, so the partition sets coincide)."""
    from pac_spark.operators.stats import SEASONAL_SQL, seasonal_anomaly_days
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        seasonal_anomaly_days(spark, sf_dir), duck.sql(SEASONAL_SQL())
    )


def test_seasonal_anomaly_crafted(spark, tmp_path):
    """Three same-weekday days at $1 per event and one at $4: the
    spiked day is flagged with the hand-computed ratio; the quiet
    days (ratio 4/7 > 1/2) are not."""
    import pandas as pd

    rows = []
    eid = 0
    # Mondays: 2024-01-01, -08, -15, -22 — one event each
    for week, value in enumerate([1.00, 1.00, 1.00, 4.00]):
        ts = pd.Timestamp("2024-01-01 12:00:00") + pd.Timedelta(weeks=week)
        rows.append((eid, ts, 1, "view", value))
        eid += 1
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import seasonal_anomaly_days

    out = {r["day"]: r for r in seasonal_anomaly_days(spark, str(tmp_path)).collect()}
    assert len(out) == 4
    # baseline mean = 7/4 dollars; spiked day ratio = 4/(7/4) = 16/7
    spiked = out["2024-01-22"]
    assert abs(spiked["seasonal_ratio"] - 16 / 7) < 1e-12
    assert spiked["is_anomalous"]
    for day in ("2024-01-01", "2024-01-08", "2024-01-15"):
        assert abs(out[day]["seasonal_ratio"] - 4 / 7) < 1e-12
        assert not out[day]["is_anomalous"]


def test_trend_oracle(spark, duck, sf_dir):
    """Staged for r7: per-type regression trend vs the identical
    exact-moment oracle."""
    from pac_spark.operators.stats import TREND_SQL, trend_slope_by_type
    from tests.conftest import assert_oracle_match

    assert_oracle_match(trend_slope_by_type(spark, sf_dir), duck.sql(TREND_SQL()))


def test_trend_crafted(spark, tmp_path):
    """A perfect $1/hour ramp recovers slope 1.0 and r2 1.0; a
    one-second burst group yields NULL slope (zero x-variance) rather
    than an ANSI divide-by-zero."""
    import pandas as pd

    ts0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (i, ts0 + pd.Timedelta(hours=i), 1, "ramp", 10.00 + 1.0 * i)
        for i in range(6)
    ]
    rows += [
        (10 + i, ts0, 2, "burst", 3.00 + i) for i in range(3)
    ]  # same second, varying values
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import trend_slope_by_type

    out = {r["event_type"]: r for r in trend_slope_by_type(spark, str(tmp_path)).collect()}
    ramp = out["ramp"]
    assert abs(ramp["slope_value_per_hour"] - 1.0) < 1e-9
    assert abs(ramp["intercept_value"] - 10.0) < 1e-9
    assert abs(ramp["r2"] - 1.0) < 1e-12
    burst = out["burst"]
    assert burst["slope_value_per_hour"] is None and burst["r2"] is None
    assert burst["n_events"] == 3


def test_expectations_oracle(spark, duck, sf_dir):
    """Staged for r7: the declarative expectation gate vs the
    identical single-aggregate oracle."""
    from pac_spark.operators.profile import EXPECTATIONS_SQL, expectations_orders
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        expectations_orders(spark, sf_dir), duck.sql(EXPECTATIONS_SQL())
    )


def test_expectation_report_crafted(spark, tmp_path):
    """Each rule kind counts exactly its violations: NULL predicates
    are violations, duplicates count rows beyond the first, and a
    clean column passes."""
    import pandas as pd

    from pyspark.sql import functions as F

    pd.DataFrame(
        {
            "k": [1, 2, 2, 3, 3, 3],
            "v": [5.0, -1.0, None, 2.0, 0.0, 7.0],
            "s": ["A", "B", "A", "C", "A", "A"],
        }
    ).to_parquet(tmp_path / "t.parquet")
    df = spark.read.parquet(str(tmp_path / "t.parquet"))
    from pac_spark.operators.profile import expectation_report

    rules = [
        ("accepted:s", F.col("s").isin("A", "B")),
        ("positive:v", F.col("v") > 0),
        ("unique:k", "unique:k"),
    ]
    got = {r["rule"]: r for r in expectation_report(df, rules).collect()}
    assert got["accepted:s"]["violations"] == 1  # the 'C'
    # v > 0 violations: -1.0, NULL, 0.0
    assert got["positive:v"]["violations"] == 3
    assert got["unique:k"]["violations"] == 3  # one extra 2, two extra 3s
    assert all(r["n_rows"] == 6 for r in got.values())
    assert not any(r["passed"] for r in got.values())


def test_peak_concurrency_oracle(spark, duck, sf_dir):
    """Staged for r7: per-day peak concurrent sessions vs the
    identical sweep-line oracle."""
    from pac_spark.operators.temporal import (
        PEAK_CONCURRENCY_SQL,
        peak_concurrent_sessions,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        peak_concurrent_sessions(spark, sf_dir), duck.sql(PEAK_CONCURRENCY_SQL)
    )


def test_global_running_sums_matches_single_window(spark):
    """The two-phase prefix sum must equal the textbook unpartitioned
    running-sum window bit-for-bit, including across bucket
    boundaries and on single-row buckets."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from pac_spark.functions.prefix import global_running_sums

    rows = [(t, t % 7 - 3, t % 5) for t in [1, 2, 5, 99, 100, 101, 250, 251, 999, 1000]]
    df = spark.createDataFrame(rows, ["t", "a", "b"])
    got = {
        r["t"]: (r["run_a"], r["run_b"])
        for r in global_running_sums(
            df, "t", ["a", "b"], bucket=(F.col("t") / 100).cast("long")
        ).collect()
    }
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r["t"]: (r["ra"], r["rb"])
        for r in df.select(
            "t", F.sum("a").over(w).alias("ra"), F.sum("b").over(w).alias("rb")
        ).collect()
    }
    assert got == want


def test_peak_concurrency_crafted(spark, tmp_path, monkeypatch):
    """Closed-interval semantics on a hand-built day: a point session
    (single event) counts while open, and a session whose last event
    equals the probe instant is still open there."""
    import pandas as pd

    ts = pd.to_datetime(
        [
            "2024-01-01 10:00:00",  # user 1 session [10:00, 10:05]
            "2024-01-01 10:05:00",
            "2024-01-01 10:05:00",  # user 2 point session at 10:05
            "2024-01-01 10:06:00",  # user 3 point session at 10:06
        ]
    ).astype("datetime64[us]")
    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": ts,
            "user_id": [1, 1, 2, 3],
            "event_type": ["view"] * 4,
            "value": [1.0] * 4,
            "props": ["{}"] * 4,
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import peak_concurrent_sessions

    rows = peak_concurrent_sessions(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["day"] == "2024-01-01"
    assert r["peak_concurrency"] == 2  # users 1+2 both open at 10:05
    assert r["at_ts"] == "2024-01-01 10:05:00.000000"


def test_ks_test_oracle(spark, duck, sf_dir):
    """Staged for r7: exact two-sample KS statistic vs the identical
    integer-ECDF oracle."""
    from pac_spark.operators.stats import KS_SQL, ks_test_price_by_flag
    from tests.conftest import assert_oracle_match

    assert_oracle_match(ks_test_price_by_flag(spark, sf_dir), duck.sql(KS_SQL))


def test_ks_matches_scipy_definition(spark, tmp_path):
    """The integer formulation equals the textbook sup|F1-F2| on a
    crafted pair with ties within and across samples."""
    import pandas as pd

    a = [1.00, 2.00, 2.00, 3.00, 7.00]
    r = [2.00, 4.00, 4.00, 9.00]
    rows = [("A", v) for v in a] + [("R", v) for v in r]
    pd.DataFrame(
        {
            "l_orderkey": range(len(rows)),
            "l_partkey": [1] * len(rows),
            "l_suppkey": [1] * len(rows),
            "l_linenumber": [1] * len(rows),
            "l_quantity": [1.0] * len(rows),
            "l_extendedprice": [v for _, v in rows],
            "l_discount": [0.0] * len(rows),
            "l_tax": [0.0] * len(rows),
            "l_returnflag": [f for f, _ in rows],
            "l_linestatus": ["O"] * len(rows),
            "l_shipdate": pd.to_datetime(["2024-01-01"] * len(rows)).astype(
                "datetime64[us]"
            ),
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.stats import ks_test_price_by_flag

    row = ks_test_price_by_flag(spark, str(tmp_path)).collect()[0]
    # ECDFs: at 3.00  F_A = 4/5, F_R = 1/4 -> |diff| = 11/20 (the sup)
    assert row["n_a"] == 5 and row["n_r"] == 4
    assert row["ks_num"] == 11
    assert abs(row["ks_stat"] - 11 / 20) < 1e-12
    assert row["at_price"] == 3.00


def test_bm25_oracle(spark, duck, sf_dir):
    """Staged for r7: BM25 top-k vs the identical fixed-point oracle."""
    from pac_spark.operators.text import BM25_SQL, bm25_topk_docs
    from tests.conftest import assert_oracle_match

    assert_oracle_match(bm25_topk_docs(spark, sf_dir), duck.sql(BM25_SQL))


def test_bm25_saturation_and_length_normalization(spark, tmp_path):
    """The two properties that make BM25 BM25: term-frequency
    saturation (doubling tf far less than doubles the score) and
    length normalization (same tf in a longer doc scores lower)."""
    import pandas as pd

    mk = lambda *words: " ".join(words)  # noqa: E731
    texts = {
        1: mk(*["merge"] * 1, *["pad"] * 9),     # tf=1, dl=10
        2: mk(*["merge"] * 2, *["pad"] * 8),     # tf=2, dl=10
        3: mk(*["merge"] * 8, *["pad"] * 2),     # tf=8, dl=10
        4: mk(*["merge"] * 1, *["pad"] * 39),    # tf=1, dl=40
    }
    pd.DataFrame(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(t) for t in texts.values()],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import bm25_topk_docs

    scores = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_docs(spark, str(tmp_path)).collect()
    }
    assert len(scores) == 4 and all(r > 0 for r in scores.values())
    # saturation: 2x tf < 2x score; 8x tf << 8x score
    assert scores[2] < 2 * scores[1]
    assert scores[3] < 4 * scores[1]
    assert scores[1] < scores[2] < scores[3]
    # length normalization: same tf, 4x length -> strictly lower
    assert scores[4] < scores[1]


def test_session_paths_oracle(spark, duck, sf_dir):
    """Staged for r7: top session paths vs the identical ordered-list
    oracle."""
    from pac_spark.operators.temporal import SESSION_PATHS_SQL, top_session_paths
    from tests.conftest import assert_oracle_match

    assert_oracle_match(top_session_paths(spark, sf_dir), duck.sql(SESSION_PATHS_SQL))


def test_activity_streaks_oracle(spark, duck, sf_dir):
    """Staged for r7: gaps-and-islands day streaks vs the identical
    anchor-difference oracle."""
    from pac_spark.operators.temporal import STREAKS_SQL, user_activity_streaks
    from tests.conftest import assert_oracle_match

    assert_oracle_match(user_activity_streaks(spark, sf_dir), duck.sql(STREAKS_SQL))


def test_activity_streaks_crafted(spark, tmp_path):
    """Tie between two equal-length streaks resolves to the earliest;
    multiple same-day events count one active day."""
    import pandas as pd

    days = ["2024-01-01", "2024-01-02", "2024-01-02",  # streak 1: 2 days
            "2024-01-05", "2024-01-06",                # streak 2: 2 days
            "2024-01-09"]                               # streak 3: 1 day
    pd.DataFrame(
        {
            "event_id": range(len(days)),
            "ts": pd.to_datetime(days).astype("datetime64[us]"),
            "user_id": [7] * len(days),
            "event_type": ["view"] * len(days),
            "value": [1.0] * len(days),
            "props": ["{}"] * len(days),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import user_activity_streaks

    r = user_activity_streaks(spark, str(tmp_path)).collect()[0]
    assert r["n_active_days"] == 5
    assert r["n_streaks"] == 3
    assert r["longest_streak_days"] == 2
    assert r["streak_start"] == "2024-01-01"  # earliest of the two ties
    assert r["streak_end"] == "2024-01-02"


def test_source_overlap_oracle(spark, duck, sf_dir):
    """Staged for r7: pairwise source shingle-Jaccard vs the identical
    inverted-index oracle."""
    from pac_spark.operators.curation import (
        SOURCE_OVERLAP_SQL,
        source_overlap_matrix,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        source_overlap_matrix(spark, sf_dir), duck.sql(SOURCE_OVERLAP_SQL)
    )


def test_token_gini_oracle(spark, duck, sf_dir):
    """Staged for r7: rational Gini diversity vs the identical
    decimal-squares oracle."""
    from pac_spark.operators.text import TOKEN_GINI_SQL, token_gini_by_source
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        token_gini_by_source(spark, sf_dir), duck.sql(TOKEN_GINI_SQL)
    )


def test_token_gini_crafted(spark, tmp_path):
    """Uniform terms maximize gini; a single repeated term zeroes it."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["a b c d", "x x x x"],
            "lang": ["en", "en"],
            "source": ["uni", "mono"],
            "n_chars": [7, 7],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import token_gini_by_source

    rows = {r["source"]: r for r in token_gini_by_source(spark, str(tmp_path)).collect()}
    assert rows["mono"]["gini"] == 0.0 and rows["mono"]["top_share"] == 1.0
    assert abs(rows["uni"]["gini"] - 0.75) < 1e-12  # 1 - 4*(1/4)^2
    assert rows["uni"]["n_terms"] == 4


def test_two_hop_reach_oracle(spark, duck, sf_dir):
    """Staged for r7: anchored 2-hop reach vs the identical oracle."""
    from pac_spark.operators.graph import TWO_HOP_SQL, two_hop_reach_top_customers
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        two_hop_reach_top_customers(spark, sf_dir), duck.sql(TWO_HOP_SQL)
    )


def test_daily_user_accounting_oracle(spark, duck, sf_dir):
    """Staged for r7: growth-accounting trio vs the identical
    first-seen oracle."""
    from pac_spark.operators.relational import (
        DAILY_USERS_SQL,
        daily_user_accounting,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        daily_user_accounting(spark, sf_dir), duck.sql(DAILY_USERS_SQL)
    )


def test_daily_user_accounting_crafted(spark, tmp_path):
    """A zero-new-user day carries the cumulative count forward, and
    actives count each user once per day."""
    import pandas as pd

    rows = [  # (day, user)
        ("2024-01-01", 1), ("2024-01-01", 1), ("2024-01-01", 2),
        ("2024-01-02", 1), ("2024-01-02", 2),           # nobody new
        ("2024-01-03", 3),
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([d for d, _ in rows]).astype("datetime64[us]"),
            "user_id": [u for _, u in rows],
            "event_type": ["view"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.relational import daily_user_accounting

    got = {
        r["day"]: (r["n_active_users"], r["n_new_users"], r["n_cumulative_users"])
        for r in daily_user_accounting(spark, str(tmp_path)).collect()
    }
    assert got == {
        "2024-01-01": (2, 2, 2),
        "2024-01-02": (2, 0, 2),
        "2024-01-03": (1, 1, 3),
    }


def test_budget_allocation_oracle(spark, duck, sf_dir):
    """Staged for r7: largest-remainder allocation vs the identical
    integer-division oracle."""
    from pac_spark.operators.stats import ALLOC_SQL, budget_allocation_by_nation
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        budget_allocation_by_nation(spark, sf_dir), duck.sql(ALLOC_SQL)
    )


def test_budget_allocation_sums_exactly(spark, sf_dir):
    """The defining property: allocations sum to EXACTLY the budget."""
    from pyspark.sql import functions as F

    from pac_spark.operators.stats import ALLOC_BUDGET, budget_allocation_by_nation

    out = budget_allocation_by_nation(spark, sf_dir)
    total = out.agg(F.sum("alloc")).collect()[0][0]
    assert total == ALLOC_BUDGET
    assert out.filter(F.col("alloc") < 0).count() == 0


def test_streaming_user_accounting_matches_batch(spark, duck, sf_dir):
    """Staged for r7: stream-maintained growth accounting must equal
    the batch oracle (same read-off, state folded per micro-batch)."""
    from pac_spark.operators.relational import DAILY_USERS_SQL
    from pac_spark.streaming.stateful import streaming_user_accounting
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_user_accounting(spark, sf_dir), duck.sql(DAILY_USERS_SQL)
    )


def test_funnel_within_oracle(spark, duck, sf_dir):
    """Staged for r7: 1h-conversion-window funnel vs the identical
    greedy-cascade oracle."""
    from pac_spark.operators.temporal import (
        FUNNEL_WITHIN_SQL,
        funnel_within_1h_view_click_purchase,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        funnel_within_1h_view_click_purchase(spark, sf_dir),
        duck.sql(FUNNEL_WITHIN_SQL),
    )


def test_funnel_within_is_greedy(spark, tmp_path):
    """Greedy semantics pinned: the funnel commits to the EARLIEST
    admissible click even when a later click would let the purchase
    convert — reached_purchase False is the correct greedy answer."""
    import pandas as pd

    rows = [  # all one user
        ("view", "2024-01-01 10:00:00"),
        ("click", "2024-01-01 10:30:00"),   # chosen (within 1h of view)
        ("click", "2024-01-01 11:30:00"),   # ignored: funnel committed
        ("purchase", "2024-01-01 12:00:00"),  # >1h after chosen click
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([t for _, t in rows]).astype("datetime64[us]"),
            "user_id": [1] * len(rows),
            "event_type": [e for e, _ in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import funnel_within_1h_view_click_purchase

    r = funnel_within_1h_view_click_purchase(spark, str(tmp_path)).collect()[0]
    assert r["reached_click"] is True
    assert r["click_ts"] == "2024-01-01 10:30:00.000000"
    assert r["reached_purchase"] is False
    assert r["view_to_purchase_micros"] is None


def test_skyline_oracle(spark, duck, sf_dir):
    """Staged for r7: the linear prefix-max skyline vs the INDEPENDENT
    O(n^2) NOT EXISTS dominance oracle — formulation-diverse proof."""
    from pac_spark.operators.relational import SKYLINE_SQL, skyline_suppliers
    from tests.conftest import assert_oracle_match

    assert_oracle_match(skyline_suppliers(spark, sf_dir), duck.sql(SKYLINE_SQL))


def test_skyline_crafted(spark, tmp_path):
    """Dominance semantics pinned: duplicates both survive (neither
    dominates), equal-cost lower-qty dies, equal-qty cheaper wins."""
    import pandas as pd

    # supplier -> rows summing to (cost_cents, qty)
    pts = {
        1: (100, 50),   # skyline (cheapest)
        2: (100, 50),   # duplicate of 1 -> also skyline
        3: (100, 40),   # same cost as 1, less qty -> dominated
        4: (200, 60),   # skyline (more qty than anything cheaper)
        5: (300, 60),   # same qty as 4 but dearer -> dominated
        6: (400, 55),   # dominated by 4
        7: (500, 70),   # skyline
    }
    rows = [(k, cents / 100.0, float(q)) for k, (cents, q) in pts.items()]
    pd.DataFrame(
        {
            "l_orderkey": range(len(rows)),
            "l_partkey": [1] * len(rows),
            "l_suppkey": [k for k, _, _ in rows],
            "l_linenumber": [1] * len(rows),
            "l_quantity": [q for _, _, q in rows],
            "l_extendedprice": [c for _, c, _ in rows],
            "l_discount": [0.0] * len(rows),
            "l_tax": [0.0] * len(rows),
            "l_returnflag": ["N"] * len(rows),
            "l_linestatus": ["O"] * len(rows),
            "l_shipdate": pd.to_datetime(["2024-01-01"] * len(rows)).astype(
                "datetime64[us]"
            ),
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.relational import skyline_suppliers

    got = sorted(r["suppkey"] for r in skyline_suppliers(spark, str(tmp_path)).collect())
    assert got == [1, 2, 4, 7]


def test_peak_concurrency_midnight_carryover(spark, tmp_path):
    """Code-review r6 scenario: a day whose peak is inherited from
    sessions open across midnight must report it (measured at the
    00:00 probe), not the count at its first same-day start."""
    import pandas as pd

    rows = []
    eid = 0
    # five sessions genuinely spanning midnight: 23:55 -> 00:03 is an
    # 8-minute gap, under the 10-minute session break
    for u in range(1, 6):
        for t in ("2024-01-01 23:55:00", "2024-01-02 00:03:00"):
            rows.append((eid, t, u)); eid += 1
    rows.append((eid, "2024-01-02 12:00:00", 9)); eid += 1  # lone Jan 2 start
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[2] for r in rows],
            "event_type": ["view"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import peak_concurrent_sessions

    got = {r["day"]: r for r in peak_concurrent_sessions(spark, str(tmp_path)).collect()}
    assert got["2024-01-01"]["peak_concurrency"] == 5
    # Jan 2 has no session STARTS before noon, but five sessions are
    # still open at 00:00 — the midnight probe must surface peak 5
    # there, not the start-only answer of 1 at 12:00
    assert got["2024-01-02"]["peak_concurrency"] == 5
    assert got["2024-01-02"]["at_ts"] == "2024-01-02 00:00:00.000000" 


def test_embedding_dim_stats_oracle(spark, duck, sf_dir):
    """Staged for r7: per-dimension fixed-point stats vs the identical
    histogram oracle."""
    from pac_spark.operators.similarity import DIM_STATS_SQL, embedding_dim_stats
    from tests.conftest import assert_oracle_match

    assert_oracle_match(embedding_dim_stats(spark, sf_dir), duck.sql(DIM_STATS_SQL))


def test_hll_oracle(spark, duck, sf_dir):
    """Staged for r7: from-scratch HLL estimates vs the identical
    register rebuild in DuckDB."""
    from pac_spark.operators.sketch import HLL_SQL, hll_distinct_customers_by_priority
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        hll_distinct_customers_by_priority(spark, sf_dir), duck.sql(HLL_SQL)
    )


def test_hll_estimate_is_sane_and_partition_invariant(spark, sf_dir):
    """The estimate must land within the textbook error envelope
    (1.04/sqrt(64) ~ 13% relative standard error; assert 3 sigma) and
    be identical under a different partitioning (register maxima
    commute)."""
    from pac_spark.operators.sketch import hll_distinct_customers_by_priority

    rows = hll_distinct_customers_by_priority(spark, sf_dir).collect()
    assert rows
    for r in rows:
        rel = abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 0.39, (r["o_orderpriority"], rel)
    again = hll_distinct_customers_by_priority(
        spark, sf_dir
    ).repartition(7).collect()
    assert {x["o_orderpriority"]: x["hll_estimate"] for x in again} == {
        x["o_orderpriority"]: x["hll_estimate"] for x in rows
    }


def test_staged_operators_survive_empty_tables(spark, sf_dir, tmp_path):
    """ANSI-mode landmine sweep: every batch operator staged this
    round must run (returning an empty or degenerate frame) on
    schema-identical EMPTY tables — divisions and sequence() calls
    must not throw when aggregates go NULL. Streaming folds are
    excluded: an empty availableNow drain raising 'no batches' is
    their documented contract."""
    import pyarrow.parquet as pq

    for name in (
        "events orders lineitem customer nation region supplier part "
        "documents embeddings"
    ).split():
        src = f"{sf_dir}/{name}.parquet"
        pq.write_table(pq.read_table(src).slice(0, 0), tmp_path / f"{name}.parquet")

    from pac_spark.operators import (
        curation,
        dedup as dedup_mod,
        evaluate,
        graph,
        recommend,
        relational,
        similarity,
        sketch,
        stats,
        temporal,
        text,
    )

    ops = [
        temporal.peak_concurrent_sessions,
        temporal.top_session_paths,
        temporal.user_activity_streaks,
        temporal.funnel_within_1h_view_click_purchase,
        temporal.attribution_last_touch,
        stats.ks_test_price_by_flag,
        stats.budget_allocation_by_nation,
        stats.ewma_user_value,
        text.bm25_topk_docs,
        text.bpe_learn_merges,
        text.token_gini_by_source,
        text.quantile_normalized_quality,
        curation.source_overlap_matrix,
        graph.two_hop_reach_top_customers,
        graph.kcore_parts,
        graph.sssp_from_hub,
        dedup_mod.dedup_canonical_docs,
        dedup_mod.containment_neardup_pairs,
        relational.daily_user_accounting,
        evaluate.decile_lift_value_purchase,
        relational.skyline_suppliers,
        similarity.embedding_dim_stats,
        similarity.kcenter_diverse_embeddings,
        sketch.hll_distinct_customers_by_priority,
        sketch.rolling_7d_distinct_users_hll,
        sketch.kmv_nation_part_overlap,
        recommend.association_rules_parts,
        recommend.item_item_similar_parts,
        temporal.daily_coverage_us,
        temporal.time_weighted_value_by_user,
        stats.percentiles_cont_price_by_flag,
        stats.weighted_percentiles_price_by_flag,
        relational.user_growth_accounting,
        curation.priority_sample_docs,
        dedup_mod.prefix_filter_neardup_pairs,
        text.phrase_match_docs,
        temporal.user_daily_features,
        temporal.conversion_latency_by_hour,
        text.spearman_quality_tokens_by_lang,
    ]
    for op in ops:
        rows = op(spark, str(tmp_path)).collect()
        assert rows == [], f"{op.__name__} returned rows from empty input"


def test_daily_coverage_oracle(spark, duck, sf_dir):
    """Staged for r7: hour-sharded interval union vs the identical
    island-merge oracle."""
    from pac_spark.operators.temporal import COVERAGE_SQL, daily_coverage_us
    from tests.conftest import assert_oracle_match

    assert_oracle_match(daily_coverage_us(spark, sf_dir), duck.sql(COVERAGE_SQL))


def test_daily_coverage_crafted(spark, tmp_path):
    """Union semantics pinned: overlapping sessions count once,
    disjoint stretches add, a point session adds zero, and a
    midnight-spanning session contributes to both days."""
    import pandas as pd

    rows = [  # (user, ts)
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:08:00"),  # [10:00,10:08]
        (2, "2024-01-01 10:04:00"), (2, "2024-01-01 10:12:00"),  # overlaps -> union [10:00,10:12]
        (3, "2024-01-01 15:00:00"),                               # point, zero measure
        (4, "2024-01-01 23:58:00"), (4, "2024-01-02 00:06:00"),   # spans midnight
        (5, "2024-01-01 14:55:00"), (5, "2024-01-01 15:05:00"),   # spans an HOUR boundary
    ]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime([t for _, t in rows]).astype("datetime64[us]"),
            "user_id": [u for u, _ in rows],
            "event_type": ["view"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import daily_coverage_us

    got = {r["day"]: r for r in daily_coverage_us(spark, str(tmp_path)).collect()}
    # Jan 1: [10:00,10:12] = 720s + [14:55,15:05] = 600s (ONE stretch
    # though it crosses the 15:00 hour cell — code-review r6 #1; the
    # 15:00 point session merges into it) + 23:58->24:00 = 120s
    assert got["2024-01-01"]["covered_us"] == (720 + 600 + 120) * 1_000_000
    assert got["2024-01-01"]["n_stretches"] == 3
    # Jan 2: 00:00 -> 00:06 = 360s; the midnight-crossing stretch
    # counts again here by design (per-day view)
    assert got["2024-01-02"]["covered_us"] == 360 * 1_000_000
    assert got["2024-01-02"]["n_stretches"] == 1


def test_rolling_hll_oracle(spark, duck, sf_dir):
    """Staged for r7: merged daily sketches vs the identical rebuild."""
    from pac_spark.operators.sketch import (
        ROLLING_HLL_SQL,
        rolling_7d_distinct_users_hll,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        rolling_7d_distinct_users_hll(spark, sf_dir), duck.sql(ROLLING_HLL_SQL)
    )


def test_rolling_hll_merge_equals_sketch_of_union(spark, sf_dir):
    """The defining mergeability property: the window-merged sketch
    estimate for an anchor day must EQUAL the estimate of a sketch
    built directly from the union of that window's raw user ids."""
    import datetime
    import hashlib

    from pyspark.sql import functions as F

    from pac_spark import catalog
    from pac_spark.operators.sketch import (
        HLL_K,
        HLL_M,
        _HLL_EST_NUM,
        rolling_7d_distinct_users_hll,
    )

    rows = rolling_7d_distinct_users_hll(spark, sf_dir).collect()
    assert rows
    anchor = rows[-1]  # latest day: fullest window
    d1 = datetime.date.fromisoformat(anchor["day"])
    d0 = d1 - datetime.timedelta(days=6)
    users = [
        r["user_id"]
        for r in catalog.load(spark, sf_dir, "events")
        .filter((F.to_date("ts") >= F.lit(d0)) & (F.to_date("ts") <= F.lit(d1)))
        .select("user_id")
        .distinct()
        .collect()
    ]
    regs = {}
    for u in users:
        h = int(hashlib.md5(f"hll1|{u}".encode()).hexdigest()[:15], 16)
        w = h // HLL_M
        rho = 55 if w == 0 else (w & -w).bit_length()
        regs[h % HLL_M] = max(regs.get(h % HLL_M, 0), rho)
    s = sum(1 << (HLL_K - m) for m in regs.values()) + (HLL_M - len(regs)) * (
        1 << HLL_K
    )
    assert abs(anchor["hll_estimate"] - _HLL_EST_NUM / s) < 1e-9


def test_percentiles_cont_oracle(spark, duck, sf_dir):
    """Staged for r7: interpolated percentiles vs the identical
    integer-rank oracle."""
    from pac_spark.operators.stats import PCT_CONT_SQL, percentiles_cont_price_by_flag
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        percentiles_cont_price_by_flag(spark, sf_dir), duck.sql(PCT_CONT_SQL)
    )


def test_percentiles_cont_matches_numpy(spark, tmp_path):
    """The interpolation is numpy's default (linear on p*(n-1))."""
    import numpy as np
    import pandas as pd

    # SIX values: p25 lands at rank 1.25, p75 at 3.75 — the remainder
    # f is nonzero, so a wrong interpolation term cannot hide behind
    # exact order statistics (code-review r6 #3)
    vals = [10.00, 20.00, 30.00, 40.00, 70.00, 100.00]
    pd.DataFrame(
        {
            "l_orderkey": range(len(vals)),
            "l_partkey": [1] * len(vals),
            "l_suppkey": [1] * len(vals),
            "l_linenumber": [1] * len(vals),
            "l_quantity": [1.0] * len(vals),
            "l_extendedprice": vals,
            "l_discount": [0.0] * len(vals),
            "l_tax": [0.0] * len(vals),
            "l_returnflag": ["A"] * len(vals),
            "l_linestatus": ["O"] * len(vals),
            "l_shipdate": pd.to_datetime(["2024-01-01"] * len(vals)).astype(
                "datetime64[us]"
            ),
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.stats import percentiles_cont_price_by_flag

    r = percentiles_cont_price_by_flag(spark, str(tmp_path)).collect()[0]
    for p in (25, 50, 75):
        want = float(np.percentile(vals, p))
        assert abs(r[f"p{p}_price"] - want) < 1e-9, (p, r[f"p{p}_price"], want)


def test_streaming_left_outer_join_oracle(spark, duck, sf_dir):
    """Staged for r7: watermarked LEFT OUTER stream-stream join vs the
    batch oracle over the matured prefix — NULL rows included."""
    from pac_spark.streaming.stream_exec import (
        STREAM_PC_LEFT_ORACLE,
        streaming_purchase_click_left_join,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_purchase_click_left_join(spark, sf_dir),
        duck.sql(STREAM_PC_LEFT_ORACLE),
    )


def test_streaming_left_outer_join_emits_unattributed(spark, sf_dir):
    """The point of OUTER: at least one purchase with no qualifying
    click must appear with NULLs (the fixture's purchases are not all
    click-attributed), and no purchase may be lost vs the inner join."""
    from pyspark.sql import functions as F

    from pac_spark.streaming.stream_exec import (
        streaming_purchase_click_left_join,
    )

    out = streaming_purchase_click_left_join(spark, sf_dir)
    rows = out.collect()
    assert any(r["unattributed"] for r in rows)
    assert all(
        (r["click_id"] is None) == r["unattributed"] for r in rows
    )


def test_kmv_overlap_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: KMV/theta pairwise overlap vs the identical
    single-phase k-smallest oracle (the two-phase selection is
    invisible in the result)."""
    from pac_spark.operators.sketch import KMV_SQL, kmv_nation_part_overlap
    from tests.conftest import assert_oracle_match

    assert_oracle_match(kmv_nation_part_overlap(spark, sf_dir), duck.sql(KMV_SQL))


def test_kmv_exact_below_k_and_replay_above_k(spark, tmp_path):
    """Two regimes pinned: a nation with < k parts estimates EXACTLY
    (theta = full range), and a nation with > k parts reproduces the
    hand-replayed (k-1)/h_k estimate; the intersection estimate of a
    known 60%-overlap pair replays the same way."""
    import hashlib

    import pandas as pd

    from pac_spark.operators.sketch import (
        _KMV_RANGE,
        KMV_K,
        kmv_nation_part_overlap,
    )

    # nation 0 = parts 0..199, nation 1 = parts 120..319 (overlap 80),
    # nation 2 = parts 0..9 (below k -> exact regime)
    sets = {0: range(0, 200), 1: range(120, 320), 2: range(0, 10)}
    rows = [(n, p) for n, parts in sets.items() for p in parts]
    pd.DataFrame(
        {
            "l_orderkey": range(len(rows)),
            "l_suppkey": [n for n, _ in rows],
            "l_partkey": [p for _, p in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    pd.DataFrame(
        {"s_suppkey": [0, 1, 2], "s_nationkey": [0, 1, 2]}
    ).to_parquet(tmp_path / "supplier.parquet")
    pd.DataFrame(
        {"n_nationkey": [0, 1, 2], "n_name": ["A", "B", "C"]}
    ).to_parquet(tmp_path / "nation.parquet")

    def h(p):
        return int(hashlib.md5(f"kmv1|{p}".encode()).hexdigest()[:15], 16)

    def sketch(parts):
        hs = sorted(h(p) for p in parts)
        theta = hs[KMV_K - 1] if len(hs) >= KMV_K else _KMV_RANGE
        return {x for x in hs[:KMV_K] if x < theta}, theta

    got = {
        (r["nation_a"], r["nation_b"]): r
        for r in kmv_nation_part_overlap(spark, str(tmp_path)).collect()
    }
    sk = {n: sketch(ps) for n, ps in zip("ABC", sets.values())}
    ab = got[("A", "B")]
    sa, ta = sk["A"]
    sb, tb = sk["B"]
    assert abs(ab["kmv_est_a"] - len(sa) * float(_KMV_RANGE) / ta) < 1e-6
    assert abs(ab["kmv_est_b"] - len(sb) * float(_KMV_RANGE) / tb) < 1e-6
    tab = min(ta, tb)
    common = len({x for x in sa & sb if x < tab})
    assert abs(ab["kmv_est_intersection"] - common * float(_KMV_RANGE) / tab) < 1e-6
    assert ab["exact_intersection"] == 80
    # the estimate should be in the right ballpark (k=64 on n=200:
    # ~12.5% RSE; allow 4 sigma)
    assert abs(ab["kmv_est_a"] - 200) < 100
    # below-k regime is EXACT
    ac = got[("A", "C")]
    assert ac["kmv_est_b"] == 10.0
    assert ac["exact_intersection"] == 10


def test_association_rules_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: directed association rules vs the identical
    counts/lift oracle."""
    from pac_spark.operators.recommend import ASSOC_RULES_SQL, association_rules_parts
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        association_rules_parts(spark, sf_dir), duck.sql(ASSOC_RULES_SQL)
    )


def test_item_item_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: item-item cosine top-k vs the identical
    windowed oracle."""
    from pac_spark.operators.recommend import ITEM_ITEM_SQL, item_item_similar_parts
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        item_item_similar_parts(spark, sf_dir), duck.sql(ITEM_ITEM_SQL)
    )


def test_recommend_crafted(spark, tmp_path):
    """Hand-computed rules and cosines on four known baskets; the
    below-threshold pair is absent; a twice-ordered part counts once."""
    import math

    import pandas as pd

    baskets = {1: [1, 2], 2: [1, 2, 2], 3: [1, 3], 4: [4]}
    rows = [(o, p) for o, parts in baskets.items() for p in parts]
    pd.DataFrame(
        {
            "l_orderkey": [o for o, _ in rows],
            "l_partkey": [p for _, p in rows],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.recommend import (
        association_rules_parts,
        item_item_similar_parts,
    )

    rules = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules_parts(spark, str(tmp_path)).collect()
    }
    # n_1 = 3, n_2 = 2 (dup in basket 2 counts once), N = 4
    assert set(rules) == {(1, 2), (2, 1)}  # pair (1,3) has n_both=1
    r = rules[(2, 1)]
    assert r["n_both"] == 2 and r["n_antecedent"] == 2 and r["n_consequent"] == 3
    assert r["confidence"] == 1.0
    assert abs(r["lift"] - (2 * 4) / (2 * 3)) < 1e-15
    assert abs(r["support"] - 0.5) < 1e-15
    sims = {
        (r["part_a"], r["part_b"]): r
        for r in item_item_similar_parts(spark, str(tmp_path)).collect()
    }
    assert set(sims) == {(1, 2), (2, 1)}
    assert abs(sims[(1, 2)]["cosine"] - 2 / math.sqrt(6)) < 1e-15
    assert sims[(1, 2)]["rank"] == 1


def test_ewma_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: power-of-two EWMA vs the identical lag-chain
    oracle."""
    from pac_spark.operators.stats import EWMA_SQL, ewma_user_value
    from tests.conftest import assert_oracle_match

    assert_oracle_match(ewma_user_value(spark, sf_dir), duck.sql(EWMA_SQL))


def test_ewma_matches_pandas_and_truncates(spark, tmp_path):
    """A short series equals pandas ewm(alpha=1/2, adjust=True)
    exactly (below the span, truncation is invisible); a long series
    equals the hand-replayed 16-term truncated form, which pandas'
    full-history ewm only approaches."""
    import pandas as pd

    from pac_spark.operators.stats import EWMA_SPAN, ewma_user_value

    short = [1.00, 2.00, 4.00, 8.00, 3.00]
    long = [float(2 + (i * 7) % 50) for i in range(40)]
    rows = [(1, v) for v in short] + [(2, v) for v in long]
    ts0 = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [ts0 + pd.Timedelta(minutes=i) for i in range(len(rows))],
            "user_id": [u for u, _ in rows],
            "event_type": ["view"] * len(rows),
            "value": [v for _, v in rows],
        }
    ).to_parquet(tmp_path / "events.parquet")
    got = {r["user_id"]: r for r in ewma_user_value(spark, str(tmp_path)).collect()}

    want_short = pd.Series(short).ewm(alpha=0.5, adjust=True).mean().iloc[-1]
    assert abs(got[1]["ewma_value"] - want_short) < 1e-12
    assert got[1]["last_value"] == 3.00 and got[1]["n_events"] == 5

    cents = [round(v * 100) for v in long][-EWMA_SPAN:][::-1]  # newest first
    num = sum(c * (1 << (EWMA_SPAN - 1 - i)) for i, c in enumerate(cents))
    den = sum(1 << (EWMA_SPAN - 1 - i) for i in range(EWMA_SPAN))
    assert abs(got[2]["ewma_value"] - num / den / 100.0) < 1e-12
    assert got[2]["n_events"] == 40


def test_attribution_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: last-touch attribution vs the identical
    carried-window oracle."""
    from pac_spark.operators.temporal import ATTRIBUTION_SQL, attribution_last_touch
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        attribution_last_touch(spark, sf_dir), duck.sql(ATTRIBUTION_SQL)
    )


def test_attribution_crafted(spark, tmp_path):
    """Semantics pinned: the LATEST touch wins (click after view), the
    lookback cutoff unattributes stale touches, an equal-timestamp
    touch with lower event_id attributes, and revenue/minutes are the
    hand-computed values."""
    import pandas as pd

    rows = [  # (event_id, user, type, ts, value)
        # user 1: view 10:00, click 10:30, purchase 10:45 -> click, 15 min
        (1, 1, "view", "2024-01-01 10:00:00", 1.00),
        (2, 1, "click", "2024-01-01 10:30:00", 1.00),
        (3, 1, "purchase", "2024-01-01 10:45:00", 20.00),
        # user 2: view 09:00, purchase 11:00 -> outside 1h, unattributed
        (4, 2, "view", "2024-01-01 09:00:00", 1.00),
        (5, 2, "purchase", "2024-01-01 11:00:00", 7.00),
        # user 3: view at the SAME ts as the purchase, lower event_id
        (6, 3, "view", "2024-01-01 12:00:00", 1.00),
        (7, 3, "purchase", "2024-01-01 12:00:00", 5.00),
        # user 4: no touches at all
        (8, 4, "purchase", "2024-01-01 13:00:00", 3.00),
    ]
    pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[3] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [r[4] for r in rows],
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import attribution_last_touch

    got = {r["channel"]: r for r in attribution_last_touch(spark, str(tmp_path)).collect()}
    assert set(got) == {"click", "view", "unattributed"}
    assert got["click"]["n_purchases"] == 1 and got["click"]["revenue"] == 20.00
    assert abs(got["click"]["avg_minutes_to_touch"] - 15.0) < 1e-12
    assert got["view"]["n_purchases"] == 1 and got["view"]["revenue"] == 5.00
    assert got["view"]["avg_minutes_to_touch"] == 0.0
    assert got["unattributed"]["n_purchases"] == 2
    assert got["unattributed"]["revenue"] == 10.00
    assert got["unattributed"]["avg_minutes_to_touch"] is None


def test_bpe_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: BPE merge induction vs the formulation-
    diverse oracle (row-local greedy fold in Spark, match-island
    parity windows in DuckDB)."""
    from pac_spark.operators.text import BPE_SQL, bpe_learn_merges
    from tests.conftest import assert_oracle_match

    assert_oracle_match(bpe_learn_merges(spark, sf_dir), duck.sql(BPE_SQL))


def test_bpe_matches_reference_replay(spark, tmp_path):
    """Third formulation: a from-scratch Python replay of Sennrich's
    algorithm (overlapping pair counts, greedy non-overlapping apply,
    count-then-lexicographic argmax) must produce the identical merge
    table — including on a corpus engineered with same-letter runs
    ('aaaa') where overlap handling shows."""
    import pandas as pd

    from pac_spark.operators.text import BPE_MERGES, bpe_learn_merges

    texts = [
        "low low low low lower lower newest newest",
        "newest newest widest widest aaaa aaaa aaaa",
        "banana banana bandana Xupper 1digit toolongwordxxxxxxxxxxxxx",
    ]
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    # independent replay
    freq = {}
    for t in texts:
        for w in t.split(" "):
            if w.isascii() and w.isalpha() and w.islower() and 2 <= len(w) <= 20:
                freq[w] = freq.get(w, 0) + 1
    vocab = {w: list(w) for w in freq}
    want = []
    for rank in range(1, BPE_MERGES + 1):
        counts = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + freq[w]
                )
        if not counts:
            break
        (x, y), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, x, y, x + y, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_learn_merges(spark, str(tmp_path)).collect()
    ]
    assert got == want
    # the run corpus exercised the greedy-overlap rule: some learned
    # merge must involve a doubled symbol
    assert any(l == r for _, l, r, _, _ in want)


def test_auc_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: Mann-Whitney AUC vs the identical
    histogram-rank oracle."""
    from pac_spark.operators.evaluate import AUC_SQL, auc_value_predicts_purchase
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        auc_value_predicts_purchase(spark, sf_dir), duck.sql(AUC_SQL)
    )


def test_decile_lift_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: decile gains table vs the identical
    boundary-bucket oracle."""
    from pac_spark.operators.evaluate import (
        DECILE_LIFT_SQL,
        decile_lift_value_purchase,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        decile_lift_value_purchase(spark, sf_dir), duck.sql(DECILE_LIFT_SQL)
    )


def test_auc_matches_pair_counting(spark, tmp_path):
    """The histogram-rank identity equals brute-force pair counting
    (ties = 1/2) on a crafted score set with heavy ties, and a
    perfectly separating score yields AUC 1."""
    import pandas as pd

    pos = [5.00, 3.00, 3.00, 9.00]
    neg = [1.00, 3.00, 2.00, 3.00, 4.00]
    rows = [("purchase", v) for v in pos] + [("view", v) for v in neg]
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.to_datetime(["2024-01-01"] * len(rows)).astype("datetime64[us]"),
            "user_id": [1] * len(rows),
            "event_type": [t for t, _ in rows],
            "value": [v for _, v in rows],
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.evaluate import auc_value_predicts_purchase

    [r] = auc_value_predicts_purchase(spark, str(tmp_path)).collect()
    want = sum(
        1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
    ) / (len(pos) * len(neg))
    assert r["n_pos"] == 4 and r["n_neg"] == 5
    assert abs(r["auc"] - want) < 1e-15
    assert abs(r["gini"] - (2 * want - 1)) < 1e-15


def test_auc_degenerate_labels_null(spark, tmp_path):
    """All-negative input: NULL AUC/Gini, not an ANSI divide-by-zero."""
    import pandas as pd

    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01"] * 2).astype("datetime64[us]"),
            "user_id": [1, 1],
            "event_type": ["view", "click"],
            "value": [1.00, 2.00],
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.evaluate import auc_value_predicts_purchase

    [r] = auc_value_predicts_purchase(spark, str(tmp_path)).collect()
    assert r["auc"] is None and r["gini"] is None
    assert r["n_pos"] == 0 and r["n_neg"] == 2


def test_decile_lift_mass_balance(spark, sf_dir):
    """Deciles partition the SCORED table (counts sum to the total of
    non-NULL-value events — the stated exclusion contract) and the
    lift identity holds: sum(n_purchases) re-derives the base rate."""
    from pyspark.sql import functions as F

    from pac_spark.operators.evaluate import decile_lift_value_purchase

    out = decile_lift_value_purchase(spark, sf_dir)
    ev_n = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("value").isNotNull())
        .count()
    )
    agg = out.agg(
        F.sum("n_events").alias("ne"), F.sum("n_purchases").alias("np")
    ).collect()[0]
    assert agg["ne"] == ev_n
    rows = out.collect()
    base = agg["np"] / agg["ne"]
    for r in rows:
        if r["lift"] is not None:
            assert abs(r["lift"] - r["purchase_rate"] / base) < 1e-9


def test_streaming_ewma_matches_batch_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: stream-maintained EWMA state read off at the
    end must equal the batch lag-chain oracle."""
    from pac_spark.streaming.stateful import streaming_ewma_user_value
    from pac_spark.operators.stats import EWMA_SQL
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_ewma_user_value(spark, sf_dir), duck.sql(EWMA_SQL)
    )


def test_ewma_state_merge_is_order_free(spark, tmp_path):
    """Adversarial split: one user's 20 events scattered across three
    files delivered LATEST-FIRST; the folded state must equal the
    single-shot partial over the whole table (top-k under a total
    order is a commutative monoid), and the survivors must be exactly
    the newest EWMA_SPAN events."""
    import os
    import time

    import pandas as pd

    from pac_spark.operators.stats import EWMA_SPAN
    from pac_spark.streaming.stateful import (
        _ewma_merge,
        _ewma_partial,
        _rotate_view,
    )

    ts0 = pd.Timestamp("2024-06-01 08:00:00")
    rows = [(i, float(i + 1)) for i in range(20)]  # event_id == minute index
    chunks = [rows[10:20], rows[0:5], rows[5:10]]  # newest chunk first
    src = tmp_path / "src"
    src.mkdir()
    for i, chunk in enumerate(chunks):
        frame = pd.DataFrame(
            {
                "event_id": [r[0] for r in chunk],
                "ts": [ts0 + pd.Timedelta(minutes=r[0]) for r in chunk],
                "user_id": 1,
                "event_type": "view",
                "value": [r[1] for r in chunk],
            }
        )
        frame["ts"] = frame["ts"].astype("datetime64[us]")
        frame.to_parquet(src / f"part-{i}.parquet")
    now = time.time()
    for i, name in enumerate(["part-0.parquet", "part-1.parquet", "part-2.parquet"]):
        os.utime(src / name, (now + i, now + i))

    schema = spark.read.parquet(str(src)).schema
    state = {"view": None, "handles": []}
    n_batches = []

    def fold(batch_df, _bid):
        n_batches.append(batch_df.count())
        delta = _ewma_partial(batch_df)
        view = state["view"]
        merged = delta if view is None else _ewma_merge(view, delta)
        _rotate_view(state, merged)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(fold)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(n_batches) == 3

    def canon(df):
        return sorted(
            (r["user_id"], r["n"], tuple((x["event_id"], x["cents"]) for x in r["top"]))
            for r in df.collect()
        )

    single = _ewma_partial(spark.read.parquet(str(src)))
    assert canon(state["view"]) == canon(single)
    [row] = state["view"].collect()
    assert row["n"] == 20
    assert [x["event_id"] for x in row["top"]] == list(range(19, 19 - EWMA_SPAN, -1))


def test_kcore_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: synchronous 2-core peel vs the identical
    8-round unrolled oracle (early exit is idempotent)."""
    from pac_spark.operators.graph import KCORE_SQL, kcore_parts
    from tests.conftest import assert_oracle_match

    assert_oracle_match(kcore_parts(spark, sf_dir), duck.sql(KCORE_SQL))


def test_kcore_crafted(spark, tmp_path):
    """A triangle with a 3-node pendant chain: the chain peels away
    over multiple synchronous rounds (deepest node first), leaving
    exactly the triangle at degree 2 — and an isolated edge vanishes."""
    from pac_spark.operators.graph import kcore_parts
    from tests.conftest import write_pendant_triangle

    write_pendant_triangle(tmp_path)

    got = {r["part_id"]: r["core_degree"] for r in kcore_parts(spark, str(tmp_path)).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_dedup_canonical_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: canonical-doc election over dup components vs
    the recursive-walk oracle."""
    from pac_spark.operators.dedup import dedup_canonical_docs
    from pac_spark.plans.llm_plans import CANONICAL_SQL
    from tests.conftest import assert_oracle_match

    assert_oracle_match(dedup_canonical_docs(spark, sf_dir), duck.sql(CANONICAL_SQL))


def test_dedup_canonical_semantics(spark, sf_dir):
    """Election invariants: exactly one canonical per cluster, the
    canonical has the cluster's max n_chars (min doc_id on ties),
    n_docs matches the member count, and every returned cluster is a
    real dup cluster (>= 2 docs)."""
    from collections import defaultdict

    from pac_spark.operators.dedup import dedup_canonical_docs

    rows = dedup_canonical_docs(spark, sf_dir).collect()
    assert rows, "no dup clusters at this SF"
    clusters = defaultdict(list)
    for r in rows:
        clusters[r["cluster_id"]].append(r)
    for cid, members in clusters.items():
        assert len(members) >= 2
        assert all(m["n_docs"] == len(members) for m in members)
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1
        best = min(members, key=lambda m: (-m["n_chars"], m["doc_id"]))
        assert canon[0]["doc_id"] == best["doc_id"]


def test_spatial_neighbors_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: grid-blocked radius self-join vs the
    identical digit-wise md5 + integer-geometry oracle."""
    from pac_spark.operators.spatial import (
        SPATIAL_NEIGHBORS_SQL,
        spatial_customer_neighbors,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        spatial_customer_neighbors(spark, sf_dir), duck.sql(SPATIAL_NEIGHBORS_SQL())
    )


def test_spatial_neighbors_crafted(spark):
    """Hand-placed points pin the geometry: (a) a pair straddling a
    cell boundary IS found (the stencil covers it); (b) a pair at
    exactly RADIUS is inside (<=); (c) one unit past RADIUS is out;
    (d) nearest ties break to the smaller key; (e) isolated points
    are absent."""
    from pac_spark.operators.spatial import RADIUS, neighbor_stats

    cell = RADIUS  # cell side == RADIUS
    pts = [
        # (a) straddle a vertical cell boundary: x = cell-1 vs cell+1
        (1, cell - 1, 500), (2, cell + 1, 500),
        # (b)/(c): 10 at exactly RADIUS from 11; 12 one unit beyond
        (10, 10 * cell, 0), (11, 10 * cell + RADIUS, 0),
        (12, 10 * cell - RADIUS - 1, 0),
        # (d) 20 equidistant from 21 and 22 -> nearest = 21
        (21, 5 * cell, 5 * cell - 10), (22, 5 * cell, 5 * cell + 10),
        (20, 5 * cell, 5 * cell),
        # (e) isolated far corner
        (99, 15 * cell + 100, 15 * cell + 100),
    ]
    df = spark.createDataFrame(pts, "c_custkey long, x long, y long")
    got = {r["c_custkey"]: r for r in neighbor_stats(df).collect()}
    assert got[1]["nearest_custkey"] == 2 and got[2]["nearest_custkey"] == 1
    assert got[1]["nearest_d2"] == 4
    assert got[10]["n_within"] == 1 and got[10]["nearest_custkey"] == 11
    assert got[10]["nearest_d2"] == RADIUS * RADIUS
    assert 12 not in got  # RADIUS+1 away from 10, and 2*RADIUS+1 from 11
    assert got[20]["n_within"] == 2 and got[20]["nearest_custkey"] == 21
    assert got[21]["nearest_custkey"] == 20 and got[22]["nearest_custkey"] == 20
    assert 99 not in got


def test_k_anonymity_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: privacy audit vs the identical banded
    QI-group oracle."""
    from pac_spark.operators.profile import K_ANONYMITY_SQL, k_anonymity_customer_qi
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        k_anonymity_customer_qi(spark, sf_dir), duck.sql(K_ANONYMITY_SQL())
    )


def test_k_anonymity_crafted(spark, tmp_path):
    """Pin the audit semantics: a 5-row group with one band meets k5
    but not l3; a 3-row group with 3 distinct bands meets l3 but not
    k5; negative balances band WITHOUT colliding into the first
    positive band (the shift keeps int_div on non-negative ground)."""
    import pandas as pd

    rows = (
        # group A: n=5, all in the same $1000 band
        [(i, "n", 0, "AUTO", 500.00) for i in range(5)]
        # group B: n=3, three distinct bands
        + [(10, "n", 1, "BIKE", 500.00), (11, "n", 1, "BIKE", 1500.00),
           (12, "n", 1, "BIKE", 2500.00)]
        # group C: negative vs small-positive balances = 2 bands
        + [(20, "n", 2, "SHIP", -999.99), (21, "n", 2, "SHIP", 500.00)]
    )
    pd.DataFrame(
        rows, columns=["c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"]
    ).to_parquet(tmp_path / "customer.parquet")
    from pac_spark.operators.profile import k_anonymity_customer_qi

    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r
        for r in k_anonymity_customer_qi(spark, str(tmp_path)).collect()
    }
    a, b, c = got[(0, "AUTO")], got[(1, "BIKE")], got[(2, "SHIP")]
    assert a["group_n"] == 5 and a["meets_k5"] and a["l_distinct_bands"] == 1
    assert not a["meets_l3"]
    assert b["l_distinct_bands"] == 3 and b["meets_l3"] and not b["meets_k5"]
    assert c["l_distinct_bands"] == 2  # -999.99 does not collide with +500


def test_theilsen_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: Theil–Sen robust trend vs the identical
    pairwise-slope median oracle."""
    from pac_spark.operators.stats import THEILSEN_SQL, theilsen_trend_by_type
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        theilsen_trend_by_type(spark, sf_dir), duck.sql(THEILSEN_SQL())
    )


def test_theilsen_robustness_crafted(spark, tmp_path):
    """The point of Theil–Sen: a clean $2/day trend with ONE wild
    outlier day keeps slope exactly 2e8 microcents/day and intercept
    0 (OLS would be dragged arbitrarily); and a negative slope
    truncates toward zero identically to the oracle's `//`."""
    import pandas as pd

    rows = [("a", f"2024-01-0{d + 1}", 2.00 * d) for d in range(7)]
    rows[3] = ("a", "2024-01-04", 10_000.00)  # the wild day
    rows += [("b", "2024-01-01", 0.05), ("b", "2024-01-04", 0.00)]
    df = pd.DataFrame(rows, columns=["event_type", "ts", "value"])
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import theilsen_trend_by_type

    got = {r["event_type"]: r for r in theilsen_trend_by_type(spark, str(tmp_path)).collect()}
    a = got["a"]
    assert a["n_days"] == 7 and a["n_pairs"] == 21
    assert a["slope_microcents_per_day"] == 200 * 1_000_000
    # intercept is at x = 0 = epoch day zero: clean points all give
    # exactly -slope * d0 (the outlier's value lands past the median)
    d0 = (pd.Timestamp("2024-01-01") - pd.Timestamp("1970-01-01")).days
    assert a["intercept_microcents"] == -200 * 1_000_000 * d0
    # dy = -5 cents over dx = 3 days: trunc(-5e6/3) = -1666666 (not floor)
    assert got["b"]["slope_microcents_per_day"] == -1_666_666


def test_pattern_runs_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: MATCH_RECOGNIZE-style (view+ click+
    purchase+) run pattern vs the identical RLE oracle."""
    from pac_spark.operators.temporal import (
        PATTERN_RUNS_SQL,
        pattern_runs_view_click_purchase,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        pattern_runs_view_click_purchase(spark, sf_dir), duck.sql(PATTERN_RUNS_SQL())
    )


def test_pattern_runs_crafted(spark, tmp_path):
    """Adjacency is the predicate: (a) view,view,click,purchase
    matches with n_views=2; (b) an interleaved error BREAKS the chain
    (the funnels would still fire); (c) two disjoint matches in one
    user's stream both emit; (d) purchase-first never matches."""
    import pandas as pd

    seq = {
        1: ["view", "view", "click", "purchase"],
        2: ["view", "error", "click", "purchase"],
        3: ["view", "click", "purchase", "view", "click", "click", "purchase"],
        4: ["purchase", "click", "view"],
    }
    rows = []
    eid = 0
    for uid, types in seq.items():
        for i, t in enumerate(types):
            rows.append((eid, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), uid, t))
            eid += 1
    df = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import pattern_runs_view_click_purchase

    got = pattern_runs_view_click_purchase(spark, str(tmp_path)).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == {1, 3}
    assert by_user[1][0]["n_views"] == 2 and by_user[1][0]["n_clicks"] == 1
    assert len(by_user[3]) == 2
    assert [m["n_clicks"] for m in by_user[3]] == [1, 2]


def test_bitmap_distinct_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: bitmap-word distinct vs the INDEPENDENT
    COUNT(DISTINCT) formulation — hash equality proves semantics."""
    from pac_spark.operators.sketch import (
        BITMAP_DISTINCT_SQL,
        bitmap_distinct_users_daily,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        bitmap_distinct_users_daily(spark, sf_dir), duck.sql(BITMAP_DISTINCT_SQL)
    )


def test_bitmap_distinct_crafted(spark, tmp_path):
    """Bit-63 (negative word) and word-boundary ids count correctly,
    and duplicates collapse: users {0, 63, 64, 127, 128, 63, 0} on
    one day = 5 distinct across three words, one of which is held
    entirely in sign/high bits."""
    import pandas as pd

    uids = [0, 63, 64, 127, 128, 63, 0]
    df = pd.DataFrame(
        {
            "event_id": range(len(uids)),
            "ts": pd.to_datetime(["2024-01-01"] * len(uids)),
            "user_id": uids,
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.sketch import bitmap_distinct_users_daily

    rows = bitmap_distinct_users_daily(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0]["n_distinct_users"] == 5


def test_benford_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: Benford first-digit audit vs the identical
    integer milli-probability oracle."""
    from pac_spark.operators.profile import BENFORD_SQL, benford_price_audit
    from tests.conftest import assert_oracle_match

    assert_oracle_match(benford_price_audit(spark, sf_dir), duck.sql(BENFORD_SQL()))


def test_benford_crafted(spark, tmp_path):
    """First digits come from integer cents, missing digits still
    report with a positive chi-square contribution, and the expected
    column is exact n*p_milli: prices 1.23 (digit 1), 0.91 (digit 9,
    sub-dollar), 54.00 (digit 5), 5.99 (digit 5)."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3, 4],
            "o_totalprice": [1.23, 0.91, 54.00, 5.99],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    from pac_spark.operators.profile import benford_price_audit

    got = {r["digit"]: r for r in benford_price_audit(spark, str(tmp_path)).collect()}
    assert sorted(got) == list(range(1, 10))
    assert got[1]["n_obs"] == 1 and got[9]["n_obs"] == 1 and got[5]["n_obs"] == 2
    assert got[2]["n_obs"] == 0 and got[2]["chi2_contrib"] > 0
    assert got[1]["expected_milli"] == 4 * 301


def test_mix_drift_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: daily event-mix TV distance vs the identical
    cleared-denominator rational oracle."""
    from pac_spark.operators.stats import MIX_DRIFT_SQL, daily_event_mix_drift
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        daily_event_mix_drift(spark, sf_dir), duck.sql(MIX_DRIFT_SQL())
    )


def test_mix_drift_crafted(spark, tmp_path):
    """TV semantics pinned by hand-checkable mixes: day 1 = corpus mix
    minus one type entirely, day 2 = the complement. Corpus = 30 a +
    30 b over two days; day1 = 30 a, day2 = 30 b → each day's TV vs
    the 50/50 corpus is exactly 0.5 → 500 milli, flagged."""
    import pandas as pd

    rows = [("2024-01-01", "a")] * 30 + [("2024-01-02", "b")] * 30
    df = pd.DataFrame(rows, columns=["day", "event_type"])
    df["ts"] = pd.to_datetime(df["day"]).astype("datetime64[us]")
    df["event_id"] = range(len(df))
    df[["event_id", "ts", "event_type"]].to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import daily_event_mix_drift

    got = {r["day"]: r for r in daily_event_mix_drift(spark, str(tmp_path)).collect()}
    assert got["2024-01-01"]["tv_milli"] == 500
    assert got["2024-01-02"]["tv_milli"] == 500
    assert got["2024-01-01"]["is_drifted"] and got["2024-01-02"]["is_drifted"]


def test_ivm_join_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: delta-join view maintenance vs the
    INDEPENDENT full-recompute oracle (aggregate the NEW join)."""
    from pac_spark.operators.scd import IVM_JOIN_SQL, ivm_join_nation_revenue
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        ivm_join_nation_revenue(spark, sf_dir), duck.sql(IVM_JOIN_SQL())
    )


def test_ivm_join_cross_term_crafted(spark):
    """The delta-join rule's nasty interleavings, by hand:
    (a) deleted order x inserted customer nets ZERO via the +1*-1
        cross term (without it the O_old x dC term overcounts);
    (b) a customer moving nations drags its surviving order's revenue
        with it;
    (c) an inserted order on an inserted customer lands once;
    (d) an order whose price changed contributes the NEW price."""
    from pac_spark.operators.scd import maintain_join_nation_revenue

    o_old = spark.createDataFrame(
        [(1, 10, 1000), (2, 11, 2000), (3, 12, 3000)],
        "o_orderkey long, o_custkey long, cents long",
    )
    # order 1 deleted (its customer 10 also deleted); order 2 price
    # 2000->2500; order 3 survives; order 4 inserted on NEW customer 13
    o_new = spark.createDataFrame(
        [(2, 11, 2500), (3, 12, 3000), (4, 13, 4000)],
        "o_orderkey long, o_custkey long, cents long",
    )
    c_old = spark.createDataFrame(
        [(10, 0), (11, 1), (12, 2)], "c_custkey long, c_nationkey int"
    )
    # customer 10 deleted, 12 moves nation 2->3, 13 inserted
    c_new = spark.createDataFrame(
        [(11, 1), (12, 3), (13, 4)], "c_custkey long, c_nationkey int"
    )
    got = {
        r["c_nationkey"]: (r["n_orders"], r["total_revenue"])
        for r in maintain_join_nation_revenue(o_old, o_new, c_old, c_new).collect()
    }
    assert got == {1: (1, 25.0), 3: (1, 30.0), 4: (1, 40.0)}


def test_mann_kendall_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: Mann-Kendall S/tau vs the identical
    pairwise-sign oracle."""
    from pac_spark.operators.stats import MANN_KENDALL_SQL, mann_kendall_by_type
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        mann_kendall_by_type(spark, sf_dir), duck.sql(MANN_KENDALL_SQL())
    )


def test_mann_kendall_crafted(spark, tmp_path):
    """Hand-checked trends: strictly increasing daily revenue gives
    tau = +1000 exactly; strictly decreasing gives -1000; and a
    tied-day series contributes sign 0 (type c: values 1,1,2 over
    three days -> S = 2, tau = trunc(2000/3) = 666)."""
    import pandas as pd

    rows = (
        [("a", f"2024-01-0{i+1}", float(i + 1)) for i in range(4)]
        + [("b", f"2024-01-0{i+1}", float(9 - i)) for i in range(4)]
        + [("c", "2024-01-01", 1.0), ("c", "2024-01-02", 1.0), ("c", "2024-01-03", 2.0)]
    )
    df = pd.DataFrame(rows, columns=["event_type", "day", "value"])
    df["ts"] = pd.to_datetime(df["day"]).astype("datetime64[us]")
    df["event_id"] = range(len(df))
    df[["event_id", "ts", "event_type", "value"]].to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import mann_kendall_by_type

    got = {r["event_type"]: r for r in mann_kendall_by_type(spark, str(tmp_path)).collect()}
    assert got["a"]["tau_milli"] == 1000 and got["a"]["s_stat"] == 6
    assert got["b"]["tau_milli"] == -1000 and got["b"]["s_stat"] == -6
    assert got["c"]["s_stat"] == 2 and got["c"]["tau_milli"] == 666


def test_acf_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: calendar-lag autocorrelation vs the identical
    denominator-cleared oracle."""
    from pac_spark.operators.stats import ACF_SQL, acf_daily_revenue
    from tests.conftest import assert_oracle_match

    assert_oracle_match(acf_daily_revenue(spark, sf_dir), duck.sql(ACF_SQL()))


def test_acf_crafted(spark, tmp_path):
    """A period-2 alternating series has ACF(1) < 0 and ACF(2) > 0
    computed against numpy's definition (same full-series mean,
    biased denominator), to 1e-12."""
    import numpy as np
    import pandas as pd

    vals = [10.0, 2.0] * 10
    df = pd.DataFrame(
        {
            "event_id": range(20),
            "ts": pd.to_datetime([f"2024-01-{d+1:02d}" for d in range(20)]),
            "value": vals,
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.stats import acf_daily_revenue

    got = {r["lag"]: r["acf"] for r in acf_daily_revenue(spark, str(tmp_path)).collect()}
    y = np.array([round(v * 100) for v in vals], dtype=float)
    c = y - y.mean()
    den = (c * c).sum()
    for k in (1, 2, 3):
        expect = (c[:-k] * c[k:]).sum() / den
        assert abs(got[k] - expect) < 1e-12
    assert got[1] < 0 < got[2]


def test_levenshtein_tier_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: prefix-blocked edit-distance near-dup pairs
    vs the identical ASCII-projected oracle."""
    from pac_spark.operators.dedup import LEVENSHTEIN_SQL, levenshtein_neardup_pairs
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        levenshtein_neardup_pairs(spark, sf_dir), duck.sql(LEVENSHTEIN_SQL())
    )


def test_levenshtein_tier_crafted(spark, tmp_path):
    """The tier's contract, on crafted docs sharing a 16-char prefix:
    (a) one in-place substitution is a near-dup that SHINGLE tiers
    would score low... but here dist counts chars: sim_milli exact;
    (b) a pair 30% rewritten fails the 20% bar; (c) docs differing in
    their first 16 chars never pair (the documented blind spot);
    (d) non-ASCII chars are invisible to the distance."""
    import pandas as pd

    base = "the quick brown fox jumps over the lazy dog again and again padding"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "lang": ["en"] * 6,
            "text": [
                base,
                base.replace("lazy", "hazy"),            # 1 substitution
                "X" + base[1:],                           # first char differs -> blocked out
                base[: len(base) // 2] + "Z" * 40,        # heavy rewrite
                base + "é中",                    # non-ASCII suffix only
                "short",                                  # < 40 ASCII chars
            ],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.dedup import levenshtein_neardup_pairs

    rows = levenshtein_neardup_pairs(spark, str(tmp_path)).collect()
    pairs = {(r["d1"], r["d2"]): r for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)]["dist"] == 1
    L = len(base)
    assert pairs[(1, 2)]["sim_milli"] == (L - 1) * 1000 // L
    assert (1, 5) in pairs and pairs[(1, 5)]["dist"] == 0  # é中 stripped
    assert not any(3 in p or 4 in p or 6 in p for p in pairs)


def test_assortativity_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: degree assortativity vs the identical
    exact-moment oracle."""
    from pac_spark.operators.graph import ASSORTATIVITY_SQL, degree_assortativity
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        degree_assortativity(spark, sf_dir), duck.sql(ASSORTATIVITY_SQL())
    )


def test_assortativity_star_crafted(spark, tmp_path):
    """A pure hub-and-spoke trade graph (one customer, 5 suppliers)
    is maximally disassortative: r = -1 exactly (every edge joins a
    degree-5 node to a degree-1 node)."""
    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": range(5), "o_custkey": [1] * 5}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": range(5), "l_suppkey": [10 + i for i in range(5)]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.graph import degree_assortativity

    row = degree_assortativity(spark, str(tmp_path)).collect()[0]
    assert row["n_nodes"] == 6 and row["n_edges"] == 10
    assert abs(row["assortativity"] - (-1.0)) < 1e-12


def test_fingerprint_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: content checksum vs the identical digit-wise
    md5 oracle."""
    from pac_spark.operators.profile import FINGERPRINT_SQL, table_fingerprint_by_nation
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        table_fingerprint_by_nation(spark, sf_dir), duck.sql(FINGERPRINT_SQL())
    )


def test_fingerprint_order_invariant_and_sensitive(spark, tmp_path):
    """The integrity contract: a row-PERMUTED copy checksums
    identically (order/layout independence is the whole point), and a
    single-cent change in one row changes that nation's checksum."""
    import pandas as pd

    base = pd.DataFrame(
        {
            "c_custkey": [1, 2, 3, 4],
            "c_name": ["a", "b", "c", "d"],
            "c_nationkey": [0, 0, 1, 1],
            "c_acctbal": [1.11, 2.22, 3.33, 4.44],
            "c_mktsegment": ["X"] * 4,
        }
    )
    (tmp_path / "t1").mkdir(); (tmp_path / "t2").mkdir(); (tmp_path / "t3").mkdir()
    base.to_parquet(tmp_path / "t1" / "customer.parquet")
    base.iloc[::-1].reset_index(drop=True).to_parquet(tmp_path / "t2" / "customer.parquet")
    mut = base.copy(); mut.loc[0, "c_acctbal"] = 1.12
    mut.to_parquet(tmp_path / "t3" / "customer.parquet")
    from pac_spark.operators.profile import table_fingerprint_by_nation

    def sums(d):
        return {
            r["c_nationkey"]: r["checksum"]
            for r in table_fingerprint_by_nation(spark, str(d)).collect()
        }

    s1, s2, s3 = sums(tmp_path / "t1"), sums(tmp_path / "t2"), sums(tmp_path / "t3")
    assert s1 == s2
    assert s1[0] != s3[0] and s1[1] == s3[1]


def test_containment_pairs_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: shingle-set containment tier vs the identical
    exact pairwise oracle."""
    from pac_spark.operators.dedup import CONTAINMENT_SQL, containment_neardup_pairs
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        containment_neardup_pairs(spark, sf_dir), duck.sql(CONTAINMENT_SQL())
    )


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """Crafted corpus pins the asymmetric semantics: a 10-token excerpt
    of a 30-token article has containment 1.0 (pair emitted) but
    Jaccard 8/28 (the Jaccard tier returns nothing)."""
    import pandas as pd

    article = " ".join(f"w{i}" for i in range(30))
    excerpt = " ".join(f"w{i}" for i in range(10, 20))
    other = " ".join(f"u{i}" for i in range(10))
    pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [article, excerpt, other]}
    ).to_parquet(tmp_path / "documents.parquet")

    from pac_spark.operators.dedup import (
        containment_neardup_pairs,
        ngram_jaccard_pairs,
    )

    got = containment_neardup_pairs(spark, str(tmp_path)).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]
    r = got[0]
    assert (r["shared"], r["containment"]) == (8, 1.0)
    assert {r["n_a"], r["n_b"]} == {8, 28}
    assert ngram_jaccard_pairs(spark, str(tmp_path)).collect() == []


def test_containment_hot_shingle_paths(spark, tmp_path):
    """The skew branch, both sub-paths: under a corpus-hot trigram
    (df > MAX_SHINGLE_DF) (a) a one-sided-hot pair resolves exactly on
    the certain branch (m == 0), and (b) a both-sides-hot pair whose
    rare-only bounds straddle the threshold is rescored exactly. The
    whole result still matches the exact pairwise oracle run on the
    same corpus."""
    import duckdb
    import pandas as pd

    from pac_spark.operators.dedup import MAX_SHINGLE_DF

    hot = "hot1 hot2 hot3"
    rows = [(i, f"{hot} only{i}a only{i}b") for i in range(MAX_SHINGLE_DF + 5)]
    base = " ".join(f"w{i}" for i in range(10))
    rows += [
        (100, base),  # rare-only excerpt ...
        (101, f"{hot} {base} " + " ".join(f"w{i}" for i in range(10, 15))),
        (200, f"{hot} x1 x2 x3"),
        (201, f"{hot} x1 x2 x3 x4"),
    ]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )

    from pac_spark.operators.dedup import CONTAINMENT_SQL, containment_neardup_pairs
    from tests.conftest import assert_oracle_match

    got = containment_neardup_pairs(spark, str(tmp_path))
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in got.collect()}
    assert by_pair[(100, 101)]["containment"] == 1.0  # certain branch
    assert by_pair[(200, 201)]["containment"] == 1.0  # rescored branch
    assert by_pair[(200, 201)]["shared"] == 4  # hot shingle re-counted exactly

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    assert_oracle_match(got, con.sql(CONTAINMENT_SQL()))
    con.close()


def test_sssp_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: hop-bounded min-plus shortest paths vs the
    identically-unrolled Bellman-Ford oracle."""
    from pac_spark.operators.graph import SSSP_SQL, sssp_from_hub
    from tests.conftest import assert_oracle_match

    assert_oracle_match(sssp_from_hub(spark, sf_dir), duck.sql(SSSP_SQL()))


def test_sssp_crafted_semantics(spark, tmp_path):
    """Crafted graph pins (a) min-plus: a 3-hop cost-3 path beats a
    direct weight-10 edge; (b) the hop bound: a 7-hop cost-7 path is
    NOT taken within 6 rounds, so the direct weight-40 edge wins; and
    (c) deterministic hub selection (max degree). The result also
    matches the unrolled SQL oracle on the same corpus."""
    import duckdb
    import pandas as pd

    edges = [(1, s, 50) for s in range(10, 16)]  # degree boosters -> hub = c1
    edges += [
        (1, 1, 10),  # direct, beaten by the detour below
        (1, 2, 1), (2, 2, 1), (2, 1, 1),  # c1-s2-c2-s1, cost 3
        # 7-hop weight-1 chain c1-sA1-cA2-sA2-cA3-sA3-cA4-sA4 ...
        (1, 3, 1), (3, 3, 1), (3, 4, 1), (4, 4, 1),
        (4, 5, 1), (5, 5, 1), (5, 6, 1),
        (1, 6, 40),  # ... loses to the direct edge under the 6-hop bound
    ]
    orders = pd.DataFrame(
        {"o_orderkey": range(len(edges)), "o_custkey": [c for c, _, _ in edges]}
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": range(len(edges)),
            "l_suppkey": [s for _, s, _ in edges],
            "l_quantity": [float(w) for _, _, w in edges],
        }
    )
    orders.to_parquet(tmp_path / "orders.parquet")
    lineitem.to_parquet(tmp_path / "lineitem.parquet")

    from pac_spark.operators.graph import SSSP_SQL, sssp_from_hub
    from tests.conftest import assert_oracle_match

    got = sssp_from_hub(spark, str(tmp_path))
    C, S = (lambda k: k * 4 + 1), (lambda k: k * 4 + 2)
    expect = {
        C(1): 0, C(2): 2, C(3): 2, C(4): 4, C(5): 6,
        S(1): 3, S(2): 1, S(3): 1, S(4): 3, S(5): 5, S(6): 40,
        **{S(s): 50 for s in range(10, 16)},
    }
    assert {r["node"]: r["dist"] for r in got.collect()} == expect

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    assert_oracle_match(got, con.sql(SSSP_SQL()))
    con.close()


def test_quantile_normalize_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: cross-source quantile normalization vs the
    identical pooled-order-statistic oracle."""
    from pac_spark.operators.text import quantile_normalized_quality
    from pac_spark.plans.llm_plans import QNORM_SQL
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        quantile_normalized_quality(spark, sf_dir), duck.sql(QNORM_SQL)
    )


def test_quantile_normalize_crafted(spark):
    """Core-mapping semantics pinned: (a) a single source is a fixed
    point (r·N/n_s = r → every value maps to itself); (b) the textbook
    asymmetric example: source A {0,10,20,30} against pooled
    {0,10,20,30,100} maps to {10,20,30,100} (ceil(r·5/4) = 2,3,4,5)
    and source B's lone {100} maps to the pooled max; (c) the mapping
    is monotone within each source."""
    from pac_spark.operators.text import _quantile_normalize

    one = spark.createDataFrame(
        [(i, "s", v) for i, v in enumerate([7, 3, 3, 9, 100])],
        "doc_id long, source string, q_fp long",
    )
    got = {r["doc_id"]: r for r in _quantile_normalize(one).collect()}
    assert all(r["q_norm_fp"] == r["q_fp"] for r in got.values())

    two = spark.createDataFrame(
        [(1, "A", 0), (2, "A", 10), (3, "A", 20), (4, "A", 30), (5, "B", 100)],
        "doc_id long, source string, q_fp long",
    )
    rows = _quantile_normalize(two).collect()
    norm = {r["doc_id"]: r["q_norm_fp"] for r in rows}
    assert norm == {1: 10, 2: 20, 3: 30, 4: 100, 5: 100}
    by_src = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["q_fp"], r["doc_id"])):
        prev = by_src.get(r["source"])
        assert prev is None or r["q_norm_fp"] >= prev
        by_src[r["source"]] = r["q_norm_fp"]


def test_streaming_bitmap_distinct_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: the streamed bitmap fold vs the batch tier's
    INDEPENDENT COUNT(DISTINCT) oracle."""
    from pac_spark.operators.sketch import BITMAP_DISTINCT_SQL
    from pac_spark.streaming.stateful import streaming_bitmap_distinct_users
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_bitmap_distinct_users(spark, sf_dir),
        duck.sql(BITMAP_DISTINCT_SQL),
    )


def test_streaming_bitmap_merge_order_free_and_replay_safe(spark):
    """The bit_or monoid claim, tested against the grain: partials
    merged in reverse order AND with one batch folded TWICE (an
    at-least-once redelivery) must equal the single-shot partial —
    idempotence is what a count-based accumulator cannot offer."""
    from pyspark.sql import functions as F

    from pac_spark.operators.sketch import bitmap_day_counts, bitmap_day_words

    rows = [("2024-01-01", u) for u in (1, 63, 64, 65, 1)] + [
        ("2024-01-02", u) for u in (128, 1)
    ]
    ev = spark.createDataFrame(rows, "day string, user_id long")
    a = spark.createDataFrame(rows[:3], "day string, user_id long")
    b = spark.createDataFrame(rows[3:], "day string, user_id long")

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .groupBy("day", "word")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )

    # reverse order + replay of `a`
    view = merge(merge(bitmap_day_words(b), bitmap_day_words(a)), bitmap_day_words(a))
    got = {r["day"]: r["n_distinct_users"] for r in bitmap_day_counts(view).collect()}
    single = {
        r["day"]: r["n_distinct_users"]
        for r in bitmap_day_counts(bitmap_day_words(ev)).collect()
    }
    assert got == single == {"2024-01-01": 4, "2024-01-02": 2}


def test_fd_profile_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: functional-dependency audit vs the identical
    per-rule majority-count oracle."""
    from pac_spark.operators.profile import FD_SQL, fd_profile_orders
    from tests.conftest import assert_oracle_match

    assert_oracle_match(fd_profile_orders(spark, sf_dir), duck.sql(FD_SQL()))


def test_fd_profile_crafted(spark, tmp_path):
    """g3 semantics pinned on a hand-built table: the key FD holds;
    custkey→status has one violating group whose minority rows count
    (g3 = rows − Σ majority), groups with a single rhs contribute
    zero."""
    import pandas as pd

    orders = pd.DataFrame(
        {
            # cust 1: status O×3, F×1  -> violating, g3 contribution 1
            # cust 2: status F×2       -> clean
            "o_orderkey": [1, 2, 3, 4, 5, 6],
            "o_custkey": [1, 1, 1, 1, 2, 2],
            "o_orderstatus": ["O", "O", "O", "F", "F", "F"],
            "o_orderpriority": ["1-URGENT"] * 6,
            "o_orderdate": pd.to_datetime(["2024-01-01"] * 6).astype(
                "datetime64[us]"
            ),
        }
    )
    orders.to_parquet(tmp_path / "orders.parquet")
    from pac_spark.operators.profile import fd_profile_orders

    got = {r["fd"]: r for r in fd_profile_orders(spark, str(tmp_path)).collect()}
    key_fd = got["o_orderkey -> o_orderstatus"]
    assert key_fd["holds"] and key_fd["n_groups"] == 6
    assert key_fd["g3_rows_to_remove"] == 0
    cs = got["o_custkey -> o_orderstatus"]
    assert not cs["holds"]
    assert (cs["n_groups"], cs["n_violating_groups"]) == (2, 1)
    assert cs["g3_rows_to_remove"] == 1
    assert got["o_custkey -> o_orderpriority"]["holds"]
    assert got["o_orderdate -> o_orderpriority"]["holds"]


def test_time_weighted_value_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: step-function time-weighted averages vs the
    identical lead/integral oracle."""
    from pac_spark.operators.temporal import TWA_SQL, time_weighted_value_by_user
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        time_weighted_value_by_user(spark, sf_dir), duck.sql(TWA_SQL())
    )


def test_time_weighted_value_crafted(spark, tmp_path):
    """Integral semantics pinned: value 10 held 9 minutes + value 100
    held 1 minute averages 19 (time-weighted), NOT 55 (event-weighted);
    the last event carries no duration; a user whose events share one
    timestamp is excluded; a zero-width step contributes nothing."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    rows = [
        (1, 1, t0, 10.0), (2, 1, t0 + 9 * m, 100.0), (3, 1, t0 + 10 * m, 7.0),
        (4, 2, t0, 50.0), (5, 2, t0, 99.0),  # zero span -> excluded
        # user 3: zero-width step (two events same ts) inside a real span
        (6, 3, t0, 10.0), (7, 3, t0 + m, 20.0), (8, 3, t0 + m, 30.0),
        (9, 3, t0 + 2 * m, 40.0),
    ]
    df = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    df["ts"] = df["ts"].astype("datetime64[us]")
    df["event_type"] = "view"
    df["props"] = "{}"
    df.to_parquet(tmp_path / "events.parquet")

    from pac_spark.operators.temporal import time_weighted_value_by_user

    got = {r["user_id"]: r for r in time_weighted_value_by_user(spark, str(tmp_path)).collect()}
    assert set(got) == {1, 3}
    assert abs(got[1]["twa_value"] - 19.0) < 1e-12
    assert got[1]["span_micros"] == 600_000_000 and got[1]["n_events"] == 3
    # user 3: 10 for 1min, 20 for 0, 30 for 1min -> (10+30)/2 = 20
    assert abs(got[3]["twa_value"] - 20.0) < 1e-12


def test_ams_f2_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: AMS ±1 sketch + exact F2 vs the identical
    digit-wise md5 oracle."""
    from pac_spark.operators.sketch import AMS_SQL, ams_f2_user_activity
    from tests.conftest import assert_oracle_match

    assert_oracle_match(ams_f2_user_activity(spark, sf_dir), duck.sql(AMS_SQL))


def test_ams_f2_crafted(spark, tmp_path):
    """Sharp single-key property: with one key appearing c times every
    estimator is ±c, so the estimate equals the exact F2 = c² with no
    sketch error at all; and the sketch is partition-invariant (the
    integer sums commute)."""
    import pandas as pd

    df = pd.DataFrame(
        {
            "event_id": range(5),
            "ts": pd.to_datetime(["2024-01-01"] * 5).astype("datetime64[us]"),
            "user_id": [42] * 5,
            "event_type": ["view"] * 5,
            "value": [1.0] * 5,
            "props": ["{}"] * 5,
        }
    )
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.sketch import ams_f2_user_activity

    [row] = ams_f2_user_activity(spark, str(tmp_path)).collect()
    assert (row["n_rows"], row["n_keys"], row["f2_exact"]) == (5, 1, 25)
    assert row["f2_estimate"] == 25.0


def test_epoch_interleave_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: two-phase decomposed epoch rank vs the
    DELIBERATELY-naive global ROW_NUMBER oracle (formulation-diverse)."""
    from pac_spark.operators.curation import (
        EPOCH_INTERLEAVE_SQL,
        epoch_interleave_positions,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        epoch_interleave_positions(spark, sf_dir), duck.sql(EPOCH_INTERLEAVE_SQL)
    )


def test_epoch_interleave_crafted(spark, tmp_path):
    """Interleave semantics pinned independent of the hash: with
    |a| = 4 and |b| = 2 the source sequence along epoch positions is
    a,b,a,b,a,a — every source's r-th doc goes before any source's
    (r+1)-th — and positions are a dense permutation of 1..N."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["x"] * 6,
            "lang": ["en"] * 6,
            "source": ["a", "a", "a", "a", "b", "b"],
            "n_chars": [1] * 6,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.curation import epoch_interleave_positions

    rows = epoch_interleave_positions(spark, str(tmp_path)).collect()
    assert sorted(r["epoch_pos"] for r in rows) == list(range(1, 7))
    seq = [r["source"] for r in sorted(rows, key=lambda r: r["epoch_pos"])]
    assert seq == ["a", "b", "a", "b", "a", "a"]


def test_ams_join_size_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: cross-sketch inner-product join-size estimate
    + exact companion vs the identical digit-wise md5 oracle."""
    from pac_spark.operators.sketch import AMS_JOIN_SQL, ams_join_size_orders_events
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        ams_join_size_orders_events(spark, sf_dir), duck.sql(AMS_JOIN_SQL)
    )


def test_ams_join_size_crafted(spark, tmp_path):
    """Sharp single-shared-key property: orders = key 42 ×3, events =
    key 42 ×4 → every estimator pair is (±3)·(±4) with MATCHING signs,
    so the estimate equals the exact join size 12 with zero error."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": range(3),
            "o_custkey": [42] * 3,
            "o_orderstatus": ["O"] * 3,
            "o_totalprice": [1.0] * 3,
            "o_orderdate": pd.to_datetime(["2024-01-01"] * 3).astype("datetime64[us]"),
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "event_id": range(4),
            "ts": pd.to_datetime(["2024-01-01"] * 4).astype("datetime64[us]"),
            "user_id": [42] * 4,
            "event_type": ["view"] * 4,
            "value": [1.0] * 4,
            "props": ["{}"] * 4,
        }
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.sketch import ams_join_size_orders_events

    [row] = ams_join_size_orders_events(spark, str(tmp_path)).collect()
    assert (row["n_orders"], row["n_events"], row["join_size_exact"]) == (3, 4, 12)
    assert row["join_size_estimate"] == 12.0


def test_kcenter_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: farthest-point traversal vs the identically
    unrolled integer-distance oracle."""
    from pac_spark.operators.similarity import KCENTER_SQL, kcenter_diverse_embeddings
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        kcenter_diverse_embeddings(spark, sf_dir), duck.sql(KCENTER_SQL())
    )


def test_kcenter_crafted(spark, tmp_path):
    """Greedy semantics pinned on a 1-D line {0, 1, 10, 11, 100}:
    seed = smallest vec_id (0), then 100 (farthest), then 11 (121 from
    the selected set beats 10's 100), then the d²=1 tie {1, 10} breaks
    to the smaller vec_id; the duplicate of the seed (d²=0) is never
    selected and the trace stops when the space is exhausted."""
    import pandas as pd

    vals = [0.0, 1.0, 10.0, 11.0, 100.0, 0.0]  # vec 5 duplicates vec 0
    pd.DataFrame(
        {
            "vec_id": range(6),
            "embedding": [[v] for v in vals],
            "label": [0] * 6,
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    from pac_spark.operators.similarity import _FP as _FP_UNITS
    from pac_spark.operators.similarity import kcenter_diverse_embeddings

    rows = sorted(
        kcenter_diverse_embeddings(spark, str(tmp_path)).collect(),
        key=lambda r: r["sel_order"],
    )
    picked = [r["vec_id"] for r in rows]
    # 0 (seed) -> 4 (d²=100²) -> 3 (d²=11²) -> 1 (tie with 10 at d²=1,
    # smaller id wins) -> 2 -> exhausted (vec 5 duplicates the seed)
    assert picked == [0, 4, 3, 1, 2]
    assert rows[1]["radius"] == (100 * _FP_UNITS) ** 2
    assert rows[2]["radius"] == (11 * _FP_UNITS) ** 2
    assert [r["radius"] for r in rows[3:]] == [_FP_UNITS**2, _FP_UNITS**2]


def test_streaming_kmv_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: the streamed min-k fold vs the one-shot SQL
    sketch reconstruction."""
    from pac_spark.streaming.stateful import (
        STREAMING_KMV_SQL,
        streaming_kmv_distinct_users,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_kmv_distinct_users(spark, sf_dir), duck.sql(STREAMING_KMV_SQL)
    )


def test_streaming_kmv_merge_order_free_and_replay_safe(spark):
    """Min-k monoid against the grain: partials merged in reverse
    order with one batch folded twice must equal the single-shot
    sketch (idempotence via the distinct union, boundedness via the
    re-rank)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from pac_spark.operators.sketch import KMV_K, _kmv_sketches

    rows = [("view", u) for u in range(200)] + [("click", u) for u in range(40, 60)]
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    a = spark.createDataFrame(rows[:120], "event_type string, user_id long")
    b = spark.createDataFrame(rows[120:], "event_type string, user_id long")

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .distinct()
            .withColumn("rn", F.row_number().over(W.partitionBy("g").orderBy("h")))
            .filter(F.col("rn") <= KMV_K)
            .drop("rn")
        )

    def canon(df):
        return sorted((r["g"], r["h"]) for r in df.collect())

    folded = merge(
        merge(_kmv_sketches(b, "event_type", "user_id"),
              _kmv_sketches(a, "event_type", "user_id")),
        _kmv_sketches(a, "event_type", "user_id"),
    )
    single = _kmv_sketches(ev, "event_type", "user_id")
    assert canon(folded) == canon(single)
    # and the view regime is right: view has 200 > K distinct users
    # (bounded sample), click has 20 < K (sample IS the set)
    sizes = {g: sum(1 for gg, _ in canon(single) if gg == g) for g in ("view", "click")}
    assert sizes["view"] == KMV_K and sizes["click"] == 20


def test_cramers_v_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: R×C chi-square / Cramér's V vs the identical
    fixed-point-cell oracle."""
    from pac_spark.operators.stats import CRAMERS_V_SQL, cramers_v_lang_source
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        cramers_v_lang_source(spark, sf_dir), duck.sql(CRAMERS_V_SQL())
    )


def test_cramers_v_crafted(spark, tmp_path):
    """Limit cases pinned: a table where source DETERMINES lang has
    V = 1 (up to the 1e-9 cell flooring); a perfectly balanced table
    has chi2 = 0 and V = 0; empty cells of the marginal grid
    contribute their expected count (the determined case has them)."""
    import pandas as pd

    det = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": ["x"] * 8,
            "lang": ["en"] * 4 + ["de"] * 4,
            "source": ["web"] * 4 + ["books"] * 4,
            "n_chars": [1] * 8,
        }
    )
    det.to_parquet(tmp_path / "documents.parquet")
    from pac_spark.cache import release_caches
    from pac_spark.operators.stats import cramers_v_lang_source

    [r] = cramers_v_lang_source(spark, str(tmp_path)).collect()
    assert (r["n_langs"], r["n_sources"]) == (2, 2)
    assert abs(r["cramers_v"] - 1.0) < 1e-9

    # the operator pins its contingency table (plan-audit r8); the
    # engine contract is that caches release BETWEEN queries (the
    # driver and bench both sweep) — this test overwrites the source
    # in place, so it must sweep too or the second run reads the
    # first dataset's cached table
    release_caches(all_generations=True)

    bal = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": ["x"] * 8,
            "lang": ["en", "de"] * 4,
            "source": ["web"] * 4 + ["books"] * 4,
            "n_chars": [1] * 8,
        }
    )
    bal.to_parquet(tmp_path / "documents.parquet")
    [r] = cramers_v_lang_source(spark, str(tmp_path)).collect()
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0


def test_weighted_percentiles_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: quantity-weighted price percentiles vs the
    identical weighted-histogram read-off oracle."""
    from pac_spark.operators.stats import (
        WEIGHTED_PCT_SQL,
        weighted_percentiles_price_by_flag,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        weighted_percentiles_price_by_flag(spark, sf_dir),
        duck.sql(WEIGHTED_PCT_SQL()),
    )


def test_weighted_percentiles_crafted(spark, tmp_path):
    """Weighting semantics pinned: prices 10/20/30/40 with quantities
    97/1/1/1 have weighted p50 = 10 (97 of 100 units are at 10) where
    the unweighted per-line median is 20; the unweighted path is
    regression-guarded on the same table."""
    import pandas as pd

    li = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 1, 1],
            "l_partkey": [1, 2, 3, 4],
            "l_suppkey": [1, 1, 1, 1],
            "l_returnflag": ["N"] * 4,
            "l_extendedprice": [10.0, 20.0, 30.0, 40.0],
            "l_quantity": [97.0, 1.0, 1.0, 1.0],
        }
    )
    li.to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.stats import (
        percentiles_price_by_flag,
        weighted_percentiles_price_by_flag,
    )

    [w] = weighted_percentiles_price_by_flag(spark, str(tmp_path)).collect()
    assert w["total_units"] == 100
    assert (w["p25"], w["p50"], w["p90"], w["p99"]) == (10.0, 10.0, 10.0, 30.0)
    [u] = percentiles_price_by_flag(spark, str(tmp_path)).collect()
    assert u["p50"] == 20.0


def test_user_growth_accounting_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: four-state growth accounting vs the identical
    lag/lead classification oracle."""
    from pac_spark.operators.relational import GROWTH_SQL, user_growth_accounting
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        user_growth_accounting(spark, sf_dir), duck.sql(GROWTH_SQL)
    )


def test_user_growth_accounting_flow_identity(spark, sf_dir):
    """The flow identity active(d) − active(d−1) = new + resurrected −
    churned must hold on EVERY consecutive-day pair (days with zero
    activity count as active = 0)."""
    from pac_spark.operators.relational import user_growth_accounting

    rows = user_growth_accounting(spark, sf_dir).collect()
    by_day = {r["day"]: r for r in rows}
    import datetime as dt

    first = dt.date.fromisoformat(rows[0]["day"])
    last = dt.date.fromisoformat(rows[-1]["day"])
    prev_active = 0
    d = first
    while d <= last:
        r = by_day.get(d.isoformat())
        active = r["n_active_users"] if r else 0
        new = r["n_new_users"] if r else 0
        res = r["n_resurrected_users"] if r else 0
        ret = r["n_retained_users"] if r else 0
        churn = r["n_churned_users"] if r else 0
        assert active - prev_active == new + res - churn, d
        assert active == new + ret + res, d
        prev_active = active
        d += dt.timedelta(days=1)


def test_user_growth_accounting_crafted(spark, tmp_path):
    """Lifecycle pinned: user 7 active days 1,2,4; user 8 active day 2
    only. Day 3 has zero actives but churn 2 (both leave); day 4 is a
    pure resurrection; day 5 carries the final churn."""
    import pandas as pd

    rows = [
        (1, pd.Timestamp("2024-01-01 09:00"), 7, "view", 1.0),
        (2, pd.Timestamp("2024-01-02 09:00"), 7, "view", 1.0),
        (3, pd.Timestamp("2024-01-02 18:00"), 7, "click", 1.0),  # dup day
        (4, pd.Timestamp("2024-01-04 09:00"), 7, "view", 1.0),
        (5, pd.Timestamp("2024-01-02 12:00"), 8, "view", 1.0),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.relational import user_growth_accounting

    got = {
        r["day"]: (
            r["n_active_users"],
            r["n_new_users"],
            r["n_retained_users"],
            r["n_resurrected_users"],
            r["n_churned_users"],
        )
        for r in user_growth_accounting(spark, str(tmp_path)).collect()
    }
    assert got == {
        "2024-01-01": (1, 1, 0, 0, 0),
        "2024-01-02": (2, 1, 1, 0, 0),
        "2024-01-03": (0, 0, 0, 0, 2),
        "2024-01-04": (1, 0, 0, 1, 0),
        "2024-01-05": (0, 0, 0, 0, 1),
    }


def test_priority_sample_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: Duffield-Lund-Thorup priority sample +
    subset-sum estimator vs the HUGEINT oracle."""
    from pac_spark.functions.hashing import md5_u60_sql
    from pac_spark.operators.curation import (
        PRIORITY_SAMPLE_SQL,
        priority_sample_docs,
    )
    from tests.conftest import assert_oracle_match

    sql = PRIORITY_SAMPLE_SQL.format(
        h=md5_u60_sql("'ps|' || CAST(doc_id AS VARCHAR)")
    )
    assert_oracle_match(priority_sample_docs(spark, sf_dir), duck.sql(sql))


def test_priority_sample_python_reference(spark, tmp_path):
    """INDEPENDENT formulation: a pure-Python hashlib reimplementation
    of the whole scheme (priorities, top-k, tau, estimator) must agree
    exactly — including the n <= k exhaustive branch where the
    estimate IS the exact total (tau = 0)."""
    import hashlib

    import pandas as pd

    rows = []
    # src 'big' has 30 docs (> k=16, real estimation); 'tiny' has 3
    for i in range(30):
        rows.append((i, "x" * (20 + 7 * i), "en", "big", 20 + 7 * i))
    for i in range(30, 33):
        rows.append((i, "y" * (10 + i), "en", "tiny", 10 + i))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    from pac_spark.operators.curation import PRIORITY_SAMPLE_K, priority_sample_docs

    k = PRIORITY_SAMPLE_K
    expected = {}
    by_src = {}
    for doc_id, text, _, src, _ in rows:
        by_src.setdefault(src, []).append((doc_id, text))
    for src, docs in by_src.items():
        pri = []
        for doc_id, text in docs:
            w = len(text.encode())
            h = int(hashlib.md5(f"ps|{doc_id}".encode()).hexdigest()[:15], 16)
            pri.append((w * 2**60 // (h + 1), -doc_id, w))
        pri.sort(reverse=True)
        top = pri[:k]
        tau = pri[k][0] if len(pri) > k else 0
        expected[src] = (
            len(docs),
            sum(w for _, _, w in pri),
            len(top),
            float(sum(max(w, tau) for _, _, w in top)),
        )

    got = {
        r["source"]: (
            r["n_docs"],
            r["total_bytes"],
            r["n_sampled"],
            r["est_total_bytes"],
        )
        for r in priority_sample_docs(spark, str(tmp_path)).collect()
    }
    assert got == expected
    # exhaustive branch: the tiny source's estimate is exact
    assert got["tiny"][3] == float(got["tiny"][1])


def test_prefix_filter_neardup_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: the prefix-filter tier must reproduce the
    INDEPENDENT full-inverted-index exact-Jaccard oracle (which knows
    nothing about prefixes — an incomplete filter loses rows here)."""
    from pac_spark.operators.dedup import prefix_filter_neardup_pairs
    from pac_spark.plans.llm_plans import _NGRAM_JACCARD_FULL
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        prefix_filter_neardup_pairs(spark, sf_dir), duck.sql(_NGRAM_JACCARD_FULL)
    )


def test_prefix_filter_matches_inverted_index_tier(spark, sf_dir):
    """Cross-tier consistency: the prefix-filter tier and the
    df-capped inverted-index tier are different algorithms computing
    the SAME exact relation."""
    from pac_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_neardup_pairs,
    )

    a = sorted(map(tuple, prefix_filter_neardup_pairs(spark, sf_dir).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(spark, sf_dir).collect()))
    assert a == b


def test_prefix_filter_adversarial_common_overlap(spark, tmp_path):
    """Adversarial completeness case: the near-dup pair's SHARED
    shingles are corpus-common (high df, sorted last) while each
    doc's unique shingles are rare (sorted first, filling the
    prefix). The prefix theorem still guarantees a collision; a
    buggy 'index the rare tokens' heuristic would miss the pair."""
    import pandas as pd

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [(0, base + " mike", "en", "s", 1), (1, base + " november", "en", "s", 1)]
    # make the base shingles common: many other docs carry them
    for i in range(2, 12):
        rows.append((i, base + f" unique{i} only{i}", "en", "s", 1))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    from pac_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_neardup_pairs,
    )

    got = prefix_filter_neardup_pairs(spark, str(tmp_path)).collect()
    want = ngram_jaccard_pairs(spark, str(tmp_path)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert any(r["doc_a"] == 0 and r["doc_b"] == 1 for r in got)


def test_phrase_match_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: positional-index phrase retrieval vs the
    INDEPENDENT per-row array-slide oracle."""
    from pac_spark.operators.text import PHRASE_MATCH_SQL, phrase_match_docs
    from tests.conftest import assert_oracle_match

    assert_oracle_match(phrase_match_docs(spark, sf_dir), duck.sql(PHRASE_MATCH_SQL()))


def test_phrase_match_crafted(spark, tmp_path):
    """Overlap + chain semantics pinned: 'batch batch batch batch'
    holds the 2-gram THREE times (overlapping) and a 3-word chain
    twice; a doc with the words present but never consecutive must
    not match."""
    import pandas as pd

    rows = [
        (0, "x batch batch batch batch y", "en", "s", 1),
        (1, "batch x batch y batch z", "en", "s", 1),  # words, no run
        (2, "a b batch batch", "en", "s", 1),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import phrase_match_docs

    two = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_match_docs(spark, str(tmp_path), "batch batch").collect()
    }
    assert two == {0: (3, 1), 2: (1, 2)}
    three = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_match_docs(
            spark, str(tmp_path), "batch batch batch"
        ).collect()
    }
    assert three == {0: (2, 1)}


def test_streaming_growth_accounting_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: the streamed IVM fold of the (user, day) set
    read off as four-state growth accounting must hash-match the
    batch oracle over the full table."""
    from pac_spark.operators.relational import GROWTH_SQL
    from pac_spark.streaming.stateful import streaming_growth_accounting
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_growth_accounting(spark, sf_dir), duck.sql(GROWTH_SQL)
    )


def test_user_daily_features_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: leakage-safe daily training features vs the
    identical calendar-RANGE-window oracle."""
    from pac_spark.operators.temporal import FEATURES_SQL, user_daily_features
    from tests.conftest import assert_oracle_match

    assert_oracle_match(user_daily_features(spark, sf_dir), duck.sql(FEATURES_SQL))


def test_user_daily_features_crafted(spark, tmp_path):
    """Semantics pinned on a gap-rich user: the 7-day window is
    CALENDAR days (a 10-day-old row contributes nothing even if it is
    the previous active row), lag reads zero across gaps, and the
    label fires only when day+1 itself has a purchase."""
    import pandas as pd

    t = lambda d, h=9: pd.Timestamp(f"2024-01-{d:02d} {h:02d}:00:00")
    rows = [
        (1, t(1), 7, "view", 10.0),
        (2, t(2), 7, "purchase", 20.0),
        (3, t(8), 7, "view", 40.0),   # 6 days after day 2 -> within RANGE 6
        (4, t(12), 7, "view", 80.0),  # gap: lag1 = 0; day 8 still in r7
        (5, t(13), 7, "view", 1.0),   # day after 12 but no purchase
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import user_daily_features

    got = {
        r["day"]: (
            r["n_events"],
            r["day_value"],
            r["r7_value"],
            r["lag1_value"],
            r["label_next_day_purchase"],
        )
        for r in user_daily_features(spark, str(tmp_path)).collect()
    }
    assert got["2024-01-01"] == (1, 10.0, 10.0, 0.0, 1)   # next day purchases
    assert got["2024-01-02"] == (1, 20.0, 30.0, 10.0, 0)
    assert got["2024-01-08"] == (1, 40.0, 60.0, 0.0, 0)   # day 2 in range, day 1 out
    assert got["2024-01-12"] == (1, 80.0, 120.0, 0.0, 0)
    assert got["2024-01-13"] == (1, 1.0, 121.0, 80.0, 0)


def test_conversion_latency_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: click->purchase latency percentiles per hour
    vs the composed lateral-asof + histogram read-off oracle."""
    from pac_spark.operators.temporal import (
        CONVERSION_LATENCY_SQL,
        conversion_latency_by_hour,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        conversion_latency_by_hour(spark, sf_dir),
        duck.sql(CONVERSION_LATENCY_SQL()),
    )


def test_conversion_latency_crafted(spark, tmp_path):
    """Semantics pinned: 90s latency floors to 1 minute, an equal-ts
    click converts at 0 minutes, and a purchase with no prior click is
    excluded entirely."""
    import pandas as pd

    t = pd.Timestamp("2024-01-01 09:00:00")
    m = pd.Timedelta
    rows = [
        (1, t, 7, "click", 1.0),
        (2, t + m(seconds=90), 7, "purchase", 5.0),
        (3, t + m(hours=1), 8, "purchase", 5.0),  # equal-ts click below
        (4, t + m(hours=1), 8, "click", 1.0),
        (5, t + m(hours=2), 9, "purchase", 5.0),  # never clicked
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import conversion_latency_by_hour

    got = {
        r["hour"]: (r["n_conversions"], r["p50"])
        for r in conversion_latency_by_hour(spark, str(tmp_path)).collect()
    }
    assert got == {9: (1, 1), 10: (1, 0)}


def test_spearman_oracle(spark, duck, sf_dir):
    """Staged for r7/r8: Spearman rank correlation (doubled average
    tie ranks, exact integer moments) vs the composed stats + rank
    oracle."""
    from pac_spark.operators.text import (
        SPEARMAN_SQL_TAIL,
        spearman_quality_tokens_by_lang,
    )
    from pac_spark.plans.llm_plans import _TEXT_STATS
    from tests.conftest import assert_oracle_match

    sql = f"WITH stats AS ({_TEXT_STATS.strip()}){SPEARMAN_SQL_TAIL()}"
    assert_oracle_match(
        spearman_quality_tokens_by_lang(spark, sf_dir), duck.sql(sql)
    )


def test_spearman_crafted_monotone_and_ties(spark, tmp_path):
    """Monotone-nonlinear dependence must read rho = 1.0 exactly
    (quality and token count increase together doc-by-doc while
    Pearson on the raw values is < 1), and an all-tied group yields
    NULL, not a division error."""
    import pandas as pd

    rows = []
    # en: quality strictly increasing with token count but CONVEXLY
    # bent by a duplicate-token schedule (unique_ratio drops for the
    # longer docs, staying under the 100-token saturation): ranks
    # align perfectly (rho = 1) while the value relation is nonlinear
    # (Pearson < 1)
    dups = [0, 0, 0, 1, 3, 6, 10, 15]
    for i in range(8):
        n_i = 10 + 10 * i
        uniq = [f"w{i}x{j}" for j in range(n_i - dups[i])]
        words = " ".join(uniq + [uniq[0]] * dups[i])
        rows.append((i, words, "en", "s", len(words)))
    # zh: four identical docs -> zero rank variance -> NULL rho
    for i in range(8, 12):
        rows.append((i, "same same same", "zh", "s", 14))
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import (
        corr_quality_tokens_by_lang,
        spearman_quality_tokens_by_lang,
    )

    got = {
        r["lang"]: (r["n_docs"], r["spearman_rho"])
        for r in spearman_quality_tokens_by_lang(spark, str(tmp_path)).collect()
    }
    assert got["en"][0] == 8 and abs(got["en"][1] - 1.0) < 1e-12
    assert got["zh"] == (4, None)
    [p] = [
        r
        for r in corr_quality_tokens_by_lang(spark, str(tmp_path)).collect()
        if r["lang"] == "en"
    ]
    assert p["corr_quality_tokens"] < 1.0 - 1e-9  # Pearson under-reports


def test_halflife_oracle(spark, duck, sf_dir):
    """Staged for r11: the dyadic half-life decay vs the identical
    HUGEINT shift formulation."""
    from pac_spark.operators.stats import HALFLIFE_SQL, halflife_decayed_user_value
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        halflife_decayed_user_value(spark, sf_dir), duck.sql(HALFLIFE_SQL())
    )


def test_halflife_crafted(spark, tmp_path):
    """Hand-checkable decay trace: same value one half-life apart
    halves each step; a contribution at the cutoff drops entirely;
    NULL value / NULL ts rows are absent from count AND mass; a
    6-day-old event still carries full weight (whole-week ages)."""
    import pandas as pd

    from pac_spark.operators.stats import (
        HALFLIFE_CUTOFF,
        HALFLIFE_DAYS,
        halflife_decayed_user_value,
    )

    anchor = pd.Timestamp("2024-03-01")
    d = lambda days: anchor - pd.Timedelta(days=days)  # noqa: E731
    rows = [
        # user 1: 8 + 8/2 + 8/4 = 14.0; the 280-day row is k=CUTOFF -> dropped
        (1, d(0), 1, 8.0),
        (2, d(HALFLIFE_DAYS), 1, 8.0),
        (3, d(2 * HALFLIFE_DAYS), 1, 8.0),
        (4, d(HALFLIFE_CUTOFF * HALFLIFE_DAYS), 1, 8.0),
        # user 2: 6 days old -> still week 0, full weight
        (5, d(6), 2, 8.0),
        # user 3: only NULL-value / NULL-ts rows -> absent entirely
        (6, d(0), 3, None),
        (7, None, 3, 8.0),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "value"]
    ).to_parquet(tmp_path / "events.parquet")
    got = {
        r["user_id"]: (r["n_events"], r["decayed_value"])
        for r in halflife_decayed_user_value(spark, str(tmp_path)).collect()
    }
    assert got == {1: (3, 14.0), 2: (1, 8.0)}


def test_lpa_oracle(spark, duck, sf_dir):
    """Staged for r11: K-round self-voting label propagation vs the
    identically unrolled ROW_NUMBER-argmax CTE chain."""
    from pac_spark.operators.graph import LPA_SQL, lpa_communities
    from tests.conftest import assert_oracle_match

    assert_oracle_match(lpa_communities(spark, sf_dir), duck.sql(LPA_SQL()))


def test_lpa_crafted_bicliques(spark, tmp_path):
    """Two disjoint bicliques must converge to one community each —
    labeled by the component's minimum node id — and the self-vote is
    what makes that happen: without it synchronous LPA on a bipartite
    graph flip-flops sides forever (the documented 2-cycle)."""
    import pandas as pd

    from pac_spark.operators.graph import lpa_communities

    # component A: customers 1,2 x supplier 1; B: customers 3,4 x supplier 2
    orders = pd.DataFrame(
        {"o_orderkey": [10, 20, 30, 40], "o_custkey": [1, 2, 3, 4]}
    )
    li = pd.DataFrame(
        {"l_orderkey": [10, 20, 30, 40], "l_suppkey": [1, 1, 2, 2]}
    )
    orders.to_parquet(tmp_path / "orders.parquet")
    li.to_parquet(tmp_path / "lineitem.parquet")
    rows = lpa_communities(spark, str(tmp_path)).collect()
    by_member = {(r["member_type"], r["member_key"]): r["community_id"] for r in rows}
    # min node of A = cust1 (1*4+1 = 5); of B = supp2 (2*4+2 = 10)
    assert by_member == {
        ("customer", 1): 5,
        ("customer", 2): 5,
        ("supplier", 1): 5,
        ("customer", 3): 10,
        ("customer", 4): 10,
        ("supplier", 2): 10,
    }


def test_streaming_twa_oracle(spark, duck, sf_dir):
    """Staged for r11: the streamed step-function integral vs the
    BATCH lead-window oracle (temporal.TWA_SQL) — hash equality proves
    incremental maintenance == the one-shot formulation."""
    from pac_spark.operators.temporal import TWA_SQL
    from pac_spark.streaming.stateful import streaming_twa_user_value
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_twa_user_value(spark, sf_dir), duck.sql(TWA_SQL())
    )


def test_streaming_twa_split_folds_exactly_and_refuses_regression():
    """The fold applied across an arbitrary in-order batch split must
    equal the single-batch fold (emitted rows are monotone in
    n_events), and an out-of-order split must be REFUSED — the same
    discipline as the lifetime fold, proven here directly against the
    fold function."""
    import pandas as pd
    import pytest

    from pac_spark.streaming.stateful import _TWA_STATE, _twa_fold

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    def frame(rows):
        df = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
        df["ts"] = df["ts"].astype("datetime64[us]")
        return df

    t = pd.Timestamp("2024-01-01")
    m = pd.Timedelta
    rows = [
        (7, 1, t, 10.0),
        (7, 2, t + m(minutes=1), None),  # NULL value: spans time, no mass
        (7, 3, t + m(minutes=3), 30.0),
        (7, 4, t + m(minutes=4), 0.0),
    ]
    # integral: 10.0 over [0,1min) + nothing over [1,3min) + 30 over [3,4min)
    span = 4 * 60 * 1_000_000
    expect_twa = float(1000 * 60_000_000 + 3000 * 60_000_000) / span / 100.0

    one = FakeState()
    [whole] = list(_twa_fold((7,), iter([frame(rows)]), one))
    assert whole["n_events"].iloc[0] == 4
    assert whole["span_micros"].iloc[0] == span
    assert whole["twa_value"].iloc[0] == expect_twa

    split = FakeState()
    list(_twa_fold((7,), iter([frame(rows[:2])]), split))
    [second] = list(_twa_fold((7,), iter([frame(rows[2:])]), split))
    assert second["twa_value"].iloc[0] == expect_twa
    assert split.get == one.get

    bad = FakeState()
    list(_twa_fold((7,), iter([frame(rows[2:])]), bad))
    with pytest.raises(RuntimeError, match="regression"):
        list(_twa_fold((7,), iter([frame(rows[:2])]), bad))
    assert len(_TWA_STATE.fields) == 7


def test_waterfill_oracle(spark, duck, sf_dir):
    """Staged for r11: the in-plan water-filling read-off vs the
    identically-unrolled HUGEINT oracle over the shared stats CTE."""
    from pac_spark.operators.curation import (
        WATERFILL_SQL_TAIL,
        source_budget_waterfill,
    )
    from pac_spark.plans.llm_plans import _TEXT_STATS
    from tests.conftest import assert_oracle_match

    sql = f"WITH stats AS ({_TEXT_STATS.strip()}){WATERFILL_SQL_TAIL()}"
    assert_oracle_match(source_budget_waterfill(spark, sf_dir), duck.sql(sql))


def test_waterfill_crafted_saturation(spark, tmp_path):
    """Hand-checkable skewed supplies exercising BOTH branches (the
    fixture's uniform sources never saturate): supplies 2/4/30/30
    tokens, B = 0.6*66 = 39 -> the 2- and 4-token sources are fully
    funded (water line above their supply), the two big ones split
    the 33-token pool 17/16 with the +1 going to the smaller
    (supply, source) rank; mass balance Σalloc = B exactly."""
    import pandas as pd

    from pac_spark.operators.curation import source_budget_waterfill

    def text(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        (1, "a", text(2)),
        (2, "b", text(4)),
        (3, "c", text(30)),
        (4, "d", text(30)),
        (5, None, text(50)),   # NULL source: excluded entirely
        (6, "c", None),        # NULL text: excluded entirely
    ]
    pd.DataFrame(rows, columns=["doc_id", "source", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    got = {
        r["source"]: (r["supply_tokens"], r["alloc_tokens"], r["saturated"])
        for r in source_budget_waterfill(spark, str(tmp_path)).collect()
    }
    assert got == {
        "a": (2, 2, True),
        "b": (4, 4, True),
        "c": (30, 17, False),
        "d": (30, 16, False),
    }
    assert sum(a for _, a, _ in got.values()) == (66 * 6) // 10


def test_streaming_halflife_oracle(spark, duck, sf_dir):
    """Staged for r11: the streamed day-granular fold + anchor readout
    vs the batch HALFLIFE_SQL oracle."""
    from pac_spark.operators.stats import HALFLIFE_SQL
    from pac_spark.streaming.stateful import streaming_halflife_user_value
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_halflife_user_value(spark, sf_dir), duck.sql(HALFLIFE_SQL())
    )


def test_streaming_halflife_merge_order_free_and_replay_additive(spark):
    """The per-(user, day) cents fold is a plain-sum monoid: partials
    merged in reverse order equal the forward merge. (Unlike the
    bitmap/kmv folds the monoid is NOT idempotent — a replayed batch
    doubles its mass — which is why the operator rides foreachBatch's
    exactly-once availableNow file tracking, the same delivery
    contract the OHLC and accounting folds document.)"""
    from pyspark.sql import functions as F

    def partial(df):
        return df.groupBy("user_id", "d").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
        )

    def merge(view, delta):
        return (
            view.unionByName(delta)
            .groupBy("user_id", "d")
            .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
        )

    rows = [(7, "2024-01-0%d" % (1 + i % 3), 100 + i) for i in range(12)]
    full = spark.createDataFrame(rows, "user_id long, d string, cents long")
    a, b = full.limit(5), full.subtract(full.limit(5))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    fwd = canon(merge(partial(a), partial(b)))
    rev = canon(merge(partial(b), partial(a)))
    one = canon(partial(full))
    assert fwd == rev == one


def test_octaves_oracle(spark, duck, sf_dir):
    """Staged for r11: integer floor-log2 octave histogram vs the
    identical bin()-length formulation."""
    from pac_spark.operators.text import OCTAVES_SQL, vocab_frequency_octaves
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        vocab_frequency_octaves(spark, sf_dir), duck.sql(OCTAVES_SQL)
    )


def test_octaves_crafted(spark, tmp_path):
    """Hand-checkable histogram: term frequencies {1,1,1,2,3,8} land
    in octaves 0 (3 types / 3 tokens), 1 (2 types / 5 tokens) and
    3 (1 type / 8 tokens) — power-of-two boundaries land LOW."""
    import pandas as pd

    words = ["a1", "b1", "c1"] + ["d2"] * 2 + ["e3"] * 3 + ["f8"] * 8
    pd.DataFrame(
        {"doc_id": [1], "text": [" ".join(words)]}
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import vocab_frequency_octaves

    got = {
        r["octave"]: (r["n_types"], r["n_tokens"])
        for r in vocab_frequency_octaves(spark, str(tmp_path)).collect()
    }
    assert got == {0: (3, 3), 1: (2, 5), 3: (1, 8)}


def test_heaps_vocab_growth_oracle(spark, duck, sf_dir):
    """Staged for r12: equal-width checkpoint growth curve vs the
    identical boundary-filter formulation."""
    from pac_spark.operators.text import HEAPS_SQL, heaps_vocab_growth
    from tests.conftest import assert_oracle_match

    assert_oracle_match(heaps_vocab_growth(spark, sf_dir), duck.sql(HEAPS_SQL))


def test_heaps_vocab_growth_crafted(spark, tmp_path):
    """Hand-checkable curve: doc_ids 0..10, a fresh term per doc for
    the first half then pure repeats — the curve must saturate at the
    50% checkpoint and stay flat (monotone, never decreasing)."""
    import pandas as pd

    rows = [(i, f"t{i} common") for i in range(6)]
    rows += [(i, "t0 common") for i in range(6, 11)]
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    from pac_spark.operators.text import heaps_vocab_growth

    got = heaps_vocab_growth(spark, str(tmp_path)).collect()
    assert [r["checkpoint_pct"] for r in got] == list(range(10, 101, 10))
    # boundaries: 0 + (k*10)//10 = k, so checkpoint k covers docs 0..k
    assert [r["cum_docs"] for r in got] == list(range(2, 12))
    vocab = [r["cum_vocab"] for r in got]
    # docs 0..k for k=1..5 contribute k+1 fresh terms + 'common'
    assert vocab == [3, 4, 5, 6, 7, 7, 7, 7, 7, 7]
    assert vocab == sorted(vocab)
    toks = [r["cum_tokens"] for r in got]
    assert toks == [2 * (k + 1) for k in range(1, 11)]


def test_oov_rate_docs_oracle(spark, duck, sf_dir):
    """Staged for r12: top-K-vocab OOV gate vs the identical
    anti-join formulation."""
    from pac_spark.operators.text import OOV_SQL, oov_rate_docs
    from tests.conftest import assert_oracle_match

    assert_oracle_match(oov_rate_docs(spark, sf_dir), duck.sql(OOV_SQL))


def test_oov_rate_docs_crafted(spark, tmp_path):
    """Vocab selection is count-desc/term-asc over the WHOLE corpus;
    with K=16, 17 equal-count terms drop exactly the lexicographic
    last, and a doc made of it is fully OOV (milli=1000, not kept)."""
    import pandas as pd

    terms = [f"w{i:02d}" for i in range(17)]
    rows = [(i, " ".join(terms)) for i in range(3)]  # all 17, equal counts
    rows.append((3, "w16 w16 w00"))  # tips w16? no: w16 now count 5 > 3
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    from pac_spark.operators.text import oov_rate_docs

    got = {r["doc_id"]: r for r in oov_rate_docs(spark, str(tmp_path)).collect()}
    # counts: w16 -> 5, w00 -> 4, w01..w15 -> 3 each (17 terms).
    # top-16 keeps w16, w00, w01..w14; drops w15 (count-asc tie, term desc)
    assert got[3]["n_oov"] == 0 and got[3]["kept"]
    assert got[0]["n_tokens"] == 17 and got[0]["n_oov"] == 1
    assert got[0]["oov_milli"] == 1000 * 1 // 17
    assert got[0]["kept"]  # 58 milli <= 200


def test_source_vocab_tv_matrix_oracle(spark, duck, sf_dir):
    """Staged for r12: rational pairwise TV drift vs the identical
    cleared-denominator HUGEINT formulation."""
    from pac_spark.operators.text import TV_MATRIX_SQL, source_vocab_tv_matrix
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        source_vocab_tv_matrix(spark, sf_dir), duck.sql(TV_MATRIX_SQL)
    )


def test_source_vocab_tv_matrix_crafted(spark, tmp_path):
    """Hand-checkable distances: identical sources -> 0, disjoint
    vocabularies -> 1 (read off the spine with no shared terms), a
    half-overlap -> exactly 1/2."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["x y", "x y", "p q", "x q"],
            "source": ["a", "b", "c", "d"],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import source_vocab_tv_matrix

    got = {
        (r["src_a"], r["src_b"]): (r["n_shared_terms"], r["tv_distance"])
        for r in source_vocab_tv_matrix(spark, str(tmp_path)).collect()
    }
    assert len(got) == 6
    assert got[("a", "b")] == (2, 0.0)  # identical distributions
    assert got[("a", "c")] == (0, 1.0)  # disjoint, spine-only row
    # a={x:1,y:1}/2 vs d={x:1,q:1}/2: TV = 1/2(|.5-.5|+.5+.5) = 1/2
    assert got[("a", "d")] == (1, 0.5)


def test_bigram_fluency_score_oracle(spark, duck, sf_dir):
    """Staged for r12: bigram transition fluency vs the identical
    nano-quantized HUGEINT formulation."""
    from pac_spark.operators.text import BIGRAM_SQL, bigram_fluency_score
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        bigram_fluency_score(spark, sf_dir), duck.sql(BIGRAM_SQL)
    )


def test_bigram_fluency_score_crafted(spark, tmp_path):
    """Hand-checkable conditionals: corpus 'a b', 'a b', 'a c' gives
    p(b|a)=2/3, p(c|a)=1/3; one-token and empty docs are excluded;
    the shuffled-boilerplate tell: a doc of common words in a NEVER-
    seen order scores the rare-transition floor."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["a b", "a b", "a c", "solo"],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import bigram_fluency_score

    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_score_nano"])
        for r in bigram_fluency_score(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1, 2}  # doc 3 has no bigrams
    assert got[0] == (1, 666_666_666)  # trunc(2e9/3)
    assert got[2] == (1, 333_333_333)


def test_interarrival_stats_oracle(spark, duck, sf_dir):
    """Staged for r12: per-type inter-arrival profile vs the identical
    lag-window + second-quantized histogram formulation."""
    from pac_spark.operators.temporal import (
        INTERARRIVAL_SQL,
        interarrival_stats_by_type,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        interarrival_stats_by_type(spark, sf_dir), duck.sql(INTERARRIVAL_SQL)
    )


def test_interarrival_stats_crafted(spark, tmp_path):
    """Hand-checkable gaps: user 1 fires type 'a' at minutes 0,1,3,
    user 2 at minute 0 only (no gap) — gaps are within (user, type),
    never across users; equal timestamps form a zero gap."""
    import pandas as pd

    t = pd.Timestamp("2024-01-01")
    m = pd.Timedelta(minutes=1)
    rows = [
        (1, 1, t, "a", 1.0, ""),
        (2, 1, t + m, "a", 1.0, ""),
        (3, 1, t + 3 * m, "a", 1.0, ""),
        (4, 2, t, "a", 1.0, ""),
        (5, 1, t + 3 * m, "b", 1.0, ""),  # same ts as event 3, other type
        (6, 1, t + 3 * m, "b", 1.0, ""),  # zero-width gap within 'b'
    ]
    df = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import interarrival_stats_by_type

    got = {
        r["event_type"]: (r["n_gaps"], r["mean_gap_us"], r["p50_gap_s"])
        for r in interarrival_stats_by_type(spark, str(tmp_path)).collect()
    }
    # type a: gaps 60s and 120s -> mean 90s, p50 = 60s
    assert got["a"] == (2, 90_000_000, 60)
    # type b: one zero-width gap
    assert got["b"] == (1, 0, 0)


def test_position_attribution_oracle(spark, duck, sf_dir):
    """Staged for r12: U-shaped multi-touch attribution vs the
    identical carry + integer-credit formulation."""
    from pac_spark.operators.temporal import (
        POSITION_ATTRIBUTION_SQL,
        attribution_position_weighted,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        attribution_position_weighted(spark, sf_dir),
        duck.sql(POSITION_ATTRIBUTION_SQL),
    )


def test_position_attribution_crafted(spark, tmp_path):
    """The U-shape, exactly: 5 touches (v c v c v) before one $10
    purchase give first/last 400k micro-credits, the 200k middle pool
    splits 66667/66667/66666 (remainder to the EARLIEST middles), and
    credits sum to exactly 1e6. A lone-touch purchase pays its touch
    1e6; a touch-free purchase lands in 'unattributed'."""
    import pandas as pd

    t = pd.Timestamp("2024-01-01")
    m = pd.Timedelta(minutes=1)
    rows = [
        # user 1: v c v c v -> purchase(100.0)
        (1, 1, t + 0 * m, "view", 1.0),
        (2, 1, t + 1 * m, "click", 1.0),
        (3, 1, t + 2 * m, "view", 1.0),
        (4, 1, t + 3 * m, "click", 1.0),
        (5, 1, t + 4 * m, "view", 1.0),
        (6, 1, t + 5 * m, "purchase", 10.0),
        # user 2: single click -> purchase(20.0)
        (7, 2, t, "click", 1.0),
        (8, 2, t + m, "purchase", 20.0),
        # user 3: orphan purchase
        (9, 3, t, "purchase", 30.0),
    ]
    df = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type", "value"])
    df["props"] = ""
    df.to_parquet(tmp_path / "events.parquet")
    from pac_spark.operators.temporal import attribution_position_weighted

    got = {
        r["channel"]: (
            r["n_touches"],
            r["n_purchases"],
            r["credit_micros"],
            r["attributed_revenue"],
        )
        for r in attribution_position_weighted(spark, str(tmp_path)).collect()
    }
    # user1 credits: pos1 view 400000, pos5 view 400000, pos3 view middle2
    #   -> 66667; views = 866667. clicks middle1+middle3 = 66667+66666
    #   = 133333 (remainder micro goes to middles 1 and 2)
    # + user2 click 1000000
    assert got["view"] == (3, 1, 866_667, 10.0 * 0.866667)
    assert got["click"][0] == 3 and got["click"][1] == 2
    assert got["click"][2] == 133_333 + 1_000_000
    assert got["view"][2] + got["click"][2] == 2_000_000
    assert got["unattributed"] == (0, 1, 1_000_000, 30.0)


def test_clustering_coeff_oracle(spark, duck, sf_dir):
    """Staged for r12: local clustering coefficient over the top-K
    co-purchase cut vs the identical triangle + degree formulation."""
    from pac_spark.operators.graph import (
        CLUSTERING_COEFF_SQL,
        clustering_coeff_parts,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        clustering_coeff_parts(spark, sf_dir), duck.sql(CLUSTERING_COEFF_SQL())
    )


def test_clustering_coeff_crafted(spark, tmp_path):
    """Hand-checkable coefficients: a K4 (every node coeff 1000) with
    a pendant part attached to node 1 — the pendant (degree 1) is
    excluded, and node 1's degree rises to 4 while its triangle count
    stays 3: coeff = 2*3*1000 // (4*3) = 500."""
    import pandas as pd

    orders = []
    # K4 over parts 1..4: orders covering every pair
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    rows = []
    for i, (a, b) in enumerate(pairs):
        rows += [(100 + i, a), (100 + i, b)]
    rows += [(200, 1), (200, 9)]  # pendant part 9 on node 1
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from pac_spark.operators.graph import clustering_coeff_parts

    got = {
        r["part_id"]: (r["degree"], r["n_triangles"], r["coeff_milli"])
        for r in clustering_coeff_parts(spark, str(tmp_path)).collect()
    }
    assert 9 not in got  # degree-1 pendant excluded
    assert got[1] == (4, 3, 500)
    for node in (2, 3, 4):
        assert got[node] == (3, 3, 1000)


def test_trade_graph_components_oracle(spark, duck, sf_dir):
    """Staged for r12: strong-edge component census vs the unrolled
    pointer-doubling min-label oracle."""
    from pac_spark.operators.graph import TRADE_CC_SQL, trade_graph_components
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        trade_graph_components(spark, sf_dir), duck.sql(TRADE_CC_SQL())
    )


def test_trade_graph_components_crafted(spark, tmp_path):
    """Two disjoint trading blocs must census as two components with
    the right role mixes, labeled by their minimum encoded node."""
    import pandas as pd

    orders = pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4], "o_custkey": [1, 2, 5, 6]}
    )
    li = pd.DataFrame(
        {"l_orderkey": [1, 2, 3, 4], "l_suppkey": [1, 1, 7, 7]}
    )
    orders.to_parquet(tmp_path / "orders.parquet")
    li.to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.graph import trade_graph_components

    got = [
        (r["component_id"], r["n_members"], r["n_customers"], r["n_suppliers"])
        for r in trade_graph_components(spark, str(tmp_path)).collect()
    ]
    # bloc A: custs 1,2 + supp 1 -> min node 1*4+1 = 5
    # bloc B: custs 5,6 + supp 7 -> min node 5*4+1 = 21
    assert got == [(5, 3, 2, 1), (21, 3, 2, 1)]


def test_embedding_covariance_oracle(spark, duck, sf_dir):
    """Staged for r12: fixed-point-exact covariance matrix vs the
    identical HUGEINT moment formulation."""
    from pac_spark.operators.similarity import (
        COVARIANCE_SQL,
        embedding_covariance,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        embedding_covariance(spark, sf_dir), duck.sql(COVARIANCE_SQL)
    )


def test_embedding_covariance_crafted(spark, tmp_path):
    """Hand-checkable moments on 2-dim vectors (1,2),(3,6),(5,10):
    var_x = 8/3, cov_xy = 16/3, var_y = 32/3 (population). A vector
    with a NULL component and a NULL row are dropped whole — n stays 3
    for every pair."""
    import pandas as pd

    pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3, 4],
            "embedding": [
                [1.0, 2.0],
                [3.0, 6.0],
                [5.0, 10.0],
                [7.0, None],
                None,
            ],
            "label": [0] * 5,
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    from pac_spark.operators.similarity import embedding_covariance

    got = {
        (r["dim_i"], r["dim_j"]): (r["n"], r["cov"])
        for r in embedding_covariance(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 1)}
    assert got[(0, 0)][0] == 3
    assert abs(got[(0, 0)][1] - 8 / 3) < 1e-9
    assert abs(got[(0, 1)][1] - 16 / 3) < 1e-9
    assert abs(got[(1, 1)][1] - 32 / 3) < 1e-9


def test_streaming_binned_quantiles_oracle(spark, duck, sf_dir):
    """Staged for r12: the streamed fixed-bin histogram fold vs the
    one-shot binned quantile oracle — hash equality proves the
    per-micro-batch monoid equals the batch computation."""
    from pac_spark.streaming.stateful import (
        BINNED_QUANTILES_SQL,
        streaming_binned_quantiles,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_binned_quantiles(spark, sf_dir),
        duck.sql(BINNED_QUANTILES_SQL),
    )


def test_streaming_binned_quantiles_crafted(spark, tmp_path):
    """Hand-checkable read-off: 10 events of $5.00..$50.00 in one
    type — bins 1..10, p50 = bin 5 -> 2500 lo-cents, p90 = bin 9,
    p99 = bin 10; a NULL-value event adds no mass."""
    import pandas as pd

    t = pd.Timestamp("2024-01-01")
    rows = [
        (i, 1, t + pd.Timedelta(minutes=i), "a", 5.0 * (i + 1), "")
        for i in range(10)
    ]
    rows.append((10, 1, t + pd.Timedelta(minutes=10), "a", None, ""))
    pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet")
    from pac_spark.streaming.stateful import streaming_binned_quantiles

    [r] = streaming_binned_quantiles(spark, str(tmp_path)).collect()
    assert (
        r["event_type"],
        r["n_events"],
        r["p50_lo_cents"],
        r["p90_lo_cents"],
        r["p99_lo_cents"],
    ) == ("a", 10, 2500, 4500, 5000)


def test_blockhash_neardup_oracle(spark, duck, sf_dir):
    """Staged for r12: the byte-level block-mean perceptual-hash tier
    vs the character-stream oracle (equal under this corpus's
    single-byte text — the stated oracle assumption)."""
    from pac_spark.operators.multimodal import (
        BLOCKHASH_SQL,
        blockhash_neardup_pairs,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        blockhash_neardup_pairs(spark, sf_dir), duck.sql(BLOCKHASH_SQL)
    )


def test_blockhash_neardup_crafted(spark, tmp_path):
    """Constructed near-dups: doc 1 = 128 low bytes then 128 high
    bytes; doc 2 = the same with ONE byte flipped inside a block
    (hash-identical -> hamming 0); doc 3 = the inverse pattern (all
    64 bits differ -> never a candidate); a 32-byte doc is dropped by
    the length gate."""
    import pandas as pd

    lo, hi = "a", "z"
    d1 = lo * 128 + hi * 128
    d2 = lo * 127 + "b" + hi * 128  # one byte nudged, same block means
    d3 = hi * 128 + lo * 128
    d4 = lo * 32
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [d1, d2, d3, d4],
            "source": ["s"] * 4,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.multimodal import blockhash_neardup_pairs

    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in blockhash_neardup_pairs(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, 2, 0)]


def test_corpus_split_assignment_oracle(spark, duck, sf_dir):
    """Staged for r12: salted-bucket split census vs the identical
    digit-wise md5 formulation."""
    from pac_spark.operators.curation import SPLIT_SQL, corpus_split_assignment
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        corpus_split_assignment(spark, sf_dir), duck.sql(SPLIT_SQL())
    )


def test_corpus_split_disjoint_exhaustive(spark, sf_dir):
    """The census must account for EVERY non-NULL-lang document
    exactly once: per-lang split counts sum to the lang's doc count,
    and only the three split labels appear."""
    from pyspark.sql import functions as F

    from pac_spark import catalog
    from pac_spark.operators.curation import corpus_split_assignment

    rows = corpus_split_assignment(spark, sf_dir).collect()
    assert {r["split"] for r in rows} <= {"train", "valid", "test"}
    per_lang = {}
    for r in rows:
        per_lang[r["lang"]] = per_lang.get(r["lang"], 0) + r["n_docs"]
    want = {
        r["lang"]: r["c"]
        for r in catalog.load(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert per_lang == want


def test_open_orders_daily_oracle(spark, duck, sf_dir):
    """Staged for r12: the delta/running-sum backlog curve vs the
    identical interval-free formulation."""
    from pac_spark.operators.relational import OPEN_ORDERS_SQL, open_orders_daily
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        open_orders_daily(spark, sf_dir), duck.sql(OPEN_ORDERS_SQL)
    )


def test_open_orders_daily_crafted(spark, tmp_path):
    """Hand-checkable backlog: two overlapping orders and one
    lineitem-less order — the curve peaks at 2, closes at 0, and the
    no-lineitem order never opens; close day is the LAST ship."""
    import pandas as pd

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3],
            "o_orderdate": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-05"]
            ).astype("datetime64[us]"),
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2],
            "l_shipdate": pd.to_datetime(
                ["2024-01-02", "2024-01-03", "2024-01-02"]
            ).astype("datetime64[us]"),
        }
    )
    orders.to_parquet(tmp_path / "orders.parquet")
    li.to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.relational import open_orders_daily

    got = [
        (r["day"], r["n_opened"], r["n_closed"], r["open_orders"])
        for r in open_orders_daily(spark, str(tmp_path)).collect()
    ]
    assert got == [
        ("2024-01-01", 1, 0, 1),
        ("2024-01-02", 1, 0, 2),  # order 1 open through its LAST ship (01-03)
        ("2024-01-03", 0, 1, 1),  # order 2 closed (shipped 01-02)
        ("2024-01-04", 0, 1, 0),  # order 1 closed
    ]


def test_ann_recall_audit_oracle(spark, duck, sf_dir):
    """Staged for r12: recall@k of every ANN tier vs brute force —
    the oracle composes the tiers' registered oracle texts verbatim,
    so it can never drift from the per-tier oracles."""
    from pac_spark.operators.similarity import ann_recall_audit
    from pac_spark.plans.llm_plans import _recall_audit_sql
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        ann_recall_audit(spark, sf_dir), duck.sql(_recall_audit_sql())
    )


def test_ann_recall_audit_bounds(spark, sf_dir):
    """Structural invariants: every (tier, query) row bounded by k,
    hits <= returned, recall consistent with hits, and all three
    tiers report all three registered queries."""
    from pac_spark.operators.similarity import TOP_K, ann_recall_audit

    rows = ann_recall_audit(spark, sf_dir).collect()
    assert {(r["tier"], r["query_id"]) for r in rows} == {
        (t, q) for t in ("ivf", "lsh", "pq") for q in (0, 1, 2)
    }
    for r in rows:
        assert 0 <= r["n_hits"] <= r["n_returned"] <= TOP_K
        assert r["recall_milli"] == r["n_hits"] * 1000 // TOP_K


def test_cms_daily_heavy_hitters_oracle(spark, duck, sf_dir):
    """Staged for r12: the per-day CMS decode vs the identical seeded
    sketch + rank-cut + min-of-cells formulation."""
    from pac_spark.operators.sketch import CMS_DAILY_SQL, cms_daily_heavy_hitters
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        cms_daily_heavy_hitters(spark, sf_dir), duck.sql(CMS_DAILY_SQL())
    )


def test_cms_daily_guarantee_and_shape(spark, sf_dir):
    """The CMS contract per window: estimate >= truth on EVERY row
    (collisions only add), and no day reports more than the top-N
    candidate keys."""
    from collections import Counter

    from pac_spark.operators.sketch import CMS_DAILY_TOP_N, cms_daily_heavy_hitters

    rows = cms_daily_heavy_hitters(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["overcount"] >= 0, r
        assert r["cms_estimate"] == r["n_rows"] + r["overcount"]
    per_day = Counter(r["day"] for r in rows)
    assert max(per_day.values()) <= CMS_DAILY_TOP_N


def test_streaming_binned_quantiles_merge_order_free(spark):
    """The count-sum monoid against the grain: partials merged in
    reverse order equal the forward merge and the single-shot build.
    (NOT idempotent — a replayed batch inflates counts, like the
    cents folds and unlike bit_or/min-k; exactly-once comes from the
    checkpointed drain, which is the stated contract.)"""
    from pac_spark.streaming.stateful import _binned_merge, _binned_partial

    rows = [("a", 250), ("a", 750), ("a", 750), ("b", 0)]
    ev = spark.createDataFrame(rows, "event_type string, cents long")
    a = spark.createDataFrame(rows[:2], "event_type string, cents long")
    b = spark.createDataFrame(rows[2:], "event_type string, cents long")

    def snap(df):
        return {
            (r["event_type"], r["bin"]): r["cnt"] for r in df.collect()
        }

    fwd = snap(_binned_merge(_binned_partial(a), _binned_partial(b)))
    rev = snap(_binned_merge(_binned_partial(b), _binned_partial(a)))
    single = snap(_binned_partial(ev))
    assert fwd == rev == single == {("a", 0): 1, ("a", 1): 2, ("b", 0): 1}


def test_pca_top_component_oracle(spark, duck, sf_dir):
    """Staged for r12: exact-integer power iteration vs the identical
    10 unrolled HUGEINT matvec/rescale rounds."""
    from pac_spark.operators.similarity import PCA_SQL, pca_top_component
    from tests.conftest import assert_oracle_match

    assert_oracle_match(pca_top_component(spark, sf_dir), duck.sql(PCA_SQL()))


def test_pca_captures_top_eigenspace(spark, sf_dir):
    """INDEPENDENT formulation: the iterate's Rayleigh quotient under
    numpy's float covariance must capture >= 90% of numpy's dominant
    eigenvalue. (Direction equality is NOT asserted on this corpus:
    the synthetic embeddings have a near-flat spectrum — lambda2 /
    lambda1 ~ 0.93-0.99 — so no bounded-round iteration can separate
    the top eigenvectors; what power iteration DOES guarantee, and
    what whitening consumes, is a high-variance direction, which the
    Rayleigh quotient measures and which converges quadratically.
    Exact direction recovery is pinned by the spectral-gap crafted
    test below.)"""
    import numpy as np

    from pac_spark import catalog
    from pac_spark.operators.similarity import pca_top_component

    rows = catalog.load(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([r["embedding"] for r in rows if r["embedding"] is not None], dtype=np.float64)
    X = np.round(X * 1e6) / 1e6  # the operator's stated quantization
    C = np.cov(X, rowvar=False, bias=True)
    w = np.linalg.eigvalsh(C)
    got = pca_top_component(spark, sf_dir).collect()
    x = np.array([r["loading_micro"] for r in sorted(got, key=lambda r: r["dim"])], dtype=np.float64)
    rayleigh = (x @ C @ x) / (x @ x)
    assert rayleigh >= 0.9 * w[-1], (rayleigh, w[-1])
    # the eigenvalue read-off is the max-norm lambda of the iterate:
    # between 90% of lambda1 and lambda1 itself
    lam = got[0]["eigenvalue_nano"] / 1e9
    assert 0.85 * w[-1] <= lam <= 1.02 * w[-1], (lam, w[-1])


def test_pca_crafted_known_direction(spark, tmp_path):
    """Hand-checkable eigensolve: 2-dim points on the exact line
    y = 2x have dominant direction (1, 2) — loadings must sit in a
     1:2 ratio with the larger at full scale, and the eigenvalue must
    equal the population variance along the line (5·var(x))."""
    import pandas as pd

    xs = [1.0, 2.0, 3.0, -1.0, -2.0]
    pd.DataFrame(
        {
            "vec_id": list(range(5)),
            "embedding": [[x, 2 * x] for x in xs],
            "label": [0] * 5,
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    from pac_spark.operators.similarity import pca_top_component

    got = {r["dim"]: r for r in pca_top_component(spark, str(tmp_path)).collect()}
    lx, ly = got[0]["loading_micro"], got[1]["loading_micro"]
    assert abs(ly) == 1_000_000  # the dominant component carries max scale
    assert abs(lx * 2 - ly) <= 4  # 1:2 ratio to trunc-div tolerance
    # population var(x) of xs = 3.8 - 0.36 = ... computed: mean 0.6,
    # E[x^2] = (1+4+9+1+4)/5 = 3.8, var = 3.44; along (1,2): 5*3.44/ (1+4) ...
    # eigenvalue of C = var * [[1,2],[2,4]] pattern: lambda = 5*var(x) = 17.2? no:
    # C = var(x) * [[1,2],[2,4]], trace-dominant eigenvalue = var(x)*5 = 17.2
    lam = got[0]["eigenvalue_nano"] / 1e9
    assert abs(lam - 3.44 * 5) < 1e-3, lam


def test_cf_holdout_coverage_oracle(spark, duck, sf_dir):
    """Staged for r12: the held-out co-purchase coverage eval vs the
    identical digit-wise split + train-half CF formulation."""
    from pac_spark.operators.recommend import CF_HOLDOUT_SQL, cf_holdout_coverage
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        cf_holdout_coverage(spark, sf_dir), duck.sql(CF_HOLDOUT_SQL())
    )


def test_cf_holdout_coverage_crafted(spark, tmp_path):
    """A universal co-purchase must be fully covered: every order
    holds parts {1, 2}, so whichever orders land in the test bucket
    contribute the single distinct pair (1, 2), which the train-half
    index always recommends -> coverage exactly 1000 milli."""
    import pandas as pd

    rows = []
    for o in range(1, 51):
        rows += [(o, 1), (o, 2)]
    pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"]).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from pac_spark.operators.recommend import cf_holdout_coverage

    [r] = cf_holdout_coverage(spark, str(tmp_path)).collect()
    assert (r["n_test_pairs"], r["n_covered"], r["coverage_milli"]) == (1, 1, 1000)


def test_streaming_interarrival_oracle(spark, duck, sf_dir):
    """Staged for r12: incremental gap extraction (O(1) per-key state)
    vs the BATCH lag-window oracle — hash equality proves the state
    fold emits exactly the window's gap set."""
    from pac_spark.operators.temporal import INTERARRIVAL_SQL
    from pac_spark.streaming.stateful import streaming_interarrival_stats
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_interarrival_stats(spark, sf_dir),
        duck.sql(INTERARRIVAL_SQL),
    )


def test_gap_fold_split_and_regression():
    """The fold across an in-order batch split emits the SAME gap set
    as one batch (the cross-batch gap spans the split via state), and
    an out-of-order split is REFUSED — the lifetime fold discipline,
    proven directly against the fold function."""
    import pandas as pd
    import pytest

    from pac_spark.streaming.stateful import _GAP_STATE, _gap_fold

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    def frame(rows):
        df = pd.DataFrame(rows, columns=["user_id", "event_type", "event_id", "ts"])
        df["ts"] = df["ts"].astype("datetime64[us]")
        return df

    t = pd.Timestamp("2024-01-01")
    m = pd.Timedelta(minutes=1)
    rows = [(7, "a", 1, t), (7, "a", 2, t + m), (7, "a", 3, t + 3 * m)]

    one = FakeState()
    [whole] = list(_gap_fold((7, "a"), iter([frame(rows)]), one))
    assert list(whole["gap_us"]) == [60_000_000, 120_000_000]

    split = FakeState()
    [g1] = list(_gap_fold((7, "a"), iter([frame(rows[:2])]), split))
    [g2] = list(_gap_fold((7, "a"), iter([frame(rows[2:])]), split))
    assert list(g1["gap_us"]) + list(g2["gap_us"]) == [60_000_000, 120_000_000]
    assert split.get == one.get

    bad = FakeState()
    list(_gap_fold((7, "a"), iter([frame(rows[2:])]), bad))
    with pytest.raises(RuntimeError, match="regression"):
        list(_gap_fold((7, "a"), iter([frame(rows[:2])]), bad))
    assert len(_GAP_STATE.fields) == 2


def test_hits_hub_authority_oracle(spark, duck, sf_dir):
    """Staged for r12: integer HITS power iteration vs the identical
    unrolled half-round CTE chain."""
    from pac_spark.operators.graph import HITS_SQL, hits_hub_authority
    from tests.conftest import assert_oracle_match

    assert_oracle_match(hits_hub_authority(spark, sf_dir), duck.sql(HITS_SQL()))


def test_hits_crafted_matches_int_mirror(spark, tmp_path):
    """INDEPENDENT formulation: a 10-line pure-Python integer mirror
    of the half-round recurrence on a hand-built 2x2 bipartite graph
    (c1 buys from s7+s8, c2 from s8 only). The shared-supplier
    structure makes s8 the max authority and c1 the max hub every
    round, and the s7/s8 ratio must be marching toward 1/phi (the
    dominant eigenvector of [[1,1],[1,2]] is (1, phi))."""
    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": [1, 2], "o_custkey": [1, 2]}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 1, 2], "l_suppkey": [7, 8, 8]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.graph import HITS_ROUNDS, HITS_SCALE, hits_hub_authority

    edges = [(1, 7), (1, 8), (2, 8)]
    h = {1: HITS_SCALE, 2: HITS_SCALE}
    for _ in range(HITS_ROUNDS):
        a_raw = {}
        for c, s in edges:
            a_raw[s] = a_raw.get(s, 0) + h[c]
        mx = max(a_raw.values())
        a = {s: v * HITS_SCALE // mx for s, v in a_raw.items()}
        h_raw = {}
        for c, s in edges:
            h_raw[c] = h_raw.get(c, 0) + a[s]
        mx = max(h_raw.values())
        h = {c: v * HITS_SCALE // mx for c, v in h_raw.items()}

    got = {
        (r["role"], r["entity_key"]): r["score_micro"]
        for r in hits_hub_authority(spark, str(tmp_path)).collect()
    }
    want = {("supplier", s): v for s, v in a.items()}
    want.update({("customer", c): v for c, v in h.items()})
    assert got == want
    assert got[("supplier", 8)] == HITS_SCALE and got[("customer", 1)] == HITS_SCALE
    # 4 rounds in on this graph the ratio sits within 2% of 1/phi
    assert abs(got[("supplier", 7)] / HITS_SCALE - 0.618) < 0.02


def test_hits_rejects_empty_graph(spark, tmp_path):
    """The pagerank stance: an empty edge set has no singular pair —
    refuse rather than guess (also the empty-sweep carve-out)."""
    import pandas as pd
    import pytest

    pd.DataFrame({"o_orderkey": [], "o_custkey": []}).astype("int64").to_parquet(
        tmp_path / "orders.parquet"
    )
    pd.DataFrame({"l_orderkey": [], "l_suppkey": []}).astype("int64").to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from pac_spark.operators.graph import hits_hub_authority

    with pytest.raises(ValueError, match="non-empty edge set"):
        hits_hub_authority(spark, str(tmp_path))


def test_doc_surprisal_octaves_oracle(spark, duck, sf_dir):
    """Staged for r12: integer octave surprisal vs the identical
    ratio-floor-log2 formulation."""
    from pac_spark.operators.text import SURPRISAL_SQL, doc_surprisal_octaves
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        doc_surprisal_octaves(spark, sf_dir), duck.sql(SURPRISAL_SQL)
    )


def test_doc_surprisal_crafted(spark, tmp_path):
    """Hand-checkable corpus: tf = {a: 5, b: 1, c: 1}, N = 7, so
    oct(a) = floor(log2(7/5)) = 0 and oct(b) = oct(c) =
    floor(log2(7)) = 2. The all-common doc scores 0, the hapax doc
    scores 2, and the NULL-text doc is absent by contract."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["a a a a", "a b", "c", None],
            "lang": ["en", "en", "de", "en"],
            "source": ["s"] * 4,
            "n_chars": [7, 3, 1, 0],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import doc_surprisal_octaves

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["sum_octave"], r["max_octave"], r["mean_surprisal"]
        )
        for r in doc_surprisal_octaves(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (4, 0, 0, 0.0),
        2: (2, 2, 2, 1.0),
        3: (1, 2, 2, 2.0),
    }


def test_label_centroid_cosine_oracle(spark, duck, sf_dir):
    """Staged for r12: fixed-point centroid cosine matrix vs the
    identical sum-vector formulation."""
    from pac_spark.operators.similarity import (
        CENTROID_COSINE_SQL,
        label_centroid_cosine,
    )
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        label_centroid_cosine(spark, sf_dir), duck.sql(CENTROID_COSINE_SQL)
    )


def test_label_centroid_cosine_crafted(spark, tmp_path):
    """Hand-checkable geometry: label 0 sums to (2, 0), label 1 to
    (0, 2), label 2 to (3, 3) -> orthogonal pair scores 0, the 45-deg
    pairs score 1/sqrt(2); the all-zero label 3 yields NULL (stated
    contract); the NULL-label and NULL-component rows are excluded."""
    import pandas as pd

    pd.DataFrame(
        {
            "vec_id": list(range(7)),
            "embedding": [
                [1.0, 0.0], [1.0, 0.0],   # label 0
                [0.0, 2.0],               # label 1
                [3.0, 3.0],               # label 2
                [0.0, 0.0],               # label 3: zero norm
                [9.0, 9.0],               # NULL label: excluded
                [1.0, None],              # NULL component: excluded
            ],
            "label": pd.array([0, 0, 1, 2, 3, None, 0], dtype="Int32"),
        }
    ).to_parquet(tmp_path / "embeddings.parquet")
    from pac_spark.operators.similarity import label_centroid_cosine

    got = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in label_centroid_cosine(spark, str(tmp_path)).collect()
    }
    assert set(got) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
    assert got[(0, 1)] == 0.0
    assert abs(got[(0, 2)] - 2**-0.5) < 1e-12
    assert abs(got[(1, 2)] - 2**-0.5) < 1e-12
    assert got[(0, 3)] is None and got[(1, 3)] is None and got[(2, 3)] is None


def test_ppr_from_hub_oracle(spark, duck, sf_dir):
    """Staged for r12: sparse integer personalized PageRank vs the
    identical unrolled full-join teleport rounds."""
    from pac_spark.operators.graph import PPR_SQL, ppr_from_hub
    from tests.conftest import assert_oracle_match

    assert_oracle_match(ppr_from_hub(spark, sf_dir), duck.sql(PPR_SQL()))


def test_ppr_crafted_sparse_reach(spark, tmp_path):
    """INDEPENDENT formulation: a pure-Python integer mirror on a
    chain c1—s7—c2—s8 plus a DISCONNECTED pair c3—s9. The seed is c2
    (deg 2, smallest encoded id among the deg-2 tie), the reached set
    is exactly the chain's 4 nodes — the disconnected pair must be
    ABSENT (the sparse-frame contract), and every present score must
    equal the mirror's."""
    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4], "o_custkey": [1, 2, 2, 3]}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3, 4], "l_suppkey": [7, 7, 8, 9]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.graph import (
        DAMPING_PCT,
        PPR_ROUNDS,
        RANK_SCALE,
        ppr_from_hub,
    )

    und = []
    for c, s in [(1, 7), (2, 7), (2, 8), (3, 9)]:
        a, b = c * 4 + 1, s * 4 + 2
        und += [(a, b), (b, a)]
    deg = {}
    for u, _ in und:
        deg[u] = deg.get(u, 0) + 1
    seed = min(u for u in deg if deg[u] == max(deg.values()))
    assert seed == 2 * 4 + 1  # c2 beats s7 on id within the deg-2 tie
    teleport = (100 - DAMPING_PCT) * RANK_SCALE // 100
    r = {seed: RANK_SCALE}
    for _ in range(PPR_ROUNDS):
        mass = {}
        for u, v in und:
            if u in r:
                mass[v] = mass.get(v, 0) + r[u] // deg[u]
        r = {
            v: (teleport if v == seed else 0) + DAMPING_PCT * m // 100
            for v, m in mass.items()
        }
        r[seed] = r.get(seed, teleport)
    got = {
        (row["role"], row["entity_key"]): row["ppr_micro"]
        for row in ppr_from_hub(spark, str(tmp_path)).collect()
    }
    want = {
        ("supplier" if n % 4 == 2 else "customer", n // 4): v
        for n, v in r.items()
    }
    assert got == want
    assert ("customer", 3) not in got and ("supplier", 9) not in got
    assert max(got, key=got.get) == ("customer", 2)


def test_ppr_empty_graph_is_empty(spark, tmp_path):
    """No edges -> no seed -> an EMPTY frame (stated contract; the
    global pagerank raises instead because a uniform teleport needs a
    node space — a personalized walk just has nowhere to start)."""
    import pandas as pd

    pd.DataFrame({"o_orderkey": [], "o_custkey": []}).astype("int64").to_parquet(
        tmp_path / "orders.parquet"
    )
    pd.DataFrame({"l_orderkey": [], "l_suppkey": []}).astype("int64").to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from pac_spark.operators.graph import ppr_from_hub

    assert ppr_from_hub(spark, str(tmp_path)).collect() == []


def test_hyperball_oracle(spark, duck, sf_dir):
    """Staged for r12: HLL-register BFS neighborhood function vs the
    identical unrolled register propagation."""
    from pac_spark.operators.graph import HYPERBALL_SQL, hyperball_reach_profile
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        hyperball_reach_profile(spark, sf_dir), duck.sql(HYPERBALL_SQL())
    )


def test_hyperball_crafted_matches_exact_ball_mirror(spark, tmp_path):
    """INDEPENDENT formulation: on a graph tiny enough to enumerate,
    compute every node's EXACT t-ball with pure-Python BFS, rebuild
    each ball's 64-register sketch with hashlib md5 (the md5_u60
    definition verbatim: first 15 hex digits), and read the estimate
    through the same raw formula — row-for-row equality proves the
    distributed register propagation computes exactly the union
    sketch of the exact ball."""
    import hashlib

    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": [1, 2, 3], "o_custkey": [1, 2, 2]}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3], "l_suppkey": [7, 7, 8]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.graph import HB_HOPS, hyperball_reach_profile
    from pac_spark.operators.sketch import HLL_K, HLL_M, _HLL_EST_NUM

    und = []
    for c, s in [(1, 7), (2, 7), (2, 8)]:
        a, b = c * 4 + 1, s * 4 + 2
        und += [(a, b), (b, a)]
    nodes = sorted({u for u, _ in und})
    adj = {n: {v for u, v in und if u == n} for n in nodes}

    def ball(v, t):
        cur = {v}
        for _ in range(t):
            cur = cur | {w for u in cur for w in adj[u]}
        return cur

    def est(members):
        regs = {}
        for n in members:
            h = int(hashlib.md5(f"hb|{n}".encode()).hexdigest()[:15], 16)
            w, reg = h >> 6, h % HLL_M
            rho = 55 if w == 0 else (w & -w).bit_length()
            regs[reg] = max(regs.get(reg, 0), rho)
        s_tot = sum(1 << (HLL_K - m) for m in regs.values()) + (
            HLL_M - len(regs)
        ) * (1 << HLL_K)
        # mirror both engines' ROUND (half away from zero on positives)
        import decimal

        return int(
            decimal.Decimal(_HLL_EST_NUM / s_tot).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    want = {
        t: sum(est(ball(v, t)) for v in nodes) for t in range(HB_HOPS + 1)
    }
    got = {
        r["hop"]: r["reach_est"]
        for r in hyperball_reach_profile(spark, str(tmp_path)).collect()
    }
    assert got == want
    # the profile is monotone and the final hop covers itself
    rows = hyperball_reach_profile(spark, str(tmp_path)).collect()
    by_hop = sorted(rows, key=lambda r: r["hop"])
    assert all(
        a["reach_est"] <= b["reach_est"] for a, b in zip(by_hop, by_hop[1:])
    )
    assert by_hop[-1]["share_of_final_milli"] == 1000
    assert by_hop[-1]["reaches_90pct"] is True


def test_hyperball_empty_graph_null_spine(spark, tmp_path):
    """No nodes -> the hop spine survives with NULL reach in BOTH
    engines (SUM over nothing), never a division error."""
    import pandas as pd

    pd.DataFrame({"o_orderkey": [], "o_custkey": []}).astype("int64").to_parquet(
        tmp_path / "orders.parquet"
    )
    pd.DataFrame({"l_orderkey": [], "l_suppkey": []}).astype("int64").to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from pac_spark.operators.graph import HB_HOPS, hyperball_reach_profile

    rows = hyperball_reach_profile(spark, str(tmp_path)).collect()
    assert [r["hop"] for r in rows] == list(range(HB_HOPS + 1))
    assert all(r["reach_est"] is None for r in rows)


def test_harmonic_centrality_oracle(spark, duck, sf_dir):
    """Staged for r12: per-node hop-delta harmonic centrality vs the
    identical shared-prefix formulation."""
    from pac_spark.operators.graph import HARMONIC_SQL, hyperball_harmonic_centrality
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        hyperball_harmonic_centrality(spark, sf_dir), duck.sql(HARMONIC_SQL())
    )


def test_harmonic_centrality_crafted_mirror(spark, tmp_path):
    """INDEPENDENT formulation on the chain c1—s7—c2—s8—c3: exact
    Python BFS balls → hashlib register sketches → hop-delta harmonic
    sum, row-for-row against the operator (the hyperball mirror,
    extended through the 1/t read-off)."""
    import hashlib

    import pandas as pd

    pd.DataFrame(
        {"o_orderkey": [1, 2, 3, 4], "o_custkey": [1, 2, 2, 3]}
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {"l_orderkey": [1, 2, 3, 4], "l_suppkey": [7, 7, 8, 8]}
    ).to_parquet(tmp_path / "lineitem.parquet")
    from pac_spark.operators.graph import HB_HOPS, hyperball_harmonic_centrality
    from pac_spark.operators.sketch import HLL_K, HLL_M, _HLL_EST_NUM

    und = []
    for c, s in {(1, 7), (2, 7), (2, 8), (3, 8)}:
        a, b = c * 4 + 1, s * 4 + 2
        und += [(a, b), (b, a)]
    nodes = sorted({u for u, _ in und})
    adj = {n: {v for u, v in und if u == n} for n in nodes}

    def ball(v, t):
        cur = {v}
        for _ in range(t):
            cur = cur | {w for u in cur for w in adj[u]}
        return cur

    import decimal

    def est(members):
        regs = {}
        for n in members:
            h = int(hashlib.md5(f"hb|{n}".encode()).hexdigest()[:15], 16)
            w, reg = h >> 6, h % HLL_M
            rho = 55 if w == 0 else (w & -w).bit_length()
            regs[reg] = max(regs.get(reg, 0), rho)
        s_tot = sum(1 << (HLL_K - m) for m in regs.values()) + (
            HLL_M - len(regs)
        ) * (1 << HLL_K)
        return int(
            decimal.Decimal(_HLL_EST_NUM / s_tot).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    want = {}
    for v in nodes:
        es = [est(ball(v, t)) for t in range(HB_HOPS + 1)]
        want[v] = sum(
            (es[t] - es[t - 1]) * 1000 // t for t in range(1, HB_HOPS + 1)
        )
    got = {
        (r["role"], r["entity_key"]): r["centrality_milli"]
        for r in hyperball_harmonic_centrality(spark, str(tmp_path)).collect()
    }
    want_rows = {
        ("supplier" if n % 4 == 2 else "customer", n // 4): v
        for n, v in want.items()
    }
    assert got == want_rows


def test_jackknife_se_oracle(spark, duck, sf_dir):
    """Staged for r12: bucket-subtraction jackknife replicates vs the
    identical formulation."""
    from pac_spark.operators.stats import JACKKNIFE_SQL, jackknife_se_price_by_priority
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        jackknife_se_price_by_priority(spark, sf_dir), duck.sql(JACKKNIFE_SQL())
    )


def test_jackknife_crafted_mirror_and_degenerate(spark, tmp_path):
    """INDEPENDENT formulation: hashlib md5 buckets + decimal
    replicate arithmetic reproduce the SE exactly on a 40-row group;
    a single-row group (one bucket owns everything) reads SE = NULL —
    the stated degenerate contract."""
    import hashlib

    import pandas as pd

    rows = [(k, "A", 100.0 + k) for k in range(1, 41)]
    rows.append((999, "B", 500.0))
    pd.DataFrame(
        rows, columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    ).to_parquet(tmp_path / "orders.parquet")
    from pac_spark.operators.stats import JK_BUCKETS, jackknife_se_price_by_priority

    def bucket(k):
        return int(hashlib.md5(f"jk|{k}".encode()).hexdigest()[:8], 16) % JK_BUCKETS

    import decimal

    def rnd(x):
        return int(
            decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP)
        )

    n_g, s_g = {}, {}
    for k, _, p in rows[:40]:
        g = bucket(k)
        n_g[g] = n_g.get(g, 0) + 1
        s_g[g] = s_g.get(g, 0) + rnd(p * 100)
    n, s, gc = sum(n_g.values()), sum(s_g.values()), len(n_g)
    qs = [
        rnd(float(s - s_g[g]) / (n - n_g[g]) * 1000000.0) for g in n_g
    ]
    s1, sq = sum(qs), sum(v * v for v in qs)
    want_se = ((gc - 1) * (gc * sq - s1 * s1)) ** 0.5 / (gc * 100000000.0)

    got = {
        r["o_orderpriority"]: r
        for r in jackknife_se_price_by_priority(spark, str(tmp_path)).collect()
    }
    a = got["A"]
    assert (a["n_rows"], a["n_buckets"]) == (40, gc)
    assert a["jackknife_se"] == want_se
    assert abs(a["mean_price"] - float(s) / (n * 100.0)) < 1e-9
    b = got["B"]
    assert b["n_rows"] == 1 and b["jackknife_se"] is None


def test_langid_confusion_oracle(spark, duck, sf_dir):
    """Staged for r12: the classifier confusion matrix vs the
    composed language_id oracle text."""
    from pac_spark.operators.text import LANGID_CONFUSION_SQL, langid_confusion_matrix
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        langid_confusion_matrix(spark, sf_dir), duck.sql(LANGID_CONFUSION_SQL())
    )


def test_langid_confusion_crafted(spark, tmp_path):
    """Hand-checkable matrix: two en-labeled docs full of English
    markers (diagonal), one en-labeled doc full of German markers
    (off-diagonal), one NULL-labeled doc (its own row). Shares are
    truncating thirds: 666/333."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the and not this",
                "the the and",
                "der und nicht das",
                "the and",
            ],
            "lang": ["en", "en", "en", None],
            "source": ["s"] * 4,
            "n_chars": [1] * 4,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import langid_confusion_matrix

    got = {
        (r["lang"], r["lang_guess"]): (r["n_docs"], r["row_share_milli"])
        for r in langid_confusion_matrix(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("en", "en"): (2, 666),
        ("en", "de"): (1, 333),
        (None, "en"): (1, 1000),
    }


def test_collocations_oracle(spark, duck, sf_dir):
    """Staged for r12: lift-ranked collocations vs the identical
    fixed-shape scalar expression."""
    from pac_spark.operators.text import COLLOCATIONS_SQL, collocations_top_lift
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        collocations_top_lift(spark, sf_dir), duck.sql(COLLOCATIONS_SQL)
    )


def test_collocations_crafted_phrase(spark, tmp_path):
    """A planted phrase dominates: "new york" appears in every doc
    among unique filler, so its lift — computed by the same
    fixed-shape float expression in pure Python — tops the list."""
    import pandas as pd

    docs = [f"new york f{i}a f{i}b" for i in range(8)]
    pd.DataFrame(
        {
            "doc_id": list(range(8)),
            "text": docs,
            "lang": ["en"] * 8,
            "source": ["s"] * 8,
            "n_chars": [1] * 8,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.text import collocations_top_lift

    rows = collocations_top_lift(spark, str(tmp_path)).collect()
    # bigrams per doc: (new,york) (york,f{i}a) (f{i}a,f{i}b) -> 24
    # total; unigrams: 32 total, new=8, york=8. Only (new, york) has
    # support >= 5.
    assert len(rows) == 1
    top = rows[0]
    assert (top["w1"], top["w2"], top["n_pair"]) == ("new", "york", 8)
    want = ((float(8) * 32) * 32) / ((float(24) * 8) * 8)
    assert top["lift"] == want


def test_streaming_langid_confusion_oracle(spark, duck, sf_dir):
    """Staged for r12: the streamed confusion fold vs the BATCH
    tier's composed language_id oracle — hash equality proves
    incremental maintenance == the one-shot matrix."""
    from pac_spark.operators.text import LANGID_CONFUSION_SQL
    from pac_spark.streaming.stateful import streaming_langid_confusion
    from tests.conftest import assert_oracle_match

    assert_oracle_match(
        streaming_langid_confusion(spark, sf_dir),
        duck.sql(LANGID_CONFUSION_SQL()),
    )


def test_streaming_langid_confusion_merge_is_order_free(spark, sf_dir):
    """The fold's merge unit-tested directly (single-file sources
    drain in one batch, so the streamed run exercises partial-only):
    splitting the corpus in two, folding in EITHER order, equals the
    whole-corpus partial — per-cell SUM is a commutative monoid."""
    from pyspark.sql import functions as F

    from pac_spark import catalog
    from pac_spark.operators.text import _langid_scored

    def partial(df):
        return (
            _langid_scored(df.select("doc_id", "lang", "text"))
            .groupBy("lang", "lang_guess")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    def merge(a, b):
        return (
            a.unionByName(b)
            .groupBy("lang", "lang_guess")
            .agg(F.sum("n_docs").alias("n_docs"))
        )

    docs = catalog.load(spark, sf_dir, "documents")
    lo, hi = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")

    def rows(df):
        return sorted(
            (r["lang"], r["lang_guess"], r["n_docs"]) for r in df.collect()
        )

    whole = rows(partial(docs))
    assert rows(merge(partial(lo), partial(hi))) == whole
    assert rows(merge(partial(hi), partial(lo))) == whole


def test_hrw_shard_rebalance_oracle(spark, duck, sf_dir):
    """Staged for r12: row-local HRW argmax vs the window-rank
    formulation of the same owner rule."""
    from pac_spark.operators.curation import HRW_SQL, hrw_shard_rebalance
    from tests.conftest import assert_oracle_match

    assert_oracle_match(hrw_shard_rebalance(spark, sf_dir), duck.sql(HRW_SQL()))


def test_hrw_minimal_disruption_mirror(spark, tmp_path):
    """INDEPENDENT formulation with hashlib, plus the property that
    makes HRW worth shipping: on growing N -> N+1, every document
    that moves moves TO the new shard (keys never reshuffle among
    survivors — mod-hashing would move ~N/(N+1) of them)."""
    import hashlib

    import pandas as pd

    ids = list(range(1, 501))
    pd.DataFrame(
        {
            "doc_id": ids,
            "text": ["x"] * 500,
            "lang": ["en"] * 500,
            "source": ["s"] * 500,
            "n_chars": [1] * 500,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from pac_spark.operators.curation import HRW_SHARDS, hrw_shard_rebalance

    def h(s, d):
        return int(hashlib.md5(f"hrw|{s}|{d}".encode()).hexdigest()[:15], 16)

    def owner(d, n):
        return max(range(n), key=lambda s: (h(s, d), s))

    want = {}
    total_moved = 0
    for d in ids:
        o8, o9 = owner(d, HRW_SHARDS), owner(d, HRW_SHARDS + 1)
        n, m = want.get(o8, (0, 0))
        moved = o8 != o9
        if moved:
            # THE property: a moved key lands on the NEW shard only
            assert o9 == HRW_SHARDS
            total_moved += 1
        want[o8] = (n + 1, m + (1 if moved else 0))
    got = {
        r["shard"]: (r["n_docs"], r["n_moved"])
        for r in hrw_shard_rebalance(spark, str(tmp_path)).collect()
    }
    assert got == want
    # the move volume is ~n/(N+1), nowhere near mod-hash's ~n*N/(N+1)
    assert total_moved < 500 * 2 // (HRW_SHARDS + 1)
