"""Unit tests for the round-6 operators against hand-computable
fixtures (the sf-level oracle checks live in tools/check_correctness.py)."""

import math

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators.profile import (
    bh_fdr_report,
    jackknife_ratio_ci,
    poisson_bootstrap_ci,
    psi_drift_report,
    salt_plan_report,
)
from avro_sql_spark.operators.text import chao1_richness


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING"
    )


def test_chao1_no_singletons_is_saturated(spark):
    # every type seen twice: f1=0 -> chao1 == vocab, coverage == 1
    df = _docs(spark, [(1, "aa bb aa bb", "s")])
    row = chao1_richness(df).collect()[0]
    assert row["vocab_size"] == 2
    assert row["n_tokens"] == 4
    assert row["f1"] == 0 and row["f2"] == 2
    assert row["chao1_estimate"] == pytest.approx(2.0)
    assert row["coverage"] == pytest.approx(1.0)


def test_chao1_bias_corrected_formula(spark):
    # counts: aa x1, bb x1, cc x2 -> V=3, f1=2, f2=1
    # chao1 = 3 + 2*1/(2*(1+1)) = 3.5; coverage = 1 - 2/4 = 0.5
    df = _docs(spark, [(1, "aa bb cc cc", "s")])
    row = chao1_richness(df).collect()[0]
    assert row["chao1_estimate"] == pytest.approx(3.5)
    assert row["coverage"] == pytest.approx(0.5)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE",
    )


def test_poisson_bootstrap_interval_brackets_point(spark):
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5), i % 7, "view", float(i % 13))
        for i in range(400)
    ]
    out = poisson_bootstrap_ci(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_events"] == 400
    # deterministic resampling: interval exists and brackets the mean
    assert r["boot_lo"] <= r["point_mean"] <= r["boot_hi"]
    assert r["boot_lo"] < r["boot_hi"]
    # rerun is bit-identical (pure function of ids)
    again = poisson_bootstrap_ci(_events(spark, rows)).collect()[0]
    assert (r["boot_lo"], r["boot_hi"]) == (again["boot_lo"], again["boot_hi"])


def test_bh_fdr_null_data_rejects_nothing(spark):
    import datetime as dt

    # identical value distribution in both arms (value depends only on
    # event_id, arms split users) -> no type should be rejected
    rows = [
        (i, dt.datetime(2024, 1, 1), i, f"t{i % 4}", float(i % 10))
        for i in range(800)
    ]
    out = bh_fdr_report(_events(spark, rows)).collect()
    assert len(out) == 4
    assert [r["p_rank"] for r in out] == [1, 2, 3, 4]
    assert not any(r["rejected"] for r in out)


def test_psi_zero_for_identical_halves(spark):
    import datetime as dt

    # same value multiset in each half -> every decile splits evenly,
    # every term 0, total 0
    rows = []
    for i in range(200):
        rows.append((i, dt.datetime(2024, 1, 1), 1, "a", float(i % 20)))
        rows.append(
            (1000 + i, dt.datetime(2024, 1, 9), 1, "a", float(i % 20))
        )
    out = psi_drift_report(_events(spark, rows)).collect()
    assert len(out) == 10
    assert all(r["n_h1"] == r["n_h2"] == 20 for r in out)
    assert all(r["psi_term"] == 0.0 for r in out)
    assert out[0]["psi_total"] == 0.0


def test_psi_detects_shift(spark):
    import datetime as dt

    # overlapping but shifted halves (h2 = h1 + 5): the shared deciles
    # carry unbalanced shares -> positive PSI. (A TOTAL separation puts
    # every decile in one half only; those terms are NULL under the
    # epsilon-free convention and are excluded — so the fixture must
    # overlap to exercise the nonzero path.)
    rows = [
        (i, dt.datetime(2024, 1, 1), 1, "a", float(i % 20))
        for i in range(200)
    ] + [
        (1000 + i, dt.datetime(2024, 1, 9), 1, "a", 5.0 + i % 20)
        for i in range(200)
    ]
    out = psi_drift_report(_events(spark, rows)).collect()
    assert out[0]["psi_total"] > 0.05


def test_salt_plan_caps_and_ceils(spark):
    import datetime as dt

    # one whale key (900 rows), many tiny; total=1000, target=ceil(1000/32)=32
    rows = [(i, dt.datetime(2024, 1, 1), 1, "a", 0.0) for i in range(900)]
    rows += [
        (1000 + i, dt.datetime(2024, 1, 1), 10 + i, "a", 0.0)
        for i in range(100)
    ]
    out = salt_plan_report(_events(spark, rows)).collect()
    whale = out[0]
    assert whale["key"] == 1 and whale["n_rows"] == 900
    assert whale["target_rows"] == 32
    # ceil(900/32)=29 > max_salt -> capped at 16; after = ceil(900/16)
    assert whale["salt_n"] == 16
    assert whale["rows_per_task_after"] == math.ceil(900 / 16)
    assert all(r["salt_n"] == 1 for r in out[1:])


def test_jackknife_zero_variance_when_days_identical(spark):
    import datetime as dt

    # identical (e, p) every day -> every leave-one-out ratio equals
    # the overall ratio -> SE exactly 0
    rows = []
    for d in range(10):
        for i in range(20):
            et = "purchase" if i < 5 else "view"
            rows.append(
                (d * 100 + i, dt.datetime(2024, 1, 1 + d), 1, et, 0.0)
            )
    r = jackknife_ratio_ci(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 10
    assert r["ratio"] == pytest.approx(0.25)
    assert r["jk_se"] == 0.0
    assert r["ci_lo"] == r["ratio"] == r["ci_hi"]


def test_jackknife_se_positive_on_heterogeneous_days(spark):
    import datetime as dt

    rows = []
    for d in range(8):
        n_conv = 2 + (d % 3) * 4
        for i in range(20):
            et = "purchase" if i < n_conv else "view"
            rows.append(
                (d * 100 + i, dt.datetime(2024, 1, 1 + d), 1, et, 0.0)
            )
    r = jackknife_ratio_ci(_events(spark, rows)).collect()[0]
    assert r["jk_se"] > 0
    assert r["ci_lo"] < r["ratio"] < r["ci_hi"]


def test_capture_recapture_chapman(spark):
    # A has 3 docs, B has 2, 1 shared -> Chapman = 4*3/2 - 1 = 5
    rows = [
        (1, "shared doc text", "A"),
        (2, "only in a one", "A"),
        (3, "only in a two", "A"),
        (4, "shared doc text", "B"),
        (5, "only in b one", "B"),
    ]
    from avro_sql_spark.operators.dedup import capture_recapture_overlap

    out = capture_recapture_overlap(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["n_b"], r["n_shared"]) == (3, 2, 1)
    assert r["chapman_total"] == pytest.approx(5.0)
    # union = 4 of estimated 5 -> coverage 0.8
    assert r["crawl_coverage"] == pytest.approx(0.8)


def test_capture_recapture_zero_overlap_pair_emitted(spark):
    rows = [(1, "xx", "A"), (2, "yy", "B")]
    from avro_sql_spark.operators.dedup import capture_recapture_overlap

    r = capture_recapture_overlap(_docs(spark, rows)).collect()[0]
    assert r["n_shared"] == 0
    # Chapman degenerates to (1+1)(1+1)/1 - 1 = 3: a stated lower bound
    assert r["chapman_total"] == pytest.approx(3.0)


def test_cochran_armitage_detects_rising_trend(spark):
    import datetime as dt

    # value tiers: users 0-9 low spend never convert, 10-19 mid spend
    # convert half, 20-29 high spend always convert -> strong + trend
    rows = []
    eid = 0
    for u in range(30):
        tier = u // 10
        rows.append(
            (eid, dt.datetime(2024, 1, 1), u, "view", float(tier * 100 + u))
        )
        eid += 1
        if tier == 2 or (tier == 1 and u % 2 == 0):
            rows.append(
                (eid, dt.datetime(2024, 1, 1), u, "purchase", 0.0)
            )
            eid += 1
    from avro_sql_spark.operators.profile import cochran_armitage_trend

    r = cochran_armitage_trend(_events(spark, rows)).collect()[0]
    assert r["n_users"] == 30
    assert r["conv_low"] < r["conv_mid"] < r["conv_high"]
    assert r["trend_z"] > 2.0
    assert r["p_value"] < 0.05


def test_split_half_reliability_perfect_for_heavy_users(spark):
    import datetime as dt

    # users with wildly different event counts: both halves track the
    # user's total -> correlation near 1, SB pushes it higher
    rows = []
    eid = 0
    for u in range(20):
        for _ in range(10 + u * 40):
            rows.append((eid, dt.datetime(2024, 1, 1), u, "view", 0.0))
            eid += 1
    from avro_sql_spark.operators.profile import split_half_reliability

    r = split_half_reliability(_events(spark, rows)).collect()[0]
    assert r["n_users"] == 20
    assert r["half_corr"] > 0.95
    assert r["sb_reliability"] >= r["half_corr"]


def test_partition_advisor_counts_and_ceils(spark):
    from avro_sql_spark.operators.profile import partition_layout_advisor

    # 120,000 rows: 2 event types, 3 days, 5 users
    events = spark.range(120_000).select(
        F.col("id").alias("event_id"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, cast(id % 3 AS INT))")
        .alias("ts"),
        (F.col("id") % 5).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    out = {r["candidate"]: r for r in partition_layout_advisor(events).collect()}
    assert out["event_type"]["n_partitions"] == 2
    assert out["day"]["n_partitions"] == 3
    assert out["event_type"]["n_rows"] == 120_000
    # 60,000 rows/type at the 50,000-row target -> 2 files each
    assert out["event_type"]["est_files"] == 4
    assert out["day"]["est_files"] == 3
    assert out["event_type"]["skew"] == pytest.approx(1.0)


def test_max_drawdown_monotone_series_is_zero(spark):
    import datetime as dt

    # strictly rising cumulative value -> no drawdown, trough = day 1
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "a", 10.0) for i in range(8)
    ]
    from avro_sql_spark.operators.profile import max_drawdown_daily

    r = max_drawdown_daily(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 8
    assert r["max_drawdown"] == 0.0
    assert r["trough_day"] == "2024-01-01"


def test_max_drawdown_detects_trough(spark):
    import datetime as dt

    # daily values +10, +10, -15, -5, +20: cum = 10,20,5,0,20
    # peak=20 at day2; trough at day4 (drawdown 20)
    vals = [10.0, 10.0, -15.0, -5.0, 20.0]
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "a", v)
        for i, v in enumerate(vals)
    ]
    from avro_sql_spark.operators.profile import max_drawdown_daily

    r = max_drawdown_daily(_events(spark, rows)).collect()[0]
    assert r["max_drawdown"] == pytest.approx(20.0)
    assert r["trough_day"] == "2024-01-04"
    assert r["peak_value"] == pytest.approx(20.0)


def test_ljung_box_periodic_series_rejects(spark):
    import datetime as dt

    # strong 24h periodicity: bursts at hour 0 of each day
    rows = []
    eid = 0
    for d in range(20):
        for i in range(50):
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + d, 0, i % 60), 1, "a", 0.0)
            )
            eid += 1
        rows.append((eid, dt.datetime(2024, 1, 1 + d, 12), 1, "a", 0.0))
        eid += 1
    from avro_sql_spark.operators.profile import ljung_box_hourly

    r = ljung_box_hourly(_events(spark, rows)).collect()[0]
    assert r["df"] == 24
    assert r["q_stat"] > 36.415
    assert bool(r["reject_white_noise_5pct"])


def test_lift_curve_perfect_ranking(spark):
    # score == target: every positive doc sits in the top deciles ->
    # monotone non-increasing lift, top-decile lift = 1/positive_rate
    rows = []
    for i in range(100):
        good = i < 20
        text = (
            "the quick and nimble fox, it is of the essence."
            if good
            else "zz qq xx yy ww vv uu tt ss rr qq pp oo nn mm ll"
        )
        rows.append((i, text, "src1" if good else "src9"))
    from avro_sql_spark.operators.profile import lift_curve_points

    out = lift_curve_points(_docs(spark, rows)).collect()
    assert len(out) == 10
    # all 20 positives are captured within the top 2 deciles
    assert out[1]["cum_pos_share"] == pytest.approx(1.0)
    assert out[0]["lift"] == pytest.approx(5.0)
    assert out[-1]["cum_pos_share"] == pytest.approx(1.0)
    assert out[-1]["lift"] == pytest.approx(1.0)


def test_length_lognormal_exact_moments(spark):
    import math

    # two docs with lengths e^2 and e^4 (approx): mu ~ 3
    rows = [(1, "x", "s"), (2, "y", "s")]
    df = spark.createDataFrame(
        [(1, "x", "s", int(round(math.e**2))), (2, "y", "s", int(round(math.e**4)))],
        "doc_id LONG, text STRING, source STRING, n_chars LONG",
    )
    from avro_sql_spark.operators.text import length_lognormal_fit

    r = length_lognormal_fit(df).collect()[0]
    assert r["n_docs"] == 2
    assert abs(r["mu_log"] - 3.0) < 0.05
    assert r["median_est"] == pytest.approx(math.exp(r["mu_log"]), rel=1e-4)


def test_poisson_bootstrap_tiny_group_no_null_rank_divergence(spark):
    import datetime as dt

    # 1-event group: many replicates draw weight 0 -> NULL means,
    # which are excluded from the rank (Spark NULLS FIRST vs DuckDB
    # NULLS LAST would otherwise diverge); op must still return a row
    rows = [(1, dt.datetime(2024, 1, 1), 1, "solo", 5.0)]
    r = poisson_bootstrap_ci(_events(spark, rows)).collect()
    assert len(r) == 1
    assert r[0]["n_events"] == 1


def test_bh_fdr_single_event_arm_excluded(spark):
    import datetime as dt

    # type "tiny" has 1 user in each arm-side at most -> excluded
    # (variance would be 0/0); the populated types still report
    rows = [(0, dt.datetime(2024, 1, 1), 999, "tiny", 1.0)] + [
        (i + 1, dt.datetime(2024, 1, 1), i, "big", float(i % 7))
        for i in range(200)
    ]
    out = bh_fdr_report(_events(spark, rows)).collect()
    assert all(r["event_type"] == "big" for r in out)
    assert all(r["n_a"] > 1 and r["n_b"] > 1 for r in out)


def test_ljung_box_series_shorter_than_max_lag(spark):
    import datetime as dt

    # 6-hour series with max_lag 24: lags >= h contribute nothing
    # (no Inf -> DECIMAL cast, which errors in some engines)
    rows = [
        (i, dt.datetime(2024, 1, 1, h), 1, "a", 0.0)
        for i, h in enumerate([0, 0, 1, 2, 3, 4, 5, 5])
    ]
    from avro_sql_spark.operators.profile import ljung_box_hourly

    r = ljung_box_hourly(_events(spark, rows)).collect()[0]
    assert r["n_hours"] == 6
    assert r["q_stat"] is not None


def test_lognormal_singleton_source_excluded(spark):
    df = spark.createDataFrame(
        [(1, "x", "solo", 100), (2, "y", "pair", 50), (3, "z", "pair", 200)],
        "doc_id LONG, text STRING, source STRING, n_chars LONG",
    )
    from avro_sql_spark.operators.text import length_lognormal_fit

    out = length_lognormal_fit(df).collect()
    assert [r["source"] for r in out] == ["pair"]
    assert out[0]["sigma_log"] > 0


def test_bh_fdr_zero_variance_pair_excluded_from_rank(spark):
    import datetime as dt

    # type "const" has a CONSTANT value in both arms with n > 1 per
    # arm: Welch SE is exactly 0, nullif makes z/p NULL -- the NULL p
    # must be dropped BEFORE the rank (Spark orders NULLs first,
    # DuckDB last) and must not count into m for the step-up k
    rows = [
        (i, dt.datetime(2024, 1, 1), i, "const", 7.0) for i in range(40)
    ] + [
        (100 + i, dt.datetime(2024, 1, 1), i, "var", float(i % 9))
        for i in range(200)
    ]
    out = bh_fdr_report(_events(spark, rows)).collect()
    assert all(r["event_type"] == "var" for r in out)
    assert len(out) == 1
    assert out[0]["p_rank"] == 1
    assert out[0]["p_value"] is not None


def test_ljung_box_critical_value_tracks_realized_df(spark):
    import datetime as dt
    import math

    # 6-hour series -> only lags 1..5 exist, df=5; the 5% verdict must use the
    # Wilson-Hilferty chi-square quantile at df=5 (~11.04), not the
    # df=24 value (36.42)
    rows = [
        (i, dt.datetime(2024, 1, 1, h, i % 60), 1, "a", 0.0)
        for i, h in enumerate([0] * 30 + [1, 2, 3, 4, 5] * 2)
    ]
    from avro_sql_spark.operators.profile import ljung_box_hourly

    r = ljung_box_hourly(_events(spark, rows)).collect()[0]
    assert r["df"] == 5
    b = 1.0 - 2.0 / 45.0 + 1.6448536269514722 * math.sqrt(2.0 / 45.0)
    crit5 = 5.0 * b * b * b
    assert abs(crit5 - 11.07) < 0.05  # WH vs exact chi2(.95, 5)
    assert bool(r["reject_white_noise_5pct"]) == (r["q_stat"] > crit5)
