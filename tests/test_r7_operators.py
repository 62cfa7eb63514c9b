"""Unit tests for the round-7 operators against hand-computable
fixtures (the sf-level oracle checks live in tools/check_correctness.py)."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators.profile import (
    gumbel_daily_max_fit,
    kendall_tau_daily,
    page_hinkley_drift,
    ses_backtest_daily,
    user_path_entropy,
)
from avro_sql_spark.operators.text import (
    hoeffding_adequacy_report,
    mcnemar_gate_compare,
    quality_gate_pareto,
    robust_zscore_docs,
    template_prefix_report,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, "
        "event_type STRING, value DOUBLE",
    )


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING, n_chars LONG"
    )


def test_kendall_perfectly_concordant_series(spark):
    # counts 1,2,3 and values 1,3,6 both rise -> every pair concordant
    rows = []
    eid = 0
    for day, (c, v) in enumerate([(1, 1.0), (2, 1.5), (3, 2.0)]):
        for i in range(c):
            rows.append((eid, dt.datetime(2024, 1, 1 + day), 1, "a", v))
            eid += 1
    r = kendall_tau_daily(_events(spark, rows)).collect()[0]
    assert r["n_pairs"] == 3
    assert r["concordant"] == 3 and r["discordant"] == 0
    assert r["tau_b"] == pytest.approx(1.0)


def test_kendall_tie_correction(spark):
    # equal counts on two of three days -> one tied-x pair shrinks the
    # denominator, tau_b stays defined
    rows = [
        (0, dt.datetime(2024, 1, 1), 1, "a", 1.0),
        (1, dt.datetime(2024, 1, 2), 1, "a", 2.0),
        (2, dt.datetime(2024, 1, 3), 1, "a", 3.0),
        (3, dt.datetime(2024, 1, 3), 1, "a", 3.0),
    ]
    # day counts: 1,1,2; values: 1,2,6 -> pairs: (d1,d2) tied-x conc-y,
    # (d1,d3) conc, (d2,d3) conc -> C=2, D=0, tx=1, ty=0
    r = kendall_tau_daily(_events(spark, rows)).collect()[0]
    assert r["concordant"] == 2 and r["discordant"] == 0
    assert r["tau_b"] == pytest.approx(2.0 / math.sqrt(2.0 * 3.0))


def test_page_hinkley_step_change_peaks_at_end(spark):
    # daily means 0,0,0,10,10 -> xbar 4; walk -4,-8,-12,-6,0;
    # running min -12 -> PH = 12 at the last day
    rows = []
    eid = 0
    for day, m in enumerate([0.0, 0.0, 0.0, 10.0, 10.0]):
        rows.append((eid, dt.datetime(2024, 1, 1 + day), 1, "a", m))
        eid += 1
    r = page_hinkley_drift(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 5
    assert r["ph_stat"] == pytest.approx(12.0)
    assert r["peak_day"] == "2024-01-05"


def test_page_hinkley_flat_series_is_zero(spark):
    rows = [
        (i, dt.datetime(2024, 1, 1 + i), 1, "a", 7.0) for i in range(4)
    ]
    r = page_hinkley_drift(_events(spark, rows)).collect()[0]
    assert r["ph_stat"] == pytest.approx(0.0)


def test_gumbel_fit_exact_moments(spark):
    # daily maxima 10 and 20: mean 15, sample sd sqrt(50)
    rows = [
        (0, dt.datetime(2024, 1, 1), 1, "a", 10.0),
        (1, dt.datetime(2024, 1, 1), 1, "a", 3.0),
        (2, dt.datetime(2024, 1, 2), 1, "a", 20.0),
    ]
    r = gumbel_daily_max_fit(_events(spark, rows)).collect()[0]
    beta = math.sqrt(50.0) * 0.779696801233676
    mu = 15.0 - 0.5772156649015329 * beta
    assert r["n_days"] == 2
    assert r["gumbel_beta"] == pytest.approx(beta, rel=1e-6)
    assert r["gumbel_mu"] == pytest.approx(mu, rel=1e-6)
    assert r["daily_max_p99"] == pytest.approx(
        mu + beta * 4.600149226776579, rel=1e-6
    )


def test_ses_constant_series_perfect_forecast(spark):
    # y = 5 every day: every dyadic-weighted mean is exactly 5
    rows = []
    eid = 0
    for day in range(6):
        for i in range(5):
            rows.append((eid, dt.datetime(2024, 1, 1 + day), 1, "a", 0.0))
            eid += 1
    r = ses_backtest_daily(_events(spark, rows)).collect()[0]
    assert r["n_days_scored"] == 5  # days 2..6 have a previous day
    assert r["ses_mae"] == pytest.approx(0.0)
    assert r["naive_mae"] == pytest.approx(0.0)
    assert r["mae_ratio"] is None  # 0/0 -> nullif


def test_ses_gap_days_skip_not_zero_fill(spark):
    # days 1,2,10: day 10's only in-window lags are days 2..9 -> day 2
    # at k=8; no k=1 lag, so day 10 is NOT scored; day 2 is (prev=day 1)
    rows = [
        (0, dt.datetime(2024, 1, 1), 1, "a", 0.0),
        (1, dt.datetime(2024, 1, 2), 1, "a", 0.0),
        (2, dt.datetime(2024, 1, 2), 1, "a", 0.0),
        (3, dt.datetime(2024, 1, 10), 1, "a", 0.0),
    ]
    r = ses_backtest_daily(_events(spark, rows)).collect()[0]
    assert r["n_days_scored"] == 1
    # day 2: forecast = y(day1) = 1; actual 2 -> ses err 1, naive err 1
    assert r["ses_mae"] == pytest.approx(1.0)
    assert r["naive_mae"] == pytest.approx(1.0)
    assert r["mae_ratio"] == pytest.approx(1.0)


def test_user_path_entropy_bins(spark):
    # u1: 10x one type -> H = 0 -> bin 0; u2: 2+2 -> H = ln 2 -> bin 2
    rows = [(i, dt.datetime(2024, 1, 1), 1, "a", 0.0) for i in range(10)]
    rows += [
        (100, dt.datetime(2024, 1, 1), 2, "a", 0.0),
        (101, dt.datetime(2024, 1, 1), 2, "a", 0.0),
        (102, dt.datetime(2024, 1, 1), 2, "b", 0.0),
        (103, dt.datetime(2024, 1, 1), 2, "b", 0.0),
    ]
    out = {r["h_bin"]: r for r in user_path_entropy(_events(spark, rows)).collect()}
    assert out[0]["n_users"] == 1
    assert out[0]["mean_entropy"] == pytest.approx(0.0)
    assert out[2]["n_users"] == 1
    assert out[2]["mean_entropy"] == pytest.approx(math.log(2.0), abs=1e-6)


GOOD = (
    "the cat and the dog and the bird are friends. "
    "it is a story of the house and the garden. "
    "they walk to the market and buy the bread of the day. "
    "it is good and it is fine and it is the best of days. "
)


def test_hoeffding_epsilon_formula(spark):
    docs = _docs(spark, [(i, GOOD, "s1", len(GOOD)) for i in range(100)])
    r = hoeffding_adequacy_report(docs).collect()[0]
    assert r["n_docs"] == 100
    eps = math.sqrt(math.log(40.0) / 200.0)
    assert r["epsilon95"] == pytest.approx(eps, abs=5e-7)  # 6 dp output
    assert not r["adequate"]  # needs n >= ln40/(2*0.02^2) ~ 4612


def test_mcnemar_counts_and_null_when_no_discordance(spark):
    # all docs identical -> both gates give one verdict, b = c = 0 ->
    # chi2/p NULL (no evidence), cells sum to n
    docs = _docs(spark, [(i, GOOD, "s", len(GOOD)) for i in range(8)])
    r = mcnemar_gate_compare(docs).collect()[0]
    assert r["n_docs"] == 8
    assert (
        r["both_pass"] + r["only_gopher"] + r["only_heuristic"] + r["neither"]
        == 8
    )
    assert r["only_gopher"] == 0 and r["only_heuristic"] == 0
    assert r["mcnemar_chi2"] is None and r["p_value"] is None


def test_mcnemar_discordant_short_docs(spark):
    # 10-token doc with stopwords+punct: q3 passes (n_ws>=5, punct ok,
    # stopword ratio ok) but gopher fails (n < 30) -> only_heuristic
    short = "the cat and the dog eat. it is the best."
    docs = _docs(
        spark,
        [(i, short, "s", len(short)) for i in range(5)]
        + [(100 + i, GOOD, "s", len(GOOD)) for i in range(5)],
    )
    r = mcnemar_gate_compare(docs).collect()[0]
    assert r["only_heuristic"] == 5 and r["only_gopher"] == 0
    # continuity-corrected (|0-5|-1)^2/5 = 16/5
    assert r["mcnemar_chi2"] == pytest.approx(3.2)


def test_template_prefix_groups_across_sources(spark):
    tpl = "COOKIE NOTICE: this website uses cookies to improve things "
    rows = [
        (i, tpl + f"unique tail {i}", f"src{i % 3}", 100) for i in range(6)
    ] + [(100 + i, f"totally different doc {i}", "src9", 50) for i in range(4)]
    out = template_prefix_report(_docs(spark, rows)).collect()
    assert len(out) == 1  # only the template prefix is shared by >= 2 docs
    r = out[0]
    assert r["n_docs"] == 6 and r["n_sources"] == 3
    assert r["prefix"] == tpl.lower().strip()[:24]
    assert r["corpus_share"] == pytest.approx(0.6)


def test_robust_zscore_flags_only_true_outlier(spark):
    # source a: lens 1,2,3,4,100 -> med 3 (ceil(5/2)=3rd), MAD 1,
    # z(100) = 0.6745*97 >> 3.5 -> exactly one outlier
    rows = [(i, "x", "a", l) for i, l in enumerate([1, 2, 3, 4, 100])]
    # source b: constant lens -> MAD 0 -> z undefined -> no outliers
    rows += [(10 + i, "x", "b", 7) for i in range(4)]
    out = {r["source"]: r for r in robust_zscore_docs(_docs(spark, rows)).collect()}
    assert out["a"]["median_len"] == 3 and out["a"]["mad_len"] == 1
    assert out["a"]["n_outliers"] == 1
    assert out["a"]["max_abs_z"] == pytest.approx(0.6745 * 97.0)
    assert out["b"]["n_outliers"] == 0
    assert out["b"]["max_abs_z"] is None


def test_quality_gate_pareto_single_knockout(spark):
    # 5 good docs pass everything; 3 short docs fail ONLY token_count
    short = (
        "the cat and the dog eat the bread. it is fine and good of them."
    )
    rows = [(i, GOOD, "s", len(GOOD)) for i in range(5)] + [
        (10 + i, short, "s", len(short)) for i in range(3)
    ]
    out = {
        r["gate_constraint"]: r
        for r in quality_gate_pareto(_docs(spark, rows)).collect()
    }
    assert set(out) == {
        "alpha_fraction",
        "mean_word_len",
        "stopword_hits",
        "symbol_ratio",
        "token_count",
    }
    assert out["token_count"]["n_fail"] == 3
    assert out["token_count"]["n_fail_only"] == 3
    # dropping token_count would pass everything
    assert out["token_count"]["pass_rate_if_dropped"] == pytest.approx(1.0)
    # dropping any other constraint still leaves the short docs failing
    assert out["symbol_ratio"]["pass_rate_if_dropped"] == pytest.approx(
        5.0 / 8.0
    )
    assert out["symbol_ratio"]["n_fail"] == 0


# --- wave 2 ---


def test_odds_ratio_exact_cells(spark):
    from avro_sql_spark.operators.profile import odds_ratio_ci_report

    # users hash into arms; values 0/10 around the mean 5 -> cells are
    # above-mean counts; construct enough users that all 4 cells fill
    rows = []
    for u in range(200):
        v = 10.0 if u % 2 == 0 else 0.0
        rows.append((u, dt.datetime(2024, 1, 1), u, "t", v))
    out = odds_ratio_ci_report(_events(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    total = (
        r["n_a_success"] + r["n_a_failure"] + r["n_b_success"] + r["n_b_failure"]
    )
    assert total == 200
    # the arm split is independent of the value split -> OR ~ 1, CI
    # must straddle it
    assert r["ci_lo"] <= r["odds_ratio"] <= r["ci_hi"]
    assert not r["significant_5pct"]


def test_changepoint_finds_the_step(spark):
    from avro_sql_spark.operators.profile import changepoint_daily_mean

    # means 1,1,1,9,9,9 -> best split after day 3
    rows = []
    eid = 0
    for day, m in enumerate([1.0, 1.0, 1.0, 9.0, 9.0, 9.0]):
        rows.append((eid, dt.datetime(2024, 1, 1 + day), 1, "a", m))
        eid += 1
    r = changepoint_daily_mean(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 6
    assert r["split_day"] == "2024-01-03"
    assert r["mean_before"] == pytest.approx(1.0)
    assert r["mean_after"] == pytest.approx(9.0)
    # SSB = 3*(1-5)^2 + 3*(9-5)^2 = 96
    assert r["ssb"] == pytest.approx(96.0)


def test_sprt_continues_on_null_rate_and_accepts_h1_on_high(spark):
    from avro_sql_spark.operators.profile import sprt_daily_audit

    # 1 purchase in 5 events/day (20% - between p0 and p1): tiny daily
    # LLR, few days -> no crossing
    rows = []
    eid = 0
    for day in range(3):
        for i in range(5):
            et = "purchase" if i == 0 else "view"
            rows.append((eid, dt.datetime(2024, 1, 1 + day), 1, et, 0.0))
            eid += 1
    r = sprt_daily_audit(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 3
    assert r["decision"] == "continue" and r["crossing_day"] is None
    # all-purchase days: LLR per day = 10*ln(p1/p0) ~ 2.0 -> crosses
    # ln(19) on day 2
    rows2 = []
    eid = 0
    for day in range(4):
        for i in range(10):
            rows2.append(
                (eid, dt.datetime(2024, 1, 1 + day), 1, "purchase", 0.0)
            )
            eid += 1
    r2 = sprt_daily_audit(_events(spark, rows2)).collect()[0]
    assert r2["decision"] == "accept_h1"
    assert r2["crossing_day"] == "2024-01-02"


def test_topk_churn_stable_and_shuffled_sets(spark):
    from avro_sql_spark.operators.profile import topk_spender_churn

    # day 1 and 2: same 3 users -> jaccard 1; day 3: disjoint users
    rows = []
    eid = 0
    for day, users in enumerate([[1, 2, 3], [1, 2, 3], [7, 8, 9]]):
        for u in users:
            rows.append(
                (eid, dt.datetime(2024, 1, 1 + day), u, "a", float(u))
            )
            eid += 1
    out = topk_spender_churn(_events(spark, rows)).collect()
    assert len(out) == 2
    assert out[0]["n_common"] == 3 and out[0]["jaccard"] == pytest.approx(1.0)
    assert out[1]["n_common"] == 0 and out[1]["jaccard"] == pytest.approx(0.0)


def test_kappa_perfect_agreement_is_one(spark):
    from avro_sql_spark.operators.text import cohens_kappa_gates

    # a mix where both gates always agree: good docs (both pass) and
    # punctuation-soup garbage (fails gopher AND at least two q3
    # components) -> po = 1, kappa = 1
    garbage = "?? !! ;; ,, .. ?? !! ;; ,, .. ?? !!"
    docs = _docs(
        spark,
        [(i, GOOD, "s", len(GOOD)) for i in range(6)]
        + [(10 + i, garbage, "s", len(garbage)) for i in range(4)],
    )
    r = cohens_kappa_gates(docs).collect()[0]
    assert r["n_docs"] == 10
    assert r["p_observed"] == pytest.approx(1.0)
    assert r["kappa"] == pytest.approx(1.0)


def test_g2_keyness_flags_the_discriminative_term(spark):
    from avro_sql_spark.operators.text import g2_keyness_terms

    # family docs say "alpha" everywhere, rest say "beta"; shared
    # filler is non-key
    fam = "alpha common filler words here " * 8
    rest = "beta common filler words here " * 8
    docs = _docs(
        spark,
        [(i, fam, "src1a", len(fam)) for i in range(5)]
        + [(10 + i, rest, "src9", len(rest)) for i in range(5)],
    )
    out = g2_keyness_terms(docs).collect()
    by_term = {r["term"]: r for r in out}
    # alpha/beta have an empty cell -> excluded; the shared fillers
    # have identical rates -> G2 = 0
    assert "alpha" not in by_term and "beta" not in by_term
    assert all(abs(r["g2_signed"]) < 1e-9 for r in out)
    # now make "alpha" present-but-rare in rest so it keeps both cells
    docs2 = _docs(
        spark,
        [(i, fam, "src1a", len(fam)) for i in range(5)]
        + [(10 + i, rest + " alpha", "src9", len(rest)) for i in range(5)],
    )
    out2 = g2_keyness_terms(docs2).collect()
    top = out2[0]
    assert top["term"] == "alpha"
    assert top["g2_signed"] > 0  # family-leaning sign carried


# --- invariants on seeded pseudo-random series ---


def _rand_events(spark, n_days=12, per_day=9, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    eid = 0
    for day in range(n_days):
        for _ in range(rng.randrange(2, 2 * per_day)):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1 + day, rng.randrange(24)),
                    rng.randrange(40),
                    rng.choice(["view", "click", "purchase"]),
                    round(rng.uniform(0, 50), 3),
                )
            )
            eid += 1
    return rows


def test_kendall_antisymmetry_under_value_negation(spark):
    from avro_sql_spark.operators.profile import kendall_tau_daily

    rows = _rand_events(spark)
    t1 = kendall_tau_daily(_events(spark, rows)).collect()[0]
    flipped = [(e, ts, u, et, -v) for (e, ts, u, et, v) in rows]
    t2 = kendall_tau_daily(_events(spark, flipped)).collect()[0]
    assert -1.0 <= t1["tau_b"] <= 1.0
    # negating every value reverses each dv sign: tau flips exactly
    assert t2["tau_b"] == pytest.approx(-t1["tau_b"], abs=2e-6)
    assert t2["concordant"] == t1["discordant"]


def test_page_hinkley_shift_invariance(spark):
    from avro_sql_spark.operators.profile import page_hinkley_drift

    rows = _rand_events(spark)
    r1 = page_hinkley_drift(_events(spark, rows)).collect()[0]
    shifted = [(e, ts, u, et, v + 100.0) for (e, ts, u, et, v) in rows]
    r2 = page_hinkley_drift(_events(spark, shifted)).collect()[0]
    assert r1["ph_stat"] >= 0.0
    # deviations from the mean are shift-invariant
    assert r2["ph_stat"] == pytest.approx(r1["ph_stat"], abs=2e-5)
    assert r2["peak_day"] == r1["peak_day"]


def test_changepoint_shift_invariance(spark):
    from avro_sql_spark.operators.profile import changepoint_daily_mean

    rows = _rand_events(spark)
    r1 = changepoint_daily_mean(_events(spark, rows)).collect()[0]
    shifted = [(e, ts, u, et, v + 25.0) for (e, ts, u, et, v) in rows]
    r2 = changepoint_daily_mean(_events(spark, shifted)).collect()[0]
    assert r1["ssb"] >= 0.0
    assert r2["ssb"] == pytest.approx(r1["ssb"], abs=2e-4)
    assert r2["split_day"] == r1["split_day"]
    assert r2["mean_before"] == pytest.approx(r1["mean_before"] + 25.0, abs=1e-5)


def test_ses_count_scaling_scales_maes(spark):
    from avro_sql_spark.operators.profile import ses_backtest_daily

    rows = _rand_events(spark, per_day=5, seed=11)
    r1 = ses_backtest_daily(_events(spark, rows)).collect()[0]
    # doubling every day's count doubles both forecasts and errors
    doubled = rows + [
        (10000 + e, ts, u, et, v) for (e, ts, u, et, v) in rows
    ]
    r2 = ses_backtest_daily(_events(spark, doubled)).collect()[0]
    assert r2["ses_mae"] == pytest.approx(2.0 * r1["ses_mae"], abs=2e-6)
    assert r2["naive_mae"] == pytest.approx(2.0 * r1["naive_mae"], abs=2e-6)
    if r1["mae_ratio"] is not None:
        assert r2["mae_ratio"] == pytest.approx(r1["mae_ratio"], abs=2e-6)


def test_gumbel_p99_above_location_and_shift_equivariant(spark):
    from avro_sql_spark.operators.profile import gumbel_daily_max_fit

    rows = _rand_events(spark, seed=13)
    r1 = gumbel_daily_max_fit(_events(spark, rows)).collect()[0]
    assert r1["gumbel_beta"] >= 0.0
    assert r1["daily_max_p99"] >= r1["gumbel_mu"]
    shifted = [(e, ts, u, et, v + 10.0) for (e, ts, u, et, v) in rows]
    r2 = gumbel_daily_max_fit(_events(spark, shifted)).collect()[0]
    # location shifts, scale doesn't
    assert r2["gumbel_beta"] == pytest.approx(r1["gumbel_beta"], abs=2e-5)
    assert r2["gumbel_mu"] == pytest.approx(r1["gumbel_mu"] + 10.0, abs=2e-5)
