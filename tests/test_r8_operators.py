"""Unit tests for the round-8 operators against hand-computable
fixtures (the sf-level oracle checks live in tools/check_correctness.py)."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators.curation import curriculum_plan
from avro_sql_spark.operators.profile import (
    durbin_watson_daily,
    grubbs_daily_outlier,
    kruskal_wallis_nchars,
    periodogram_hourly_cycle,
    propensity_stratified_effect,
    wald_iv_estimate,
)
from avro_sql_spark.operators.similarity import (
    drift_split_report,
    ndcg_ivf_report,
)
from avro_sql_spark.operators.text import (
    ngram_novelty_report,
    rake_keyphrases,
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


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )


# ---------------------------------------------------------------- kruskal


def test_kruskal_identical_groups_h_zero(spark):
    # two sources with identical length multisets -> rank sums equal,
    # H == 0 exactly
    rows = []
    for i, n in enumerate([10, 20, 30]):
        rows.append((i, "x", "a", n))
        rows.append((100 + i, "x", "b", n))
    r = kruskal_wallis_nchars(_docs(spark, rows)).collect()[0]
    assert r["n_groups"] == 2 and r["n_total"] == 6
    assert r["h_stat"] == pytest.approx(0.0, abs=1e-9)


def test_kruskal_separated_groups_h_large(spark):
    # a = {1,2,3}, b = {100,200,300}: complete separation gives the
    # textbook maximum H for n=6, k=2 -> H = 12/(6*7)*(6^2/3+15^2/3)-21
    rows = [(i, "x", "a", n) for i, n in enumerate([1, 2, 3])]
    rows += [(10 + i, "x", "b", n) for i, n in enumerate([100, 200, 300])]
    r = kruskal_wallis_nchars(_docs(spark, rows)).collect()[0]
    expected = 12.0 / (6 * 7) * ((6.0**2) / 3 + (15.0**2) / 3) - 3 * 7
    assert r["h_stat"] == pytest.approx(expected, abs=1e-6)
    # no ties -> correction is identity
    assert r["h_tie_corrected"] == pytest.approx(expected, abs=1e-6)


# ----------------------------------------------------------------- grubbs


def test_grubbs_flat_series_zero(spark):
    rows = []
    for d in range(4):
        rows.append((d, dt.datetime(2024, 1, 1 + d), 1, "a", 1.0))
    r = grubbs_daily_outlier(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 4
    assert r["peak_abs_dev"] == pytest.approx(0.0)


def test_grubbs_flags_the_spike_day(spark):
    # counts 1,1,1,5 -> day 4 is the deviate; G = |5-2|/sd
    rows = []
    eid = 0
    for d, c in enumerate([1, 1, 1, 5]):
        for _ in range(c):
            rows.append((eid, dt.datetime(2024, 1, 1 + d), 1, "a", 1.0))
            eid += 1
    r = grubbs_daily_outlier(_events(spark, rows)).collect()[0]
    assert r["peak_day"] == "2024-01-04"
    mean, sd = 2.0, math.sqrt((1 + 1 + 1 + 9) / 3.0)
    assert r["grubbs_g"] == pytest.approx(3.0 / sd, abs=1e-6)
    assert r["peak_abs_dev"] == pytest.approx(3.0, abs=1e-9)


# ---------------------------------------------------------- durbin-watson


def test_dw_alternating_series_near_four(spark):
    # daily means +1,-1,+1,-1... -> e_t - e_{t-1} = +/-2, DW -> 4*n-ish
    rows = []
    for d in range(6):
        rows.append((d, dt.datetime(2024, 1, 1 + d), 1, "a", 1.0 if d % 2 else 3.0))
    r = durbin_watson_daily(_events(spark, rows)).collect()[0]
    assert r["n_days"] == 6
    # e = [1,-1,1,-1,1,-1]; num = 5*4; den = 6 -> DW = 20/6
    assert r["dw_stat"] == pytest.approx(20.0 / 6.0, abs=1e-6)


def test_dw_trending_series_small(spark):
    # smooth ramp -> consecutive deviations close -> DW well below 2
    rows = []
    for d in range(8):
        rows.append((d, dt.datetime(2024, 1, 1 + d), 1, "a", float(d)))
    r = durbin_watson_daily(_events(spark, rows)).collect()[0]
    assert r["dw_stat"] < 1.0


# ------------------------------------------------------------------ NDCG


def test_ndcg_perfect_when_ivf_matches_brute(spark):
    # 4 angularly separated clusters of 12: the 16 lowest ids (the
    # quantizer's seeds) put 4 cells in each, so the 4 probed cells
    # cover the query's whole cluster -> candidate ranking == brute
    # ranking -> ndcg 1.0 everywhere
    import random

    rng = random.Random(7)
    bases = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
    rows = []
    for i in range(48):
        base = bases[i % 4]
        vec = [base[0] + rng.random() * 0.1, base[1] + rng.random() * 0.1]
        rows.append((i, [float(x) for x in vec], i % 4))
    emb = _emb(spark, rows)
    out = ndcg_ivf_report(emb, emb.filter(F.col("vec_id") < 3)).collect()
    assert len(out) == 3
    for r in out:
        assert r["n_overlap"] == 10
        assert r["ndcg"] == pytest.approx(1.0)


# --------------------------------------------------------------- wald IV


def test_wald_iv_legs_and_ratio_consistent(spark):
    rows = []
    eid = 0
    for u in range(30):
        rows.append((eid, dt.datetime(2024, 1, 1), u, "purchase" if u % 3 == 0 else "view", 1.0))
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 2), u, "click", float(u % 5)))
        eid += 1
    r = wald_iv_estimate(_events(spark, rows)).collect()[0]
    assert r["n_encouraged"] + r["n_control"] == 30
    if r["itt_takeup"] not in (0.0, None):
        assert r["wald_late"] == pytest.approx(
            round(r["itt_outcome"] / r["itt_takeup"], 6), abs=2e-6
        )


# ------------------------------------------------------------- propensity


def test_propensity_weights_sum_to_att(spark):
    # one stratum only -> ATT == within-stratum difference == naive
    rows = []
    eid = 0
    for u in range(8):
        treated = u < 4
        # same activity count for everyone -> one stratum
        rows.append((eid, dt.datetime(2024, 1, 1), u, "purchase" if treated else "view", 1.0))
        eid += 1
        rows.append((eid, dt.datetime(2024, 1, 2), u, "click", 10.0 if treated else 4.0))
        eid += 1
    r = propensity_stratified_effect(_events(spark, rows)).collect()[0]
    assert r["n_treated"] == 4 and r["n_control"] == 4
    assert r["n_strata_used"] == 1
    assert r["att"] == pytest.approx(6.0, abs=1e-6)
    assert r["naive_diff"] == pytest.approx(6.0, abs=1e-6)


# ------------------------------------------------------------ periodogram


def test_periodogram_flat_series_zero_amplitude(spark):
    # one event every hour for 48h -> no cycle at any period
    rows = [
        (h, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), 1, "a", 1.0)
        for h in range(48)
    ]
    out = {
        r["period_hours"]: r
        for r in periodogram_hourly_cycle(_events(spark, rows)).collect()
    }
    assert set(out) == {12, 24, 168}
    assert out[24]["n_hours"] == 48
    assert out[24]["amplitude_ratio"] == pytest.approx(0.0, abs=1e-6)
    assert out[12]["amplitude_ratio"] == pytest.approx(0.0, abs=1e-6)


def test_periodogram_detects_daily_cycle(spark):
    # burst at hour 0 of each day, quiet otherwise -> strong 24h signal
    rows = []
    eid = 0
    for d in range(4):
        for _ in range(10):
            rows.append((eid, dt.datetime(2024, 1, 1 + d), 1, "a", 1.0))
            eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, 1 + d, 12), 1, "a", 1.0)
        )
        eid += 1
    out = {
        r["period_hours"]: r["amplitude_ratio"]
        for r in periodogram_hourly_cycle(_events(spark, rows)).collect()
    }
    assert out[24] > 0.5


# ------------------------------------------------------------ drift split


def test_drift_split_shares_sum_to_one(spark):
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.random() for _ in range(4)], 0) for i in range(64)
    ]
    out = drift_split_report(_emb(spark, rows)).collect()
    assert sum(r["n_ref"] for r in out) == 32
    assert sum(r["n_cur"] for r in out) == 32
    assert sum(r["share_ref"] for r in out) == pytest.approx(1.0, abs=1e-5)
    for r in out:
        assert r["abs_shift"] == pytest.approx(
            abs(r["share_ref"] - r["share_cur"]), abs=2e-6
        )


# ---------------------------------------------------------- ngram novelty


def test_ngram_novelty_duplicate_vs_unique(spark):
    # two identical docs share every 3-gram (df=2, novelty 0); a third
    # unique doc is fully novel
    rows = [
        (1, "alpha beta gamma delta", "dup", 22),
        (2, "alpha beta gamma delta", "dup", 22),
        (3, "one two three four", "uniq", 18),
    ]
    out = {
        r["source"]: r
        for r in ngram_novelty_report(_docs(spark, rows)).collect()
    }
    assert out["dup"]["novelty_frac"] == pytest.approx(0.0)
    assert out["dup"]["mean_df"] == pytest.approx(2.0)
    assert out["uniq"]["novelty_frac"] == pytest.approx(1.0)
    assert out["uniq"]["n_incidences"] == 2


# ------------------------------------------------------------- curriculum


def test_curriculum_stages_cover_shards(spark):
    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * 3, "s", 120)
        for i in range(40)
    ]
    out = curriculum_plan(_docs(spark, rows)).collect()
    stages = {r["stage"]: r for r in out}
    assert set(stages) == {1, 2, 3, 4}
    # every stage trains fresh on exactly its shard (40/4 = 10 docs)
    for s, r in stages.items():
        assert r["n_fresh"] == 10
        if s == 1:
            assert r["n_replay"] == 0 and r["replay_share"] == 0.0
        else:
            # replay only draws from strictly earlier shards
            assert 0 <= r["n_replay"] <= (s - 1) * 10


# ------------------------------------------------------------------- RAKE


def test_rake_scores_multiword_runs(spark):
    rows = [
        (1, "deep learning models and deep learning systems", "s", 46),
        (2, "deep learning wins", "s", 18),
    ]
    out = rake_keyphrases(_docs(spark, rows)).collect()
    by_phrase = {r["phrase"]: r for r in out}
    # "deep learning models" beats the bare pair: its words carry the
    # same freq but higher deg
    assert "deep learning models" in by_phrase
    top = out[0]
    assert top["n_words"] >= 2


def test_rake_stopwords_break_runs(spark):
    rows = [(1, "alpha beta and gamma delta", "s", 26)]
    out = rake_keyphrases(_docs(spark, rows)).collect()
    phrases = {r["phrase"] for r in out}
    assert "alpha beta" in phrases and "gamma delta" in phrases
    assert all("and" not in p.split() for p in phrases)


# --------------------------------------------------------- brown-forsythe

from avro_sql_spark.operators.profile import (  # noqa: E402
    brown_forsythe_nchars,
    hurst_rs_daily,
    obrien_fleming_monitor,
)


def test_brown_forsythe_equal_spreads_near_zero(spark):
    # both sources deviate identically from their medians -> SSB = 0
    rows = [(i, "x", "a", n) for i, n in enumerate([10, 20, 30])]
    rows += [(10 + i, "x", "b", n) for i, n in enumerate([110, 120, 130])]
    r = brown_forsythe_nchars(_docs(spark, rows)).collect()[0]
    assert r["n_groups"] == 2 and r["n_total"] == 6
    assert r["ss_between"] == pytest.approx(0.0, abs=1e-9)
    assert r["bf_stat"] == pytest.approx(0.0, abs=1e-9)


def test_brown_forsythe_detects_spread_difference(spark):
    # a is tight around its median, b is wide -> W > 0
    rows = [(i, "x", "a", n) for i, n in enumerate([100, 101, 102])]
    rows += [(10 + i, "x", "b", n) for i, n in enumerate([10, 100, 1000])]
    r = brown_forsythe_nchars(_docs(spark, rows)).collect()[0]
    assert r["bf_stat"] > 1.0
    assert r["ss_within"] > 0.0


def test_brown_forsythe_even_n_half_step_median(spark):
    # n=4 per group: median is the average of the two middle order
    # stats; doubled arithmetic keeps it exact
    rows = [(i, "x", "a", n) for i, n in enumerate([1, 2, 4, 8])]
    rows += [(10 + i, "x", "b", n) for i, n in enumerate([1, 2, 4, 8])]
    r = brown_forsythe_nchars(_docs(spark, rows)).collect()[0]
    # identical groups -> zero between-group spread difference
    assert r["ss_between"] == pytest.approx(0.0, abs=1e-9)


# ------------------------------------------------------------------ hurst


def test_hurst_flat_series_degenerates_cleanly(spark):
    # constant daily counts -> zero variance in every block -> all
    # blocks drop, fit has no points, H is NULL and n_sizes 0
    rows = []
    for d in range(30):
        rows.append((d, dt.datetime(2024, 1, 1 + (d % 28)), 1, "a", 1.0))
    # use 30 distinct days via month wrap
    rows = []
    eid = 0
    for d in range(30):
        day = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
        rows.append((eid, day, 1, "a", 1.0))
        eid += 1
    out = hurst_rs_daily(_events(spark, rows)).collect()
    assert len(out) == 1
    assert out[0]["n_sizes"] == 0


def test_hurst_columns_and_range_on_noisy_series(spark):
    import random

    rng = random.Random(11)
    rows = []
    eid = 0
    for d in range(30):
        day = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
        for _ in range(1 + rng.randrange(6)):
            rows.append((eid, day, 1, "a", 1.0))
            eid += 1
    r = hurst_rs_daily(_events(spark, rows)).collect()[0]
    assert r["n_sizes"] == 3
    for c in ("mean_rs_3", "mean_rs_5", "mean_rs_10"):
        assert r[c] is not None and r[c] > 0
    # R/S exponents live in (0, 1) for any finite series
    assert -0.5 < r["hurst_h"] < 1.5


# -------------------------------------------------------------------- OBF


def test_obf_null_conversion_never_crosses(spark):
    # conversion exactly at p0 = 0.2 every day -> z == 0 < boundary
    rows = []
    eid = 0
    for d in range(10):
        day = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
        for i in range(5):
            rows.append(
                (eid, day, 1, "purchase" if i == 0 else "view", 1.0)
            )
            eid += 1
    out = obrien_fleming_monitor(_events(spark, rows)).collect()
    assert len(out) == 10
    for r in out:
        assert r["z_stat"] == pytest.approx(0.0)
        assert not r["crossed"]


def test_obf_strong_effect_crosses_late(spark):
    # 100% conversion -> z grows with sqrt(n); the shrinking boundary
    # must be crossed by the final interim
    rows = []
    eid = 0
    for d in range(10):
        day = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
        for _ in range(20):
            rows.append((eid, day, 1, "purchase", 1.0))
            eid += 1
    out = obrien_fleming_monitor(_events(spark, rows)).collect()
    assert out[-1]["crossed"]
    # boundary decreases as information accrues
    bs = [r["obf_boundary"] for r in out]
    assert bs == sorted(bs, reverse=True)
