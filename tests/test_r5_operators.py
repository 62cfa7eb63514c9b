"""Unit tests for the round-5 operators against hand-computable
fixtures (the sf-level oracle checks live in tools/check_correctness.py)."""

import math

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators.curation import doremi_weights, exact_ntile
from avro_sql_spark.operators.graph import link_prediction_topk
from avro_sql_spark.operators.layout import (
    cow_rewrite_plan,
    file_overlap_depth,
    key_locality_report,
)
from avro_sql_spark.operators.multimodal import (
    attach_fake_payload,
    payload_dedup_stats,
)
from avro_sql_spark.operators.profile import (
    cuped_adjusted_lift,
    mutual_information_report,
    seasonal_residual_outliers,
    theilsen_trend,
)
from avro_sql_spark.operators.similarity import embedding_energy_profile


def test_exact_ntile_matches_sql_ntile(spark):
    """The shared rank->tile arithmetic must reproduce SQL NTILE's
    remainder rule (first n%k tiles one extra row) for awkward n/k."""
    from pyspark.sql.window import Window

    for n, k in [(10, 4), (7, 7), (5, 8), (100, 32), (99, 32)]:
        df = spark.range(n).select(F.col("id").alias("v"))
        got = {
            r["v"]: r["t"]
            for r in exact_ntile(df, [F.col("v")], k, out_col="t").collect()
        }
        want = {
            r["v"]: r["t"]
            for r in df.select(
                "v", F.ntile(k).over(Window.orderBy("v")).alias("t")
            ).collect()
        }
        assert got == want, (n, k)


def test_embedding_energy_profile_concentrated_vector(spark):
    # vec 1: all energy in the first coordinate -> every prefix fraction
    # is 1; vec 2: all in the last of 64
    df = spark.createDataFrame(
        [(1, [2.0] + [0.0] * 63), (2, [0.0] * 63 + [3.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    row = embedding_energy_profile(df).collect()[0]
    # vec 1 contributes 1.0 at every prefix; vec 2 contributes 0 until d=64
    assert row["n_vectors"] == 2
    assert row["energy_d4"] == pytest.approx(0.5)
    assert row["energy_d32"] == pytest.approx(0.5)
    assert row["energy_d64"] == pytest.approx(1.0)


def test_link_prediction_scores_triangle_plus_leaf(spark):
    # path a-z, b-z (z also linked to c): a,b share neighbor z only.
    edges = [(1, 9), (9, 1), (2, 9), (9, 2), (3, 9), (9, 3)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    out = {
        (r["a"], r["b"]): (r["common_neighbors"], r["adamic_adar"])
        for r in link_prediction_topk(df).collect()
    }
    # all three leaf pairs share exactly hub 9 with deg 3
    expected = round(1.0 / math.log(3.0), 6)
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    for cn, aa in out.values():
        assert cn == 1
        assert aa == pytest.approx(expected)


def test_mutual_information_independent_and_dependent(spark):
    from datetime import datetime

    # independent: MI ~ 0; fully dependent: MI = H(X). Event type vs
    # weekday: 2024-01-01 is a Monday, 2024-01-02 a Tuesday
    days = [datetime(2024, 1, 1), datetime(2024, 1, 2)]
    rows = [("a", days[i % 2]) for i in range(8)] + [("b", days[i % 2]) for i in range(8)]
    df = spark.createDataFrame(rows, "event_type STRING, ts TIMESTAMP")
    ind = mutual_information_report(df).collect()[0]
    assert ind["mi_nats"] == pytest.approx(0.0, abs=1e-5)
    rows2 = [("a", days[0])] * 8 + [("b", days[1])] * 8
    df2 = spark.createDataFrame(rows2, "event_type STRING, ts TIMESTAMP")
    dep = mutual_information_report(df2).collect()[0]
    assert dep["mi_nats"] == pytest.approx(dep["h_x"], abs=1e-5)
    assert dep["mi_normalized"] == pytest.approx(1.0, abs=1e-5)


def test_theilsen_slope_on_linear_series(spark):
    # c = 3*h + noiseless -> every pairwise slope is exactly 3
    rows = [("e", "2024-01-01 %02d:00:00" % h) for h in range(6) for _ in range(1)]
    df = spark.createDataFrame(
        [(t, e) for e, t in rows], "ts_s STRING, event_type STRING"
    ).select(F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type")
    # replicate row h 3*h+1 times so hourly count = 3h+1
    df = df.withColumn(
        "n", (F.hour("ts") * 3 + 1).cast("int")
    ).select(F.expr("explode(sequence(1, n))").alias("_"), "ts", "event_type")
    out = theilsen_trend(df).collect()
    assert len(out) == 1
    assert out[0]["theilsen_slope"] == pytest.approx(3.0)
    assert out[0]["n_hours"] == 6
    assert out[0]["n_pairs"] == 15


def test_seasonal_residual_outliers_flags_spike(spark):
    # 4 weeks of a flat hourly series + one spiked hour
    rows = []
    for day in range(28):
        for hod in (9, 10):
            n = 5
            if day == 27 and hod == 10:
                n = 50  # the anomaly
            for i in range(n):
                rows.append(("e", f"2024-01-{day + 1:02d} {hod:02d}:00:00"))
    df = spark.createDataFrame(rows, "event_type STRING, ts_s STRING").select(
        "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    out = seasonal_residual_outliers(df).collect()[0]
    assert out["n_outlier_hours"] >= 1
    assert out["max_abs_z"] > 3.0


def test_cuped_reduces_variance_metric(spark):
    # y strongly correlated with x -> variance_ratio well below 1
    rows = []
    for uid in range(40):
        base = uid % 7 + 1
        for i in range(base):
            rows.append((uid, "2024-01-10 10:00:00"))  # pre period
        for i in range(base):
            rows.append((uid, "2024-01-20 10:00:00"))  # post period
    df = spark.createDataFrame(rows, "user_id LONG, ts_s STRING").select(
        "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    out = cuped_adjusted_lift(df).collect()[0]
    assert out["variance_ratio"] < 0.1  # y == x exactly -> rho^2 ~ 1
    assert abs(out["cuped_lift"]) <= abs(out["raw_lift"]) + 1e-6


def test_file_overlap_depth_sorted_is_one(spark):
    df = spark.range(320).select(
        F.col("id").alias("ing"),
        (F.col("id") * 37 % 320).cast("double").alias("v"),
        F.col("id").alias("tb"),
    )
    out = {
        r["layout"]: r
        for r in file_overlap_depth(df, "ing", "v", "tb").collect()
    }
    assert out["sorted"]["max_overlap_depth"] == 1
    assert out["ingest"]["max_overlap_depth"] > 1


def test_cow_rewrite_by_key_touches_fewer_files(spark):
    # 1000 keys, so the ~1% update batch holds several of them
    df = spark.range(32000).select(
        (F.col("id") % 1000).alias("k"),
        (F.col("id") * 13 % 997).cast("double").alias("o"),
        F.col("id").alias("tb"),
    )
    out = {r["layout"]: r for r in cow_rewrite_plan(df, "k", "o", "tb").collect()}
    assert out["by_key"]["rows_updated"] > 0
    assert out["by_key"]["rows_updated"] == out["by_other"]["rows_updated"]
    assert out["by_key"]["files_touched"] <= out["by_other"]["files_touched"]
    assert (
        out["by_key"]["write_amplification"]
        <= out["by_other"]["write_amplification"]
    )


def test_key_locality_linear_key_wins(spark):
    df = spark.range(2000).select(
        (F.col("id") % 50).alias("k"),
        (F.col("id") * 7 % 211).cast("double").alias("o"),
        F.col("id").alias("tb"),
    )
    out = {
        r["layout"]: r
        for r in key_locality_report(df, "k", "o", "tb").collect()
    }
    assert (
        out["linear_key"]["avg_files_per_key"]
        < out["linear_other"]["avg_files_per_key"]
    )
    assert out["linear_key"]["max_files_per_key"] <= 2


def test_payload_dedup_counts_copies(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], "doc_id LONG, text STRING"
    )
    out = payload_dedup_stats(attach_fake_payload(df)).collect()[0]
    assert out["n_payloads"] == 3
    assert out["n_distinct"] == 2
    assert out["reclaimable_bytes"] == 3  # one spare copy of 'aaa'


def test_doremi_upweights_hard_source(spark):
    rows = (
        # src A: common tokens (low NLL); src B: each doc introduces
        # rarer tokens (higher NLL) -> weight(B) > weight(A)
        [(i, "common words common words", "A") for i in range(10)]
        + [(100 + i, f"rare{i} tokens rare{i} unique{i}", "B") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = {r["source"]: r for r in doremi_weights(df).collect()}
    assert out["B"]["excess_nll"] > 0
    assert out["B"]["weight"] > out["A"]["weight"]
    total = sum(r["weight"] for r in out.values())
    assert total == pytest.approx(1.0, abs=1e-4)


def test_good_turing_hapax_math(spark):
    # 3 distinct trigrams: one appears twice, two appear once
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c"), (3, "x y z")],
        "doc_id LONG, text STRING",
    )
    from avro_sql_spark.operators.text import good_turing_report

    r = good_turing_report(df).collect()[0]
    # grams: "a b c" x2, "b c d" x1, "x y z" x1
    assert (r["vocab"], r["n_total"], r["n1"], r["n2"]) == (3, 4, 2, 1)
    assert r["unseen_mass"] == pytest.approx(0.5)
    assert r["r1_star"] == pytest.approx(1.0)  # 2*N2/N1 = 2/2


def test_typo_pairs_distance_one_only(spark):
    from avro_sql_spark.operators.text import typo_candidate_pairs

    words = spark.createDataFrame(
        [("cold", 5), ("old", 3), ("bold", 2), ("gold", 1), ("cat", 9)],
        "w STRING, c LONG",
    )
    got = {
        (r["word_a"], r["word_b"])
        for r in typo_candidate_pairs(words).collect()
    }
    # every pair among {cold, bold, gold, old} is distance 1
    # (deletions of the first letter + first-letter substitutions);
    # cat matches none
    assert got == {("cold", "old"), ("bold", "old"), ("gold", "old"),
                   ("bold", "cold"), ("cold", "gold"), ("bold", "gold")}


def test_markov_backtest_learns_deterministic_chain(spark):
    # a -> b -> a -> b ... deterministic chain: model acc 1, baseline < 1;
    # days 1-30, so transitions on both sides of the 2024-01-24 cut
    rows = []
    for uid in range(4):
        for i in range(60):
            rows.append(
                (uid, i, f"2024-01-{1 + i // 2:02d} {i % 24:02d}:00:00",
                 "a" if i % 2 == 0 else "b")
            )
    df = spark.createDataFrame(
        rows, "user_id LONG, event_id LONG, ts_s STRING, event_type STRING"
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"), "event_type",
    )
    from avro_sql_spark.operators.profile import markov_next_event_backtest

    r = markov_next_event_backtest(df).collect()[0]
    assert r["model_accuracy"] == pytest.approx(1.0)
    assert r["baseline_accuracy"] < 1.0
    assert r["accuracy_lift"] > 0


def test_mrr_report_rank_arithmetic(spark):
    from avro_sql_spark.operators.similarity import mrr_report

    truth = spark.createDataFrame(
        [(1, 101), (2, 202), (3, 303)], "query_id LONG, neighbor_id LONG"
    )
    cand = spark.createDataFrame(
        # q1: true NN at rank 2; q2: at rank 1; q3: missing
        [(1, 101, 2), (1, 999, 1), (2, 202, 1), (3, 999, 1)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    r = mrr_report(truth, cand, "m").collect()[0]
    assert r["n_queries"] == 3
    assert r["mrr"] == pytest.approx((0.5 + 1.0 + 0.0) / 3, abs=1e-6)
    assert r["hit_at_1"] == pytest.approx(1 / 3, abs=1e-6)
    assert r["miss_rate"] == pytest.approx(1 / 3, abs=1e-6)


def test_score_decile_calibration_shape(spark):
    from avro_sql_spark.operators.curation import score_decile_calibration

    # rare tokens must be pure [a-z]+ or the tokenizer drops them and
    # the LM scorer never sees those docs
    rows = [(i, "common words here " * 3) for i in range(20)] + [
        (100 + i, f"rare{chr(97 + i)} unique{chr(97 + i)} blob{chr(97 + i)}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = score_decile_calibration(df).collect()
    assert [r["decile"] for r in out] == list(range(1, 11))
    assert sum(r["n_docs"] for r in out) == 40
    # fluent (common) docs rank first and are exact dups of each other
    assert out[0]["dup_rate"] > out[-1]["dup_rate"]
    assert out[0]["mean_score"] >= out[-1]["mean_score"]


def test_textrank_hub_word_wins(spark):
    from avro_sql_spark.operators.text import textrank_keywords

    df = spark.createDataFrame(
        [(1, "spark joins spark windows spark shuffles"),
         (2, "spark aggregates spark scans")],
        "doc_id LONG, text STRING",
    )
    out = textrank_keywords(df).collect()
    assert out[0]["word"] == "spark"  # the hub co-occurs with everything
    assert out[0]["textrank"] > out[1]["textrank"]


def test_conformal_interval_covers(spark):
    from avro_sql_spark.operators.profile import conformal_interval_report

    # stable daily pattern: same count every hour -> residuals 0, q_hat 0,
    # perfect coverage
    rows = []
    for day in range(1, 29):
        for hod in (8, 9):
            for i in range(4):
                rows.append(("e", f"2024-01-{day:02d} {hod:02d}:00:00"))
    df = spark.createDataFrame(rows, "event_type STRING, ts_s STRING").select(
        "event_type", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    r = conformal_interval_report(df).collect()[0]
    assert r["q_hat"] == 0
    assert r["coverage"] == pytest.approx(1.0)


def test_bloom_fpr_audit_member_keys_always_hit(spark):
    from avro_sql_spark.operators.layout import bloom_fpr_audit

    # cluster keys with the file order (ob = k) so each file holds a
    # disjoint key range and cross-file probes actually exist (with
    # ob = row id, every file spans all keys and the probe set is empty)
    df = spark.range(2000).select(
        (F.col("id") % 200).alias("k"), (F.col("id") % 200).alias("ob")
    )
    r = bloom_fpr_audit(df, "k", "ob").collect()[0]
    # empirical FPR must be a valid probability in the same ballpark as
    # the formula (small-n noise allowed), and the audit probed rows
    assert r["n_probes"] > 0
    assert 0.0 <= r["empirical_fpr"] <= 1.0
    assert abs(r["empirical_fpr"] - r["theoretical_fpr"]) < 0.2


def test_source_ks_identical_vs_shifted(spark):
    from avro_sql_spark.operators.profile import source_ks_matrix

    rows = (
        [(i, "x" * 10, "A") for i in range(20)]
        + [(100 + i, "x" * 10, "B") for i in range(20)]   # same dist as A
        + [(200 + i, "x" * 30, "C") for i in range(20)]   # shifted
    )
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = {(r["source_a"], r["source_b"]): r["ks"]
           for r in source_ks_matrix(df).collect()}
    assert out[("A", "B")] == pytest.approx(0.0)
    assert out[("A", "C")] == pytest.approx(1.0)  # disjoint supports


def test_decayed_value_prefers_recent(spark):
    from avro_sql_spark.operators.profile import decayed_user_value

    rows = [
        (1, "2024-01-01 00:00:00", 100.0),   # old whale
        (2, "2024-01-30 00:00:00", 60.0),    # recent smaller spender
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts_s STRING, value DOUBLE").select(
        "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"), "value"
    )
    out = decayed_user_value(df).collect()
    assert out[0]["user_id"] == 2                 # recency wins
    assert out[1]["total_value"] > out[0]["total_value"]  # raw sum disagrees


def test_selectivity_audit_uniform_and_skewed(spark):
    from avro_sql_spark.operators.profile import selectivity_estimate_audit

    # uniform data: both histograms estimate near-perfectly
    uni = spark.range(1000).select(
        F.col("id").cast("double").alias("v"), F.col("id").alias("tb")
    )
    out_u = selectivity_estimate_audit(uni, "v", "tb").collect()
    assert len(out_u) == 10
    assert all(r["err_width"] < 0.02 and r["err_depth"] < 0.02 for r in out_u)
    # heavy skew: the audit must REGISTER estimation error somewhere
    # (which histogram wins depends on predicate width vs mass shape —
    # measuring that gap is the operator's whole point)
    skew = spark.range(1000).select(
        F.when(F.col("id") < 900, (F.col("id") % 30).cast("double"))
        .otherwise((F.col("id") * 10).cast("double"))
        .alias("v"),
        F.col("id").alias("tb"),
    )
    out_s = selectivity_estimate_audit(skew, "v", "tb").collect()
    assert sum(r["true_n"] for r in out_s) <= 1000
    assert max(r["err_width"] + r["err_depth"] for r in out_s) > 0.005


def test_retention_decay_on_synthetic_halving(spark):
    from avro_sql_spark.operators.profile import retention_decay_fit

    # 16 users purchase in week 1; half survive each later week
    rows = []
    for uid in range(16):
        rows.append((uid, "2024-01-01 10:00:00", "purchase"))
        if uid < 8:
            rows.append((uid, "2024-01-08 10:00:00", "purchase"))
        if uid < 4:
            rows.append((uid, "2024-01-15 10:00:00", "purchase"))
        if uid < 2:
            rows.append((uid, "2024-01-22 10:00:00", "purchase"))
    df = spark.createDataFrame(
        rows, "user_id LONG, ts_s STRING, event_type STRING"
    ).select("user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"),
             "event_type")
    r = retention_decay_fit(df).collect()[0]
    assert r["n_users"] == 16
    # exact halving -> decay rate ln(2), half-life 1 week
    assert r["decay_rate"] == pytest.approx(math.log(2.0), abs=1e-4)
    assert r["half_life_weeks"] == pytest.approx(1.0, abs=1e-4)


def test_roc_auc_perfect_and_random_separation(spark):
    from avro_sql_spark.operators.profile import roc_auc_by_source

    # source A: every 'en' doc longer than every other -> AUC 1.0;
    # source B: identical lengths -> all pairs tied -> AUC 0.5
    rows = [
        (1, "x", "en", "A", 100),
        (2, "x", "en", "A", 90),
        (3, "x", "fr", "A", 50),
        (4, "x", "de", "A", 40),
        (5, "x", "en", "B", 70),
        (6, "x", "fr", "B", 70),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    got = {r["source"]: r for r in roc_auc_by_source(df).collect()}
    assert got["A"]["auc"] == pytest.approx(1.0)
    assert got["A"]["n_pos"] == 2 and got["A"]["n_neg"] == 2
    assert got["B"]["auc"] == pytest.approx(0.5)


def test_roc_auc_reversed_score_is_zero(spark):
    from avro_sql_spark.operators.profile import roc_auc_by_source

    rows = [
        (1, "x", "en", "A", 10),
        (2, "x", "fr", "A", 20),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    assert roc_auc_by_source(df).collect()[0]["auc"] == pytest.approx(0.0)


def test_acf_constant_series_is_null_and_period2_alternation(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import acf_hourly

    # alternating 2,0,2,0,... hourly counts -> acf(1) = -1, acf(2) = +1
    rows = []
    eid = 0
    for h in range(0, 12, 2):  # events only in even hours
        for _ in range(2):
            rows.append((eid, datetime(2024, 1, 1, h, 30), 1, "click", 1.0, ""))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    got = {r["lag"]: r["acf"] for r in acf_hourly(df).collect()}
    # finite-series boundary terms keep |r| below 1; signs + ordering
    # are the period-2 signature
    assert got[1] < -0.5
    assert got[2] > 0.7
    assert got[2] > got[3] > got[1] or got[2] > got[1]


def test_acf_zero_fills_missing_hours(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import acf_hourly

    # two bursts 3 hours apart with silent hours between: the spine
    # must include the empty hours (H=4), not compress them away
    rows = [
        (0, datetime(2024, 1, 1, 0, 0), 1, "c", 1.0, ""),
        (1, datetime(2024, 1, 1, 3, 0), 1, "c", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = acf_hourly(df).collect()
    assert [r["lag"] for r in out] == [1, 2, 3]  # only lags inside H
    # series 1,0,0,1: mean .5-ish math — just assert lag-3 is the max
    # correlation (the two spikes line up) and lag-1 is negative
    got = {r["lag"]: r["acf"] for r in out}
    assert got[3] > got[1]


def test_shuffle_skew_audit_exact_counts_and_hot_key(spark):
    from avro_sql_spark.operators.profile import shuffle_skew_audit

    rows = [(i, i % 5) for i in range(50)] + [(100 + i, 99) for i in range(50)]
    df = spark.createDataFrame(rows, "event_id LONG, user_id LONG")
    out = shuffle_skew_audit(df).collect()
    assert sum(r["n_rows"] for r in out) == 100
    assert sum(r["n_keys"] for r in out) == 6
    # the hot key (99, 50 rows) dominates exactly one bucket
    assert max(r["max_key_rows"] for r in out) == 50
    hot = [r for r in out if r["max_key_rows"] == 50]
    assert len(hot) == 1 and hot[0]["ratio_to_avg"] > 1.0


def test_spearman_perfect_monotone_and_inverse(spark):
    from avro_sql_spark.operators.profile import spearman_user_corr

    # user u has u+1 events; value per event = u -> more events, more
    # value: rho = 1 exactly
    rows = []
    eid = 0
    for u in range(6):
        for _ in range(u + 1):
            rows.append((eid, None, u, "c", float(u), ""))
            eid += 1
    from datetime import datetime

    rows = [(e, datetime(2024, 1, 1), u, t, v, p) for e, _, u, t, v, p in rows]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    r = spearman_user_corr(df).collect()[0]
    assert r["n_users"] == 6
    assert r["spearman_rho"] == pytest.approx(1.0)

    # per-event value (100-10u)/(u+1) makes the per-user TOTAL
    # 100-10u, strictly decreasing in event count -> rho = -1
    rows2 = [
        (e, ts, u, t, (100.0 - 10.0 * u) / (u + 1), p)
        for e, ts, u, t, v, p in rows
    ]
    df2 = spark.createDataFrame(
        rows2,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    assert spearman_user_corr(df2).collect()[0]["spearman_rho"] == pytest.approx(
        -1.0
    )


def test_srm_audit_balanced_split_not_flagged(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import srm_audit

    rows = [
        (u, datetime(2024, 1, 1), u, "purchase" if u % 3 == 0 else "view", 1.0, "")
        for u in range(400)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = srm_audit(df).collect()
    assert [r["arm"] for r in out] == ["A", "B"]
    assert sum(r["n_users"] for r in out) == 400
    for r in out:
        assert r["wilson_lo"] <= r["conv_rate"] <= r["wilson_hi"]
        assert 0.0 <= r["wilson_lo"] and r["wilson_hi"] <= 1.0
    # md5 assignment of 400 uniform ids should be nowhere near an SRM
    assert not out[0]["srm_flag"]


def test_local_clustering_triangle_and_star(spark):
    from avro_sql_spark.operators.graph import local_clustering_curve

    # triangle: every node degree 2, cc 1.0
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src LONG, dst LONG"
    )
    out = local_clustering_curve(tri).collect()
    assert len(out) == 1
    assert out[0]["degree"] == 2 and out[0]["n_nodes"] == 3
    assert out[0]["avg_clustering"] == pytest.approx(1.0)

    # star: hub degree 4 cc 0, leaves degree 1 excluded
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src LONG, dst LONG"
    )
    out = local_clustering_curve(star).collect()
    assert len(out) == 1
    assert out[0]["degree"] == 4
    assert out[0]["avg_clustering"] == pytest.approx(0.0)


def test_mann_whitney_shifted_vs_identical(spark):
    from avro_sql_spark.operators.profile import mann_whitney_matrix

    # A strictly shorter than B -> U = 0 for A, strongly negative z;
    # A vs C identical -> U = n²/2, z = 0 (all ties)
    rows = (
        [(i, "x" * 5, "en", "A", 5) for i in range(10)]
        + [(100 + i, "x" * 20, "en", "B", 20) for i in range(10)]
        + [(200 + i, "x" * 5, "en", "C", 5) for i in range(10)]
    )
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in mann_whitney_matrix(df).collect()
    }
    ab = out[("A", "B")]
    assert ab["u_stat"] == pytest.approx(0.0)
    assert ab["z"] < -3.0
    ac = out[("A", "C")]
    assert ac["u_stat"] == pytest.approx(50.0)
    # all-tied pair: tie-corrected variance is 0 -> z is NULL, not 0/0
    assert ac["z"] is None


def test_cramers_v_independent_and_determined(spark):
    from avro_sql_spark.operators.profile import cramers_v_report

    # independent 2x2 grid -> V ~ 0
    rows = [(i, "t", y, x, 1) for i, (x, y) in enumerate(
        [(x, y) for x in ("s1", "s2") for y in ("en", "fr") for _ in range(5)]
    )]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    r = cramers_v_report(df).collect()[0]
    assert r["chi2"] == pytest.approx(0.0, abs=1e-6)
    assert r["cramers_v"] == pytest.approx(0.0, abs=1e-6)

    # lang fully determined by source -> V = 1
    rows2 = [(i, "t", "en", "s1", 1) for i in range(5)] + [
        (10 + i, "t", "fr", "s2", 1) for i in range(5)
    ]
    df2 = spark.createDataFrame(
        rows2, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    r2 = cramers_v_report(df2).collect()[0]
    assert r2["cramers_v"] == pytest.approx(1.0, abs=1e-6)


def test_simpson_diversity_one_trick_and_uniform(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import simpson_event_diversity

    rows = []
    # user 1: 8 events of one type -> inv simpson 1.0 (bucket 1)
    rows += [(i, datetime(2024, 1, 1), 1, "view", 1.0, "") for i in range(8)]
    # user 2: 4 types x 2 events -> inv simpson 4.0 (bucket 4)
    for j, t in enumerate(["a", "b", "c", "d"]):
        rows += [
            (100 + 2 * j + k, datetime(2024, 1, 1), 2, t, 1.0, "")
            for k in range(2)
        ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    got = {r["bucket"]: r for r in simpson_event_diversity(df).collect()}
    assert got[1]["n_users"] == 1
    assert got[1]["avg_inv_simpson"] == pytest.approx(1.0)
    assert got[4]["n_users"] == 1
    assert got[4]["avg_inv_simpson"] == pytest.approx(4.0)


def test_hits_authority_prefers_discerning_buyers(spark):
    from avro_sql_spark.operators.graph import hits_supplier_authority

    # customers 1,2 (hubs) buy from suppliers 10 and 11; customer 3
    # only buys once from supplier 12. Supplier 10 gets double weight.
    orders = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2), (5, 3)],
        "o_orderkey LONG, o_custkey LONG",
    )
    li = spark.createDataFrame(
        [(1, 10), (1, 10), (2, 11), (3, 10), (4, 11), (5, 12)],
        "l_orderkey LONG, l_suppkey LONG",
    )
    out = hits_supplier_authority(orders, li).collect()
    scores = {r["supplier"]: r["authority"] for r in out}
    assert scores[10] == pytest.approx(1.0)  # max-normalized winner
    assert scores[11] < 1.0
    assert scores[12] < scores[11]  # isolated buyer ranks last


def test_eb_shrinkage_pulls_small_groups_to_mean(spark):
    from avro_sql_spark.operators.profile import eb_shrunk_rates

    # big group at 50%, big group at 10%, tiny group at 100% (2/2):
    # the tiny group must shrink well below 1.0; big groups barely move
    rows = (
        [(i, "t", "en" if i % 2 == 0 else "fr", "big50", 1) for i in range(200)]
        + [(1000 + i, "t", "en" if i % 10 == 0 else "fr", "big10", 1)
           for i in range(200)]
        + [(5000, "t", "en", "tiny", 1), (5001, "t", "en", "tiny", 1)]
    )
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    got = {r["group_key"]: r for r in eb_shrunk_rates(df).collect()}
    assert got["tiny"]["raw_rate"] == pytest.approx(1.0)
    # 3-group MoM prior is weak, but the pull must be toward the mean
    # and strictly away from the raw extreme
    assert 0.55 < got["tiny"]["shrunk_rate"] < 1.0
    assert abs(got["big50"]["shrunk_rate"] - got["big50"]["raw_rate"]) < 0.1
    # n=200 groups barely move, n=2 group moves the most
    move = lambda k: abs(got[k]["shrunk_rate"] - got[k]["raw_rate"])  # noqa: E731
    assert move("tiny") > move("big50")
    assert move("tiny") > move("big10")


def test_dp_release_noise_is_bounded_and_deterministic(spark):
    from datetime import datetime

    from avro_sql_spark.operators.curation import dp_count_release

    rows = [
        (i, datetime(2024, 1, 1), i, ["a", "b", "c"][i % 3], 1.0, "")
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out1 = dp_count_release(df).collect()
    out2 = dp_count_release(df).collect()
    assert out1 == out2  # replayable rehearsal
    for r in out1:
        assert r["true_count"] == 100
        assert r["abs_err"] == pytest.approx(
            abs(r["noisy_count"] - r["true_count"]), abs=1e-6
        )
        # Laplace(1) at the md5 quantization can't exceed ln(1e6)/1
        assert r["abs_err"] < 14.0


def test_entropy_rate_templated_vs_diverse(spark):
    from avro_sql_spark.operators.text import entropy_rate_bigram

    # source T: every bigram deterministic (one repeated sentence) ->
    # H = 0, perplexity 1; source D: contexts branch -> H > 0
    rows = [(i, "the cat sat", "en", "T", 11) for i in range(4)] + [
        (100, "a b", "en", "D", 3),
        (101, "a c", "en", "D", 3),
        (102, "a d", "en", "D", 3),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    got = {r["source"]: r for r in entropy_rate_bigram(df).collect()}
    assert got["T"]["entropy_rate_nats"] == pytest.approx(0.0)
    assert got["T"]["perplexity"] == pytest.approx(1.0)
    # D: context 'a' branches 3 ways uniformly -> H = ln 3
    assert got["D"]["entropy_rate_nats"] == pytest.approx(math.log(3.0), abs=1e-5)
    assert got["D"]["n_bigrams"] == 3 and got["D"]["n_contexts"] == 1


def test_burrows_delta_same_style_near_zero(spark):
    from avro_sql_spark.operators.text import burrows_delta

    # A and B share identical term frequencies; C skews the function
    # words -> delta(A,B) must be far below delta(A,C)
    txt_ab = "the of and to in " * 10
    txt_c = "the the the the the of " * 10
    rows = (
        [(i, txt_ab, "en", "A", 1) for i in range(3)]
        + [(10 + i, txt_ab, "en", "B", 1) for i in range(3)]
        + [(20 + i, txt_c, "en", "C", 1) for i in range(3)]
    )
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    got = {
        (r["source_a"], r["source_b"]): r["delta"]
        for r in burrows_delta(df).collect()
    }
    assert got[("A", "B")] == pytest.approx(0.0, abs=1e-6)
    assert got[("A", "C")] > 0.5
    assert got[("A", "C")] == pytest.approx(got[("B", "C")], abs=1e-6)


def test_did_lift_removes_common_trend(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import did_lift

    # both arms double their purchase rate pre->post (a pure time
    # trend): the DiD estimate must be ~0 even though post-only rates
    # differ from pre-only rates
    rows = []
    eid = 0
    for u in range(200):
        # every user: view pre, purchase post — a trend IDENTICAL in
        # both arms regardless of how the md5 split lands, so the
        # per-arm diffs are both exactly 1.0 and DiD is exactly 0
        for period, day, etype in (
            ("pre", 1, "view"),
            ("post", 20, "purchase"),
        ):
            rows.append((eid, datetime(2024, 1, day), u, etype, 1.0, ""))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = did_lift(df).collect()
    assert len(out) == 4
    assert {(r["arm"], r["period"]) for r in out} == {
        ("A", "pre"), ("A", "post"), ("B", "pre"), ("B", "post")
    }
    did = out[0]["did"]
    assert all(r["did"] == did for r in out)
    assert did == pytest.approx(0.0, abs=1e-9)
    for r in out:
        assert r["purchase_rate"] == pytest.approx(
            r["purchases"] / r["n_users"], abs=1e-6
        )


def test_lorenz_deciles_sum_to_one_and_monotone(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import lorenz_curve_points

    rows = [
        (u, datetime(2024, 1, 1), u, "purchase", float(u + 1), "")
        for u in range(100)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = lorenz_curve_points(df).collect()
    assert [r["decile"] for r in out] == list(range(1, 11))
    assert sum(r["n_users"] for r in out) == 100
    assert out[-1]["cum_share"] == pytest.approx(1.0)
    shares = [r["value_share"] for r in out]
    assert shares == sorted(shares)  # ascending-value deciles
    # values 1..100: top decile (91..100) holds 955/5050
    assert out[-1]["value_share"] == pytest.approx(955.0 / 5050.0, abs=1e-6)


def test_new_vs_returning_counts(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import new_vs_returning_mix

    rows = [
        # day 1: users 1,2 new; day 2: user 1 returns, user 3 new
        (1, datetime(2024, 1, 1, 5), 1, "v", 1.0, ""),
        (2, datetime(2024, 1, 1, 6), 2, "v", 1.0, ""),
        (3, datetime(2024, 1, 2, 5), 1, "v", 1.0, ""),
        (4, datetime(2024, 1, 2, 7), 3, "v", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = new_vs_returning_mix(df).collect()
    assert out[0]["dau"] == 2 and out[0]["new_users"] == 2
    assert out[0]["returning_users"] == 0
    assert out[1]["dau"] == 2 and out[1]["new_users"] == 1
    assert out[1]["returning_share"] == pytest.approx(0.5)


def test_repeat_purchase_quantiles_exact(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import repeat_purchase_interval

    # user gaps: 10 users with gap 1 day, 10 with 5, 10 with 30
    rows = []
    eid = 0
    for u in range(30):
        gap = [1, 5, 30][u // 10]
        t0 = datetime(2024, 1, 1, 12)
        for t in (t0, t0 + timedelta(days=gap)):
            rows.append((eid, t, u, "purchase", 1.0, ""))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    r = repeat_purchase_interval(df).collect()[0]
    assert r["n_gaps"] == 30
    assert r["p25_days"] == 1
    assert r["p50_days"] == 5
    assert r["p90_days"] == 30
    assert r["max_days"] == 30


def test_negbin_poisson_vs_overdispersed(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import negbin_overdispersion

    # constant counts (all users 4 events): var 0 -> dispersion 0,
    # nb_r NULL (v - m < 0 path guarded via nullif only at v==m... here
    # v=0 != m so r is negative-denominator finite; just sanity-check
    # the moments)
    rows = [
        (u * 10 + i, datetime(2024, 1, 1), u, "v", 1.0, "")
        for u in range(20)
        for i in range(4)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    r = negbin_overdispersion(df).collect()[0]
    assert r["n_users"] == 20
    assert r["mean_events"] == pytest.approx(4.0)
    assert r["var_events"] == pytest.approx(0.0)
    assert r["dispersion"] == pytest.approx(0.0)

    # heavy tail: 19 users with 1 event, 1 user with 81 -> dispersion >> 1
    rows2 = [(u, datetime(2024, 1, 1), u, "v", 1.0, "") for u in range(19)]
    rows2 += [(100 + i, datetime(2024, 1, 1), 99, "v", 1.0, "") for i in range(81)]
    df2 = spark.createDataFrame(
        rows2,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    r2 = negbin_overdispersion(df2).collect()[0]
    assert r2["dispersion"] > 10.0
    assert r2["nb_r"] is not None and r2["nb_r"] > 0.0


def test_basket_lift_anticorrelation_and_affinity(spark):
    from avro_sql_spark.operators.graph import basket_affinity_lift

    # parts 1,2 always together (4 baskets); part 3 in every basket
    rows = []
    for o in range(1, 5):
        rows += [(o, 1), (o, 2), (o, 3)]
    for o in range(5, 9):
        rows += [(o, 3), (o, 4)]
    df = spark.createDataFrame(rows, "l_orderkey LONG, l_partkey LONG")
    out = {
        (r["pa"], r["pb"]): r
        for r in basket_affinity_lift(df).collect()
    }
    # N=8 baskets; pair (1,2): cab=4, ca=cb=4 -> lift = 4*8/16 = 2.0
    assert out[(1, 2)]["lift"] == pytest.approx(2.0)
    assert out[(1, 2)]["confidence"] == pytest.approx(1.0)
    # pair (1,3): cab=4, ca=4, cb=8 -> lift = 4*8/32 = 1.0 (independent)
    assert out[(1, 3)]["lift"] == pytest.approx(1.0)


def test_price_elasticity_exact_slope(spark):
    from avro_sql_spark.operators.profile import price_elasticity

    # construct demand q = price^(-2) * 1e6 exactly in logs:
    # ln q = ln 1e6 - 2 ln p -> elasticity -2
    parts = [(k, "n", "B1", "t", 1, float(2 ** k)) for k in range(1, 12)]
    part = spark.createDataFrame(
        parts,
        "p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE",
    )
    li = []
    oid = 0
    for k in range(1, 12):
        q = 2 ** (2 * (12 - k))  # exact: ln q = (24-2k)ln2, ln p = k ln2
        li.append((oid, k, float(q)))
        oid += 1
    lineitem = spark.createDataFrame(
        li, "l_orderkey LONG, l_partkey LONG, l_quantity DOUBLE"
    )
    out = price_elasticity(part, lineitem).collect()
    assert len(out) == 1
    assert out[0]["elasticity"] == pytest.approx(-2.0, abs=1e-3)


def test_runs_test_alternating_and_blocked(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import runs_test_daily

    def mk(counts):
        rows = []
        eid = 0
        for i, c in enumerate(counts):
            for _ in range(c):
                rows.append(
                    (eid, datetime(2024, 1, 1) + timedelta(days=i), 1,
                     "purchase", 1.0, "")
                )
                eid += 1
        return spark.createDataFrame(
            rows,
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
            " value DOUBLE, props STRING",
        )

    # perfectly alternating 1,9,1,9,... -> maximum runs, z > 0
    alt = runs_test_daily(mk([1, 9] * 10)).collect()[0]
    assert alt["runs"] == 20
    assert alt["z"] > 2.0
    # blocked 1*10 then 9*10 -> exactly 2 runs, z < 0
    blk = runs_test_daily(mk([1] * 10 + [9] * 10)).collect()[0]
    assert blk["runs"] == 2
    assert blk["z"] < -2.0


def test_isotropy_mean_free_vs_shifted(spark):
    from avro_sql_spark.operators.similarity import embedding_isotropy

    # symmetric pair (+v, -v): mean is 0 -> ratio 0
    sym = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [-1.0, -2.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    r = embedding_isotropy(sym).collect()[0]
    assert r["isotropy_ratio"] == pytest.approx(0.0)
    assert r["dim"] == 2
    # identical vectors: all energy in the mean -> ratio 1
    same = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [3.0, 4.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    r2 = embedding_isotropy(same).collect()[0]
    assert r2["isotropy_ratio"] == pytest.approx(1.0)
    assert r2["mean_norm_sq"] == pytest.approx(25.0)


def test_script_profile_fractions(spark):
    from avro_sql_spark.operators.text import script_profile

    rows = [
        (1, "abc 12", "en", "L", 6),   # 3 latin, 2 digit, 1 space
        (2, "中文中文", "zh", "C", 4),  # 4 cjk
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    got = {r["source"]: r for r in script_profile(df).collect()}
    assert got["L"]["n_chars"] == 6
    assert got["L"]["latin_frac"] == pytest.approx(0.5)
    assert got["L"]["digit_frac"] == pytest.approx(2 / 6, abs=1e-6)
    assert got["L"]["space_frac"] == pytest.approx(1 / 6, abs=1e-6)
    assert got["C"]["cjk_frac"] == pytest.approx(1.0)
    assert got["C"]["other_frac"] == pytest.approx(0.0)


def test_posting_histogram_buckets(spark):
    from avro_sql_spark.operators.text import posting_list_histogram

    # term 'a' in 1 doc (bits 1), 'b' in 3 docs (bits 2), 'c' in 5 (bits 3)
    rows = [
        (1, "a b c"), (2, "b c"), (3, "b c"), (4, "c"), (5, "c c c"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["df_bits"]: r for r in posting_list_histogram(df).collect()}
    assert got[1]["n_terms"] == 1 and got[1]["max_df"] == 1
    assert got[2]["n_terms"] == 1 and got[2]["max_df"] == 3
    assert got[3]["n_terms"] == 1 and got[3]["max_df"] == 5
    assert got[3]["total_postings"] == 5  # distinct docs, not occurrences


def test_powerlaw_alpha_on_star(spark):
    from avro_sql_spark.operators.graph import degree_powerlaw_fit

    # hub with 8 leaves: degrees {8:1, 1:8}; tail (>=2) = just the hub
    edges = [(0, i) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    r = degree_powerlaw_fit(df).collect()[0]
    assert r["n_nodes"] == 9
    assert r["n_tail"] == 1
    assert r["d_max"] == 8
    # alpha = 1 + 1/ln(8/2) = 1 + 1/ln4
    assert r["alpha"] == pytest.approx(1.0 + 1.0 / math.log(4.0), abs=1e-5)


def test_join_order_audit_fk_joins_near_exact(spark):
    from avro_sql_spark.operators.profile import join_order_cost_audit

    # clean FK data: every order has a customer, 3 lines per order ->
    # the independence estimate is exact for both FK joins
    cust = spark.createDataFrame(
        [(c, "n", 0, 1.0, "m") for c in range(10)],
        "c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING",
    )
    orders = spark.createDataFrame(
        [(o, o % 10) for o in range(40)], "o_orderkey LONG, o_custkey LONG"
    )
    li = spark.createDataFrame(
        [(o, i) for o in range(40) for i in range(3)],
        "l_orderkey LONG, l_partkey LONG",
    )
    out = {r["join_step"]: r for r in
           join_order_cost_audit(cust, orders, li).collect()}
    assert out["customer_orders"]["true_rows"] == 40
    assert out["customer_orders"]["rel_error"] == pytest.approx(0.0)
    assert out["orders_lineitem"]["true_rows"] == 120
    assert out["orders_lineitem"]["rel_error"] == pytest.approx(0.0)
    assert out["customer_orders_lineitem"]["true_rows"] == 120
    assert out["customer_orders_lineitem"]["rel_error"] == pytest.approx(0.0)


def test_mad_outliers_single_spike(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import mad_outlier_days

    # 20 days oscillating 10/12 events, one day with 100
    rows = []
    eid = 0
    for i in range(21):
        c = 100 if i == 20 else (10 if i % 2 == 0 else 12)
        for _ in range(c):
            rows.append(
                (eid, datetime(2024, 1, 1) + timedelta(days=i), 1, "v", 1.0, "")
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    r = mad_outlier_days(df).collect()[0]
    assert r["n_days"] == 21
    assert r["median_daily"] in (10, 12)
    assert r["n_outlier_days"] == 1
    assert r["max_abs_z"] > 3.5


def test_modularity_two_cliques_vs_clique(spark):
    from avro_sql_spark.operators.graph import community_modularity

    # two 4-cliques joined by one bridge: strong structure, Q ~ 0.4+
    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    edges = clique([1, 2, 3, 4]) + clique([5, 6, 7, 8]) + [(4, 5)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    r = community_modularity(df).collect()[0]
    assert r["n_edges"] == 13
    assert r["modularity"] > 0.3
    assert r["intra_edge_share"] >= 12 / 13 - 1e-6

    # duplicate, reversed and self-loop edges leave the canonical edge
    # set, and so every figure, unchanged
    noisy = edges + [(b, a) for a, b in edges] + edges[:3] + [(1, 1), (6, 6)]
    df3 = spark.createDataFrame(noisy, "src LONG, dst LONG")
    assert community_modularity(df3).collect()[0] == r

    # single clique: one community, Q = 0 exactly (SL = m, D_c = 2m)
    one = spark.createDataFrame(clique([1, 2, 3, 4, 5]), "src LONG, dst LONG")
    r2 = community_modularity(one).collect()[0]
    assert r2["n_communities"] == 1
    assert r2["modularity"] == pytest.approx(0.0)


def test_markov_removal_credits_the_load_bearing_channel(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import markov_removal_attribution

    rows = []
    eid = 0
    t0 = datetime(2024, 1, 1)
    # 10 users: view -> purchase (view is load-bearing)
    for u in range(10):
        rows.append((eid, t0, u, "view", 1.0, "")); eid += 1
        rows.append((eid, t0 + timedelta(hours=1), u, "purchase", 1.0, ""))
        eid += 1
    # 10 users: click only, never convert
    for u in range(100, 110):
        rows.append((eid, t0, u, "click", 1.0, "")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = {r["channel"]: r for r in markov_removal_attribution(df).collect()}
    assert set(out) == {"view", "click"}
    # removing view kills every conversion path
    assert out["view"]["removal_effect"] == pytest.approx(1.0)
    assert out["view"]["attribution_share"] == pytest.approx(1.0)
    # click never reaches CONV: zero credit
    assert out["click"]["removal_effect"] == pytest.approx(0.0)
    assert out["click"]["attribution_share"] == pytest.approx(0.0)
    assert out["view"]["base_conv"] > 0.4


def test_sequence_pattern_order_matters(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import sequence_pattern_support

    rows = []
    eid = 0
    t0 = datetime(2024, 1, 1)
    # 8 users: view then purchase; 2 users: purchase then view
    for u in range(8):
        rows.append((eid, t0, u, "view", 1.0, "")); eid += 1
        rows.append((eid, t0 + timedelta(hours=1), u, "purchase", 1.0, ""))
        eid += 1
    for u in range(100, 102):
        rows.append((eid, t0, u, "purchase", 1.0, "")); eid += 1
        rows.append((eid, t0 + timedelta(hours=1), u, "view", 1.0, ""))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    got = {
        (r["first_type"], r["then_type"]): r
        for r in sequence_pattern_support(df).collect()
    }
    assert got[("view", "purchase")]["n_users"] == 8
    assert got[("view", "purchase")]["support"] == pytest.approx(0.8)
    assert got[("purchase", "view")]["n_users"] == 2
    # both types occur in all 10 users: lift = n_seq*10/(10*10)
    assert got[("view", "purchase")]["lift"] == pytest.approx(0.8)


def test_referential_coverage_orphans_and_unused(spark):
    from avro_sql_spark.operators.profile import referential_coverage_report

    cust = spark.createDataFrame(
        [(1, "a", 0, 1.0, "m"), (2, "b", 0, 1.0, "m")],
        "c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING",
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 99)], "o_orderkey LONG, o_custkey LONG"
    )  # order 11 is an orphan; customer 2 never ordered
    li = spark.createDataFrame(
        [(10, 100, 200), (12, 100, 200)],
        "l_orderkey LONG, l_partkey LONG, l_suppkey LONG",
    )  # line 12 orphan order
    part = spark.createDataFrame(
        [(100, "p", "b", "t", 1, 1.0), (101, "p", "b", "t", 1, 1.0)],
        "p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE",
    )
    supp = spark.createDataFrame([(200,), (201,)], "s_suppkey LONG")
    got = {
        r["relationship"]: r
        for r in referential_coverage_report(cust, orders, li, part, supp)
        .collect()
    }
    assert got["orders_without_customer"]["violations"] == 1
    assert got["lineitem_without_order"]["violations"] == 1
    assert got["customers_never_ordered"]["violations"] == 1
    assert got["parts_never_sold"]["violations"] == 1
    assert got["suppliers_never_used"]["violations"] == 1
    assert got["lineitem_without_part"]["violations"] == 0
    assert got["orders_without_customer"]["violation_rate"] == 0.5


def test_power_analysis_smaller_lift_needs_more_users(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import power_analysis_report

    rows = []
    eid = 0
    t0 = datetime(2024, 1, 1)
    for u in range(100):
        rows.append((eid, t0, u, "view", 1.0, "")); eid += 1
        if u < 20:  # 20% first-hour conversion
            rows.append((eid, t0 + timedelta(minutes=30), u, "purchase",
                         1.0, "")); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = power_analysis_report(df).collect()
    assert [r["rel_lift"] for r in out] == [0.01, 0.02, 0.05, 0.1, 0.2]
    assert all(r["baseline_rate"] == pytest.approx(0.2) for r in out)
    ns = [r["users_per_arm"] for r in out]
    assert ns == sorted(ns, reverse=True)  # smaller MDE -> more users
    assert ns[0] > ns[-1] * 50  # 1% vs 20% lift is orders of magnitude


def test_dim_broadcast_audit_size_model(spark):
    from avro_sql_spark.operators.profile import dim_broadcast_audit

    region = spark.createDataFrame(
        [(0, "abc"), (1, "de")], "r_regionkey INT, r_name STRING"
    )
    out = dim_broadcast_audit({"region": region}).collect()
    assert len(out) == 1
    r = out[0]
    # per row: 16 overhead + 8 fixed + len(name): (24+3) + (24+2) = 53
    assert r["n_rows"] == 2
    assert r["est_bytes"] == 53
    assert r["auto_broadcastable"]


def test_session_bounce_single_vs_multi(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import session_bounce_report

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: one 2-event session entered via view
        (0, t0, 1, "view", 1.0, ""),
        (1, t0 + timedelta(minutes=5), 1, "click", 1.0, ""),
        # user 1: later bounce session entered via click
        (2, t0 + timedelta(hours=5), 1, "click", 1.0, ""),
        # user 2: bounce entered via view
        (3, t0, 2, "view", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    got = {r["entry_type"]: r for r in session_bounce_report(df).collect()}
    assert got["view"]["n_sessions"] == 2
    assert got["view"]["bounces"] == 1
    assert got["view"]["bounce_rate"] == pytest.approx(0.5)
    assert got["click"]["n_sessions"] == 1
    assert got["click"]["bounce_rate"] == pytest.approx(1.0)
    assert got["view"]["max_session_events"] == 2


def test_neyman_gives_variable_stratum_more(spark):
    from avro_sql_spark.operators.profile import neyman_allocation

    rows = []
    did = 0
    # stratum A: constant length 100 (std 0); B: alternating 50/150
    for i in range(50):
        rows.append((did, "t", "en", "A", 100)); did += 1
    for i in range(50):
        rows.append((did, "t", "en", "B", 50 if i % 2 == 0 else 150))
        did += 1
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    got = {r["stratum"]: r for r in neyman_allocation(df).collect()}
    assert got["A"]["stddev"] == pytest.approx(0.0)
    assert got["A"]["neyman_share"] == pytest.approx(0.0)
    assert got["B"]["neyman_share"] == pytest.approx(1.0)
    assert got["B"]["allocated_n"] == 1000


def test_silhouette_separated_blobs_near_one(spark):
    from avro_sql_spark.operators.clustering import kmeans_silhouette

    # four tight far-apart blobs, one of the 4 lowest ids (the k=4
    # seeds) in each: silhouette near 1 for all four
    rows = [
        (b + 4 * i, [100.0 * b + 0.01 * i, 0.0]) for b in range(4) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = kmeans_silhouette(df).collect()
    assert len(out) == 4
    assert sum(r["n_points"] for r in out) == 20
    for r in out:
        assert r["avg_silhouette"] > 0.99


def test_hill_alpha_exact_pareto(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import tail_index_user_value

    # values v_i = 2^(i/10): ln spacing 0.1*ln2 -> Hill alpha over the
    # top k = 100 of 120 users = k / sum(ln(v_i/v_k)), v_k = 2^2
    import math

    rows = [
        (u, datetime(2024, 1, 1), u, "purchase", float(2 ** (u / 10.0)), "")
        for u in range(120)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    r = tail_index_user_value(df).collect()[0]
    assert r["k_used"] == 100
    assert r["threshold_value"] == pytest.approx(4.0)
    expected = 100.0 / sum(math.log(2 ** (u / 10.0) / 4.0) for u in range(20, 120))
    assert r["hill_alpha"] == pytest.approx(expected, rel=1e-4)
    share = sum(2 ** (u / 10.0) for u in range(20, 120)) / sum(
        2 ** (u / 10.0) for u in range(120)
    )
    assert r["topk_value_share"] == pytest.approx(share, rel=1e-4)


def test_lm_interpolation_memorized_corpus_high_lambda(spark):
    from avro_sql_spark.operators.profile import lm_interpolation_weights

    # identical text everywhere: every held-out bigram is perfectly
    # predicted by the bigram model -> lambda climbs toward 1
    rows = [(i, "the cat sat on the mat", "en", "s", 1) for i in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    out = lm_interpolation_weights(df).collect()[0]
    assert out["n_held_bigrams"] > 0
    assert out["lambda_round1"] > 0.5
    assert out["lambda_round3"] >= out["lambda_round1"] - 1e-9
    assert out["lambda_round3"] > 0.9


def test_weighted_sample_prefers_heavy_docs(spark):
    from avro_sql_spark.operators.curation import weighted_reservoir_sample

    # 100 light docs (weight 1) + 100 heavy (weight 1000): the k=50
    # sample must be dominated by heavy docs, deterministically
    rows = [(i, "t", "en", "s", 1) for i in range(100)] + [
        (1000 + i, "t", "en", "s", 1000) for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    out1 = weighted_reservoir_sample(df).collect()
    out2 = weighted_reservoir_sample(df).collect()
    assert out1 == out2  # deterministic
    heavy = sum(1 for r in out1 if r["weight"] == 1000)
    assert len(out1) == 50 and heavy >= 45  # ~1000x odds per draw
    assert all(r["n_corpus"] == 200 for r in out1)
    assert out1[0]["avg_weight_corpus"] == pytest.approx(500.5)


def test_diameter_path_graph_exact(spark):
    from avro_sql_spark.operators.graph import diameter_double_sweep

    # path 1-2-3-4-5 (symmetric edges): start=1, ecc=4, far=5, diam=4
    path = [(i, i + 1) for i in range(1, 5)]
    sym = path + [(b, a) for a, b in path]
    df = spark.createDataFrame(sym, "src LONG, dst LONG")
    r = diameter_double_sweep(df).collect()[0]
    assert r["start_node"] == 1
    assert r["ecc_start"] == 4
    assert r["far_node"] == 5
    assert r["diameter_lower_bound"] == 4
    assert r["n_reached"] == 5


def test_attribution_windows_monotone(spark):
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import attribution_window_sensitivity

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # u0 converts in 30min, u1 in 12h, u2 in 3d, u3 never
    for u, delay in [(0, 0.5), (1, 12.0), (2, 72.0), (3, None)]:
        rows.append((eid, t0, u, "view", 1.0, "")); eid += 1
        if delay is not None:
            rows.append(
                (eid, t0 + timedelta(hours=delay), u, "purchase", 1.0, "")
            ); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    got = {r["window"]: r for r in attribution_window_sensitivity(df).collect()}
    assert got["1h"]["conversions"] == 1
    assert got["6h"]["conversions"] == 1
    assert got["24h"]["conversions"] == 2
    assert got["7d"]["conversions"] == 3
    assert got["7d"]["conv_rate"] == pytest.approx(0.75)


def test_vocab_gini_uniform_vs_skewed(spark):
    from avro_sql_spark.operators.text import vocab_gini

    uni = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id LONG, text STRING"
    )
    r = vocab_gini(uni).collect()[0]
    assert r["vocab_size"] == 4 and r["total_tokens"] == 8
    assert r["vocab_gini"] == pytest.approx(0.0, abs=1e-6)

    skew = spark.createDataFrame(
        [(1, " ".join(["the"] * 97 + ["a", "b", "c"]))],
        "doc_id LONG, text STRING",
    )
    r2 = vocab_gini(skew).collect()[0]
    assert r2["vocab_gini"] > 0.7


def test_qte_uniform_shift_detected(spark):
    from datetime import datetime

    from avro_sql_spark.operators.profile import quantile_treatment_effect

    # values identical per user id mod 100; the md5 split makes arms
    # statistically similar, so every-decile |QTE| stays small relative
    # to the value scale while the table structure is exact
    rows = [
        (u, datetime(2024, 1, 1), u, "purchase", float(u % 100 + 1), "")
        for u in range(400)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = quantile_treatment_effect(df).collect()
    assert [r["decile"] for r in out] == list(range(1, 11))
    assert sum(r["n_a"] for r in out) + sum(r["n_b"] for r in out) == 400
    va = [r["value_a"] for r in out]
    vb = [r["value_b"] for r in out]
    assert va == sorted(va) and vb == sorted(vb)  # deciles ascend
    for r in out:
        assert r["qte_b_minus_a"] == pytest.approx(
            r["value_b"] - r["value_a"], abs=1e-6
        )
        assert abs(r["qte_b_minus_a"]) < 20.0  # same distribution
