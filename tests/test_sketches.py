"""Error-bound and mergeability tests for the DataSketches operators —
the approximate entries are rows-only in the driver gate, so the bounds
are enforced here against exact answers."""

import pyspark.sql.functions as F

from avro_sql_spark.operators import sketches
from avro_sql_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def test_kll_quantiles_within_rank_error(spark):
    """KLL(32768) at this scale keeps every value (at most ~1.1%
    normalized rank error past it); assert each estimate's true rank is
    within 5% of its target."""
    ev = load_tables(spark, SF, register=False)["events"]
    est = {r["event_type"]: r for r in sketches.kll_value_quantiles(ev).collect()}
    for etype, r in est.items():
        vals = sorted(
            x["value"] for x in ev.filter(F.col("event_type") == etype)
            .select("value").collect()
        )
        n = len(vals)
        for q, col in [(0.25, "p25"), (0.5, "p50"), (0.9, "p90")]:
            rank = sum(1 for v in vals if v <= r[col]) / n
            assert abs(rank - q) < 0.05, (etype, col, rank)


def test_theta_overlap_exact_in_small_regime(spark):
    """Below the sketch threshold theta is exact: overlaps must equal
    the exact distinct-user intersections."""
    ev = load_tables(spark, SF, register=False)["events"]
    got = {(r["type_a"], r["type_b"]): r["est_overlap"]
           for r in sketches.theta_user_overlap(ev).collect()}
    d = ev.select("event_type", "user_id").distinct().collect()
    by_type = {}
    for r in d:
        by_type.setdefault(r["event_type"], set()).add(r["user_id"])
    for (a, b), est in got.items():
        assert est == len(by_type[a] & by_type[b])


def test_sketch_rollup_merge_consistent(spark):
    row = sketches.sketch_rollup_report(spark, SF).collect()[0]
    assert row["merge_consistent"]
    ev = load_tables(spark, SF, register=False)["events"]
    exact = ev.select("user_id").distinct().count()
    assert row["distinct_users_direct"] == exact


def test_heavy_users_counts_match_exact(spark):
    """In the exact-tracking regime approx_top_k counts equal the true
    per-user counts for every returned item."""
    ev = load_tables(spark, SF, register=False)["events"]
    got = {r["user_id"]: r["est_count"]
           for r in sketches.heavy_users_topk(ev).collect()}
    exact = {r["user_id"]: r["count"]
             for r in ev.groupBy("user_id").count().collect()}
    assert len(got) == min(23, len(exact))  # sf0.001 has 15 users
    for uid, c in got.items():
        assert c == exact[uid]
    # the top estimated count is the true maximum
    assert max(got.values()) == max(exact.values())


def test_sketch_aggs_partial_merge_plan(spark):
    """Sketch aggregates must plan as partial+final pairs (objHashAggregate),
    i.e. map-side combined — the mergeability that makes them 100 TB ops."""
    ev = load_tables(spark, SF, register=False)["events"]
    plan = sketches.kll_value_quantiles(ev)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Aggregate" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_count_min_never_underestimates(spark):
    from avro_sql_spark.operators import sketches

    # 201 keys over 64 counters a row: every row collides
    df = spark.createDataFrame(
        [(i % 200,) for i in range(2000)] + [(999,)] * 50, "k LONG"
    )
    out = sketches.count_min_report(df, "k").collect()
    assert len(out) == 20
    assert any(r["overestimate"] > 0 for r in out)
    for r in out:
        # the CM guarantee: min over rows can only overestimate
        assert r["est_n"] >= r["exact_n"]
        assert r["overestimate"] == r["est_n"] - r["exact_n"]
    # heaviest key first with exact count intact
    assert out[0]["key"] == 999 and out[0]["exact_n"] == 50


def test_count_min_wide_sketch_is_exact(spark):
    from avro_sql_spark.operators import sketches

    # 5 distinct keys over 64 counters in each of 4 rows: the min over
    # the rows finds a collision-free cell for every key
    df = spark.createDataFrame([(i % 5,) for i in range(100)], "k LONG")
    out = sketches.count_min_report(df, "k").collect()
    assert all(r["overestimate"] == 0 for r in out)
    assert all(r["exact_n"] == 20 for r in out)


def test_join_size_sketch_one_sided(spark):
    """Exact inner product is known; the CM estimate can only
    over-estimate (collisions add)."""
    from avro_sql_spark.operators.sketches import join_size_sketch

    a = spark.createDataFrame([(k,) for k in [1, 1, 1, 2, 3]], "user_id long")
    b = spark.createDataFrame([(k,) for k in [1, 2, 2, 4]], "o_custkey long")
    r = join_size_sketch(a, "user_id", b, "o_custkey").collect()[0]
    # exact: key1 3*1 + key2 1*2 = 5
    assert r["exact_size"] == 5
    assert r["est_size"] >= 5
    assert r["overestimate"] == r["est_size"] - r["exact_size"]
