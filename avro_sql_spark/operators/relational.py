"""Standard relational surface — the categories the reference does NOT
implement (SURVEY.md §2.2: filters, joins, aggregations, windows, sorts,
set ops) expressed as idiomatic DataFrame plans so Catalyst supplies
pushdown, pruning, join selection, AQE, and codegen for free.

Determinism conventions (shared with the DuckDB oracle in
``__spark_entry__.py``):
 - money aggregates run on DECIMAL(18,2)/(18,6) casts so sums are exact
   and order-independent, then cast to DOUBLE for a stable output schema
 - every ORDER BY carries a unique key tiebreak
 - every computed column is aliased identically on both sides

Scale notes (100 TB):
 - small dims (region/nation/supplier, and customer vs lineitem) are
   explicitly ``broadcast()`` — no shuffle for the probe side
 - fact-fact joins (orders ⋈ lineitem) shuffle on the join key once;
   AQE coalesces/skew-splits at runtime
 - aggregations are partial (map-side combine) by construction — we never
   collect or loop on the driver
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_tokens
from ..session import load_tables

D182 = "decimal(18,2)"
D186 = "decimal(18,6)"


def _dec(col: str, scale: str = D182):
    return F.col(col).cast(scale)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem (single scan, one
    shuffle on the 6-value group key; partial aggregation does almost all
    the work map-side)."""
    t = load_tables(spark, sf_dir, register=False)
    li = t["lineitem"].filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp_ntz"))
    # all money math in DECIMAL so sums are exact/order-free; precisions
    # are sized so even the triple product (12,2)x(5,2)x(5,2)→(24,6)
    # stays exact in BOTH engines (no precision-overflow rescaling, no
    # intermediate rounding — rounding rules differ between engines)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    one_minus_disc = F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    one_plus_tax = F.lit(1).cast("decimal(4,2)") + F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * one_minus_disc
    charge = price * one_minus_disc * one_plus_tax
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top 10 unshipped orders by revenue for one market
    segment. customer is broadcast (tiny vs orders); orders ⋈ lineitem
    shuffles once on the order key."""
    t = load_tables(spark, sf_dir, register=False)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < F.lit("1997-06-01").cast("timestamp_ntz"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1997-06-01").cast("timestamp_ntz"))
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue by nation where customer and supplier share
    the nation. All dimension tables broadcast; the only shuffle is
    orders ⋈ lineitem and the final small aggregation."""
    t = load_tables(spark, sf_dir, register=False)
    revenue = F.sum(_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount")))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: top-3 orders per customer by total price
    (rank shuffle partitions by customer key only — no global sort)."""
    t = load_tables(spark, sf_dir, register=False)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_custkey", "rank")
    )


def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping sets) over orders."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first()
        )
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never ordered (left_anti — Catalyst
    builds a broadcast/hash anti join, no row explosion)."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def buyers_of_both_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op INTERSECT: customers who bought Brand#1 parts and Brand#2
    parts. part is broadcast into lineitem both times."""
    t = load_tables(spark, sf_dir, register=False)

    def buyers(brand: str) -> DataFrame:
        parts = t["part"].filter(F.col("p_brand") == brand).select("p_partkey")
        return (
            t["lineitem"]
            .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
            .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .select(F.col("o_custkey").alias("custkey"))
            .distinct()
        )

    return buyers("Brand#1").intersect(buyers("Brand#2")).orderBy("custkey")


def segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates: per market segment, distinct customers with
    orders, order count, and decimal-exact total volume."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("volume"),
        )
        .orderBy("c_mktsegment")
    )


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (batch
    form; the streaming form in avro_sql_spark.streaming uses the same
    expressions behind a watermark)."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", D186)).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (reference lacks it; SURVEY.md §2.2 'joins'): for each
    event, the most recent order of that user at event time.

    Merge formulation: union both sides tagged, one sort per user, and a
    running ``last(order, ignoreNulls)`` window carries the latest
    preceding order onto each event row. Unlike the naive
    inequality-join + rank, NO intermediate row explosion exists — an
    event never pairs with its user's full order history, so the cost is
    one shuffle+sort of |events|+|orders| regardless of history depth.
    Sort key (time, is_order DESC, orderkey ASC) encodes the tie rules:
    an order exactly at event time counts, and among same-timestamp
    orders the highest key wins."""
    t = load_tables(spark, sf_dir, register=False)
    ev = t["events"].select(
        "event_id",
        "user_id",
        "ts",
        F.lit(0).alias("is_order"),
        F.lit(None).cast("struct<k:bigint,d:timestamp_ntz,p:double>").alias("o"),
    )
    od = t["orders"].select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("is_order"),
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("d"),
            F.col("o_totalprice").alias("p"),
        ).alias("o"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.desc("is_order"), F.asc("o.k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = ev.unionByName(od).withColumn(
        "last_order", F.last("o", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("is_order") == 0) & F.col("last_order").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("last_order.k").alias("o_orderkey"),
            F.col("last_order.d").alias("o_orderdate"),
            F.col("last_order.p").alias("o_totalprice"),
        )
        .orderBy("event_id")
    )


def part_size_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all grouping-set combinations) over part."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["part"]
        .cube("p_brand", "p_size")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(_dec("p_retailprice")).cast("double").alias("retail_value"),
        )
        .orderBy(
            F.col("p_brand").asc_nulls_first(), F.col("p_size").asc_nulls_first()
        )
    )


def big_spender_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style semi join: segments of customers having at least one
    order above 400k (left_semi -> no row explosion)."""
    t = load_tables(spark, sf_dir, register=False)
    big = t["orders"].filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def except_urgent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op EXCEPT: customers with orders minus customers with any
    1-URGENT order."""
    t = load_tables(spark, sf_dir, register=False)
    all_buyers = t["orders"].select(F.col("o_custkey").alias("custkey")).distinct()
    urgent = (
        t["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    # subtract = EXCEPT DISTINCT: both inputs are already distinct, so
    # one set operation replaces exceptAll + a redundant distinct stage
    return all_buyers.subtract(urgent).orderBy("custkey")


def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string/date/math functions (SURVEY.md §2.2 'Scalar
    functions') with engine-portable semantics (no round-half rules)."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["orders"]
        .select(
            "o_orderkey",
            F.upper(F.substring("o_orderstatus", 1, 1)).alias("status_u"),
            F.concat_ws("-", F.col("o_orderpriority"), F.col("o_orderstatus")).alias("prio_tag"),
            F.length("o_orderpriority").cast("long").alias("prio_len"),
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mo"),
            F.dayofmonth("o_orderdate").cast("long").alias("dom"),
            F.floor(F.col("o_totalprice")).alias("price_floor"),
            F.abs(F.col("o_totalprice") - 200000.0).alias("price_dev"),
            (F.col("o_orderkey") % 7).alias("key_mod"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias("status_or_open"),
        )
        .orderBy("o_orderkey")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) over events via native
    session_window - the batch twin of the streaming sessionizer."""
    from ..streaming import sessionize

    t = load_tables(spark, sf_dir, register=False)
    return (
        sessionize(t["events"], gap_minutes=30)
        .select("user_id", "session_start", "n_events")
        .orderBy("user_id", "session_start")
    )


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: (prev_type, event_type, n, p) where p is the row-
    normalized transition probability — the behavioral model behind
    next-action prediction and funnel-drop diagnostics.

    Scale shape: ONE lag window partitioned by user (hash-partitioned,
    per-user state only — no global sort), then a groupBy on the
    (prev, next) pair whose result is bounded by the event-type
    universe squared, so the normalizing window runs on a frame of
    dozens of rows. Ordering inside a user is made TOTAL with the
    unique event_id tiebreak, so the lag sequence — and therefore every
    count — is engine-independent and the DuckDB oracle matches
    exactly; p is a single division of exact integers, bit-identical
    in any IEEE engine."""
    t = load_tables(spark, sf_dir, register=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t["events"].select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type"),
    )
    counts = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
    ).orderBy("prev_type", "event_type")


def session_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k session opening paths: events sessionize per user (new
    session when the gap is ≥ 30 minutes — the same convention as
    ``sessionize_events``), each session contributes the '>'-joined
    sequence of its first four event types, and paths rank by session
    count. The sequence-mining view behind funnel design: what do
    sessions actually DO first?

    Scale shape: the lag + running-sum session assignment is per-user
    window state (hash-partitioned, no global sort); the per-session
    path is built IN-ROW from a sort_array'd collect_list bounded by
    slicing to 4 elements; the path groupBy is bounded by the
    event-type universe to the 4th power; and only the final top-k
    orders a frame of that bounded size. Ordering inside a session is
    made TOTAL with the unique event_id tiebreak, and the top-k order
    (n DESC, path ASC) is a total order, so the oracle matches row for
    row."""
    t = load_tables(spark, sf_dir, register=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the gap test is exact micros interval arithmetic (ts carries
    # sub-second precision; an epoch-seconds floor would mis-split
    # sessions at the boundary and diverge from the oracle)
    marked = t["events"].select(
        "user_id", "ts", "event_id", "event_type", F.lag("ts").over(w).alias("prev_ts")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("prev_ts").isNull()
            | F.expr("ts - prev_ts >= INTERVAL 30 MINUTES"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_s"),
    )
    sess = marked.withColumn(
        "sess",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    paths = (
        sess.groupBy("user_id", "sess")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice("evs", 1, 4), lambda e: e.getField("event_type")
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over the event stream: each user's
    Recency (last event time), Frequency (event count), and Monetary
    (DECIMAL-exact value sum) rank into exact quartiles, and the report
    counts users per (r, f, m) cell — the 64-cell segmentation grid
    marketing/retention pipelines act on.

    Exactness & scale: quartile = ceil(4·rank/n) on the two-pass
    range-partitioned rank (curation.global_rank — never NTILE, whose
    remainder distribution differs from the integer ceil and whose
    window is a single-task sort), ranks totally ordered by
    (metric, user_id), monetary accumulated in DECIMAL(38,6). The
    output is bounded by 4³ cells.

    ONE fused rank pass for all three dimensions (the key_locality /
    skipping-audit device): each user row explodes into three
    (metric_index, rec, freq, mon) rows where only its own metric is
    non-NULL, and a single global_rank over (mi, rec, freq, mon,
    user_id) ranks every dimension — within a metric's block the other
    metrics' fields are constant NULL, so the order reduces to
    (metric, user_id), and the per-metric rank replays as
    rank − mi·n (n = total/3 from the same counts frame). One range
    shuffle + one sampling pass instead of three, and the two
    user-keyed rank joins collapse into one pivot aggregate."""
    from .curation import global_rank

    t = load_tables(spark, sf_dir, register=False)
    u = t["events"].groupBy("user_id").agg(
        F.max("ts").alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            F.round(F.coalesce(F.col("value"), F.lit(0.0)), 6).cast(
                "decimal(38,6)"
            )
        ).alias("mon"),
    )
    tnull = F.lit(None).cast(dict(u.dtypes)["rec"])
    lnull = F.lit(None).cast("bigint")
    mnull = F.lit(None).cast("decimal(38,6)")
    ex = u.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("mi"), F.col("rec").alias("rec"),
                    lnull.alias("freq"), mnull.alias("mon"), F.col("user_id"),
                ),
                F.struct(
                    F.lit(1).alias("mi"), tnull.alias("rec"),
                    F.col("freq").alias("freq"), mnull.alias("mon"),
                    F.col("user_id"),
                ),
                F.struct(
                    F.lit(2).alias("mi"), tnull.alias("rec"),
                    lnull.alias("freq"), F.col("mon").alias("mon"),
                    F.col("user_id"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    ranked = global_rank(
        ex,
        [F.asc("mi"), F.asc("rec"), F.asc("freq"), F.asc("mon"), F.asc("user_id")],
        rank_col="_gr",
        total_col="_tot",
    )
    n = F.expr("_tot DIV 3")
    rk = F.col("_gr") - F.col("mi").cast("bigint") * n
    per = ranked.select(
        "user_id",
        "mi",
        (rk * 4 + n - F.lit(1)).alias("_num"),
        n.alias("_den"),
    ).selectExpr("user_id", "mi", "CAST(_num DIV _den AS INT) AS qt")
    q = per.groupBy("user_id").agg(
        F.max(F.when(F.col("mi") == 0, F.col("qt"))).alias("r_q"),
        F.max(F.when(F.col("mi") == 1, F.col("qt"))).alias("f_q"),
        F.max(F.when(F.col("mi") == 2, F.col("qt"))).alias("m_q"),
    )
    return (
        q.groupBy("r_q", "f_q", "m_q")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("r_q", "f_q", "m_q")
    )


def position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every
    purchase distributes credit over the user's touchpoints in the
    prior 24 hours — 40% first touch, 40% last, 20% split
    across the middle (k=1 → 1.0, k=2 → 0.5/0.5) — reported as total
    credit per touch type. The marketing-analytics standard between
    last-click (streaming_click_attribution's rule) and Shapley.

    Scale shape: ONE user-keyed equi-join with the time-range predicate
    (touches per purchase bounded by the window), position/size via a
    per-purchase window (purchase-keyed state only), credit a CASE of
    exact literals with one division for the middle split. Credit sums
    are rounded at 6dp (sub-ulp association drift only; every credit is
    an exact rational of small ints)."""
    t = load_tables(spark, sf_dir, register=False)
    e = t["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("t_id"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    joined = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & F.expr("t_ts >= p_ts - INTERVAL 24 HOURS")
    )
    w = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    sized = joined.select(
        "p_id",
        "touch_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("p_id")).alias("k"),
    )
    credit = (
        F.when(F.col("k") == 1, F.lit(1.0))
        .when(F.col("k") == 2, F.lit(0.5))
        .when(F.col("pos") == 1, F.lit(0.4))
        .when(F.col("pos") == F.col("k"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("k") - 2))
    )
    return (
        sized.select("p_id", "touch_type", credit.alias("credit"))
        .groupBy("touch_type")
        .agg(
            F.round(F.sum("credit"), 6).alias("total_credit"),
            F.countDistinct("p_id").alias("n_conversions"),
        )
        .orderBy("touch_type")
    )


def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion between a
    deterministic 50/50 user split (user_id parity stands in for the
    assignment a real experimenter logs) — the experiment-readout table:
    per-arm users/conversions/rates, the pooled z statistic, and the
    5%-level verdict.

    Conversion is "purchased within the first hour of activity" — a
    genuinely mid-range rate ("ever purchased" saturates to 100% on an
    active-user stream, making the pooled variance zero and the z
    undefined; the NULLIF guard below keeps that degenerate case a NULL
    statistic rather than an ANSI divide-by-zero).

    Scale shape: one per-user aggregate, one per-arm aggregate (two
    rows), then scalar arithmetic on exact integer counts — divisions
    and sqrt are single IEEE ops identical in any engine (the
    epoch_plan sqrt precedent), rounded at 6dp."""
    t = load_tables(spark, sf_dir, register=False)
    per_user = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("first_purchase"),
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("arm"),
            (
                F.col("first_purchase").isNotNull()
                & F.expr("first_purchase <= first_ts + INTERVAL 1 HOUR")
            )
            .cast("int")
            .alias("conv"),
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a")
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b")
    )
    j = a.crossJoin(b)
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    den = F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    z = (pa - pb) / F.nullif(den, F.lit(0.0))
    return j.select(
        "n_a",
        "conv_a",
        F.round(pa, 6).alias("rate_a"),
        "n_b",
        "conv_b",
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.959963985).alias("significant_5pct"),
    )


def union_high_low_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op UNION ALL with a discriminator column: the very largest and
    very smallest orders in one frame (unionByName keeps schemas honest)."""
    t = load_tables(spark, sf_dir, register=False)
    base = t["orders"].select("o_orderkey", "o_totalprice")
    high = base.filter(F.col("o_totalprice") > 450000).withColumn("bucket", F.lit("high"))
    low = base.filter(F.col("o_totalprice") < 10000).withColumn("bucket", F.lit("low"))
    return high.unionByName(low).orderBy("o_orderkey")


def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per return flag (verified
    bit-identical to DuckDB quantile_cont)."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("median_qty"),
            F.percentile("l_extendedprice", 0.9).alias("p90_price"),
            F.percentile("l_discount", 0.25).alias("p25_disc"),
        )
        .orderBy("l_returnflag")
    )


def customer_value_vs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-style comparison: customers whose average order value
    beats the global average by 25%+ (the scalar subquery becomes a
    cross-joined broadcast literal - one extra tiny stage, no per-row
    subquery execution)."""
    t = load_tables(spark, sf_dir, register=False)
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(
            (F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    global_avg = t["orders"].agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("g")
    )
    return (
        per_cust.crossJoin(F.broadcast(global_avg))
        .filter(F.col("avg_value") > F.col("g") * 1.25)
        .select("o_custkey", "avg_value", "n_orders")
        .orderBy("o_custkey")
    )


def orders_pivot_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per priority, order counts in columns per status. Explicit
    value list keeps the output schema static (an unlisted pivot would
    need an extra distinct scan AND make the schema data-dependent -
    never do that at 100 TB)."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .orderBy("o_orderpriority")
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: revenue delta from a discount change. Pure
    filter + aggregate on a single scan — every predicate is pushed into
    the parquet reader (shipdate/discount/quantity show up as
    PushedFilters) and the aggregation is one map-side-combined stage
    with a 1-row result: the cheapest possible shape at 100 TB."""
    t = load_tables(spark, sf_dir, register=False)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * _dec("l_discount", "decimal(4,2)"))
        .cast("double")
        .alias("revenue")
    )


def q9_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style: supplier-nation profit by order year for one part
    type family. part/supplier/nation broadcast; the only big shuffle is
    lineitem ⋈ orders on the order key."""
    t = load_tables(spark, sf_dir, register=False)
    part = t["part"].filter(F.col("p_type") == "STANDARD").select("p_partkey")
    profit = F.sum(
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(profit.cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top 20 customers by revenue lost to returns in
    one quarter. customer+nation broadcast against the lineitem ⋈ orders
    shuffle; top-k via sort+limit (TakeOrderedAndProject — no global
    sort materialization)."""
    t = load_tables(spark, sf_dir, register=False)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(revenue.cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style conditional aggregation: per ship year, how many
    late lines (shipped >90 days after order) were high vs low priority.
    One orders ⋈ lineitem shuffle; the CASE aggregation is map-side."""
    t = load_tables(spark, sf_dir, register=False)
    late = t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: share of one month's revenue from PROMO parts.
    part broadcast; single-row ratio of two exact decimal sums (divide
    once at the end — never per row)."""
    t = load_tables(spark, sf_dir, register=False)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: customers behind the very largest orders
    (order quantity > 250). The HAVING subquery is a left_semi join
    against the aggregated lineitem — both sides shuffle on the order
    key once and AQE turns the (tiny) filtered aggregate into a
    broadcast at runtime."""
    t = load_tables(spark, sf_dir, register=False)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: revenue from three OR'ed brand/size/quantity
    windows. The disjunction lives in ONE join filter (not a union of
    three scans); part is broadcast so the fact table is read once."""
    t = load_tables(spark, sf_dir, register=False)
    branch = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, smax))
        & (F.col("l_quantity").between(qlo, qhi))
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch("Brand#12", 5, 1, 11) | branch("Brand#23", 10, 10, 20) | branch("Brand#3", 15, 20, 30))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: per nation, customers with above-average
    positive balance and NO order since 2000. Scalar subquery becomes a
    broadcast literal; the NOT EXISTS is a left_anti join on the
    customer key against the date-filtered orders."""
    t = load_tables(spark, sf_dir, register=False)
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg((F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("g"))
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return (
        t["customer"]
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("g"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style correlated-MIN subquery, adapted (no partsupp
    table): for each small STANDARD part, the supplier offering the
    lowest observed unit price in lineitem. The per-(part, supplier)
    aggregate shuffles once on the part key; the correlated MIN becomes
    a row_number window over that same partitioning (no second shuffle),
    and supplier/nation dims are broadcast."""
    t = load_tables(spark, sf_dir, register=False)
    part = t["part"].filter((F.col("p_size") < 10) & (F.col("p_type") == "STANDARD"))
    offers = (
        t["lineitem"]
        .join(F.broadcast(part.select("p_partkey", "p_name")), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("unit_price"), F.asc("l_suppkey"))
    best = offers.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            F.round("unit_price", 6).alias("best_unit_price"),
        )
        .orderBy("p_partkey")
    )


def q4_priority_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style EXISTS: orders in one quarter having at least one
    line shipped >60 days after the order date, counted by priority.
    The EXISTS is a left_semi join — lineitem is filtered by the join
    condition and never duplicated, so the count stays per-order."""
    t = load_tables(spark, sf_dir, register=False)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: bilateral trade volume between two nations by
    ship year — the supplier sits in one nation, the customer in the
    other, in either direction. Both nation lookups broadcast; the
    disjunctive pair filter runs after the (cheap) dim joins so the
    fact tables are scanned once."""
    t = load_tables(spark, sf_dir, register=False)
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style: NATION_3's share of LARGE-part revenue sold into
    EUROPE, by order year. The conditional share is a ratio of two
    exact decimal sums per year (single aggregation — the CASE runs
    map-side, the division once per output row)."""
    t = load_tables(spark, sf_dir, register=False)
    europe_cust = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("c_custkey")
    )
    supp_nation = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = t["part"].filter(F.col("p_type") == "LARGE").select("p_partkey")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(europe_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style HAVING-over-scalar-subquery, adapted (no
    partsupp): parts whose lineitem revenue exceeds 1.3x the mean
    per-part revenue. One shuffle on the part key; the global total re-aggregates
    the per-part sums (tiny) and broadcasts back as a literal — the
    fact table is scanned once, not twice."""
    t = load_tables(spark, sf_dir, register=False)
    per_part = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("value_dec"))
    )
    total = per_part.agg(
        (F.sum("value_dec").cast("double") / F.count(F.lit(1))).alias("mean_value")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("mean_value") * 1.3)
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style two-level aggregation: distribution of customers
    by order count (non-urgent orders only), keeping 0-order customers
    via a left outer join. First groupBy shuffles on the customer key,
    second on the (tiny-domain) count."""
    t = load_tables(spark, sf_dir, register=False)
    orders = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: the supplier(s) with maximum revenue in one
    quarter. The MAX scalar subquery is an argmax-by-filter: the
    per-supplier aggregate (bounded by |suppliers|) is localCheckpointed
    once — a naive MAX-subquery formulation made Spark recompute the
    aggregate branch (column pruning defeats exchange reuse → lineitem
    scanned twice) — then the 1-row MAX broadcasts back as an equality
    filter. One fact scan, NO global window at all (rank()==1 over
    Window.orderBy sorted |suppliers| rows through one task — the frame
    grows linearly with SF; the repo's own argmax-aggregate rule).
    The equality filter keeps ties, and exact decimals compare
    identically in both engines."""
    t = load_tables(spark, sf_dir, register=False)
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).alias("total_rev_dec"))
        .localCheckpoint(eager=True)
    )
    mx = revenue.agg(F.max("total_rev_dec").alias("_mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_rev_dec") == F.col("_mx"))
        .drop("_mx")
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev_dec").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: distinct suppliers per part group, excluding a
    brand/type and suppliers with negative balance (the NOT IN becomes
    a broadcast left_anti join). countDistinct shuffles on the group
    key with partial distinct-aggregation map-side."""
    t = load_tables(spark, sf_dir, register=False)
    part = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad_supp = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated-AVG subquery: weekly revenue that
    would vanish if sub-20%-of-average-quantity orders of one brand
    were dropped. The per-part average is an exact decimal-sum/count
    (double averages are summation-order-dependent across engines) and
    joins back broadcast — the brand filter makes it tiny."""
    t = load_tables(spark, sf_dir, register=False)
    part = t["part"].filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = t["lineitem"].join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)) * 0.2).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


def q20_excess_inventory_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style nested IN: suppliers who moved >350 units of
    'gear' parts in 1996. The inner aggregate (per-supplier quantity of
    matching parts) shuffles on the supplier key and feeds a left_semi
    join; the quantity sum is exact decimal so the >100 cut is
    engine-stable."""
    t = load_tables(spark, sf_dir, register=False)
    gear = t["part"].filter(F.col("p_name").contains("gear")).select("p_partkey")
    busy = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 350)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(busy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style EXISTS/NOT-EXISTS self-join, adapted to this
    schema (no receipt/commit dates): on finalized multi-supplier
    orders, count per supplier how often that supplier was the SOLE
    latest shipper (everyone else was done; this one held the order).
    One (order, supplier) aggregation, then window functions over the
    ORDER-KEY partitioning answer 'how many suppliers', 'who shipped
    last', and 'was the latest unique' in a single shuffle — three
    window expressions sharing one spec reuse one exchange, where the
    aggregate-and-join-back formulation shuffled twice more. Timestamps
    compare exactly, so 'latest' and 'sole' are engine-stable."""
    t = load_tables(spark, sf_dir, register=False)
    final_orders = t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    per_os = (
        t["lineitem"]
        .join(F.broadcast(final_orders), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("supp_last"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "supp_last",
        F.max("supp_last").over(w).alias("order_last"),
        F.count(F.lit(1)).over(w).alias("nsupp"),
    ).withColumn(
        "n_latest",
        F.sum(F.when(F.col("supp_last") == F.col("order_last"), 1).otherwise(0)).over(w),
    )
    waiting = flagged.filter(
        (F.col("supp_last") == F.col("order_last"))
        & (F.col("nsupp") > 1)
        & (F.col("n_latest") == 1)
    )
    return (
        waiting.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(t["supplier"]), F.col("suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
    )


def clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join done scale-safe: for each purchase, count
    the same user's clicks in the preceding hour, then histogram
    purchases by that count.

    A naive range join (c.ts BETWEEN p.ts - 1h AND p.ts) with only the
    user equality would let one hot user's clicks meet all their
    purchases; with no equality at all Spark falls back to
    BroadcastNestedLoopJoin — both die at 100 TB. Here both sides are
    bucketed to the hour and clicks are exploded into (bucket,
    bucket+1), so every candidate pair meets on the (user, bucket)
    EQUI-key exactly once (the 1-hour window spans at most two buckets)
    and the exact range predicate only filters within-bucket pairs. Cost
    is one hash join on uniform keys; the bucket width tunes the
    candidate-set size."""
    t = load_tables(spark, sf_dir, register=False)
    ev = t["events"]
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withColumn("b", F.date_trunc("hour", F.col("p_ts")))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts"))
        .withColumn("b0", F.date_trunc("hour", F.col("c_ts")))
        .withColumn(
            "b", F.explode(F.array(F.col("b0"), F.col("b0") + F.expr("INTERVAL 1 HOUR")))
        )
    )
    counted = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_uid"))
            & (p["b"] == c["b"])
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") < F.col("p_ts")),
            "left_outer",
        )
        .groupBy("p_id")
        .agg(F.count(F.col("c_uid")).alias("clicks_before"))
    )
    return (
        counted.groupBy("clicks_before")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy("clicks_before")
    )


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregation (SURVEY §2.2 "grouping sets" — the
    non-hierarchical shape neither ROLLUP nor CUBE expresses): order
    counts and volume by (segment × status) and (segment × priority)
    in one pass. Catalyst expands the sets with a single Expand node
    over one scan — at 100 TB this is one shuffle, not two queries.

    customer is broadcast into orders before the aggregation."""
    t = load_tables(spark, sf_dir, register=False)
    joined = t["orders"].join(
        F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.groupingSets(
            [["c_mktsegment", "o_orderstatus"], ["c_mktsegment", "o_orderpriority"]],
            "c_mktsegment",
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode + global top-k: whitespace-tokenize documents,
    keep pure [a-z]+ tokens, count, return the 50 most frequent.

    Scale: explode happens executor-side inside whole-stage codegen (no
    Python), the count is a partial-aggregated shuffle on token, and the
    top-k is a TakeOrderedAndProject — no global sort materializes."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["documents"]
        .select(F.explode(word_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(50)
    )


def customer_order_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows (lag) + aggregation: per customer, order count,
    first/last order date, and the exact sum of gaps in days between
    consecutive orders. One shuffle on o_custkey serves both the window
    and the groupBy (same partitioning, Catalyst reuses the exchange)."""
    t = load_tables(spark, sf_dir, register=False)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t["orders"].select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("od").cast("timestamp").alias("first_order"),
            F.max("od").cast("timestamp").alias("last_order"),
            F.sum("gap_days").cast("bigint").alias("sum_gap_days"),
        )
        .filter(F.col("n_orders") >= 2)
        .orderBy("o_custkey")
    )


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: dense (event_type × hour) grid over the
    observed range, hourly counts left-joined in, missing hours as 0.

    The grid is built from two tiny aggregates (global min/max hour,
    distinct types) and `sequence()`-exploded, bounded by hours × types.
    The grid-preserving join broadcasts the COUNTS side: the outer join
    must build the non-preserved side, and post-aggregation the counts
    are just as bounded (≤ hours × types rows). The sole shuffle on the
    fact table is the hourly count itself."""
    t = load_tables(spark, sf_dir, register=False)
    ev = t["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("c_hour"),
        F.col("event_type").alias("c_type"),
    ).agg(F.count(F.lit(1)).alias("c_n"))
    grid = hours.crossJoin(F.broadcast(types))
    return (
        grid.join(
            F.broadcast(counts),
            (F.col("hour") == F.col("c_hour")) & (F.col("event_type") == F.col("c_type")),
            "left_outer",
        )
        .select(
            "event_type",
            "hour",
            F.coalesce(F.col("c_n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
        .orderBy("event_type", "hour")
    )


def approx_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event type, with
    relative standard deviation 2% — the sketch that replaces exact
    COUNT(DISTINCT) at 100 TB: mergeable partial sketches, one shuffle
    of fixed-size state instead of a distinct-expand over every user.
    Approximate by construction -> rows-only driver check (DuckDB's HLL
    implementation would produce different estimates)."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (2-hour windows every hour): each
    event lands in window/slide = 2 overlapping windows. Spark's
    window() expands rows before the aggregation — the same Expand +
    partial-agg shape as grouping sets, one shuffle on (window, type);
    the streaming form is windowed_counts(slide=...) under a watermark."""
    t = load_tables(spark, sf_dir, register=False)
    return (
        t["events"]
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", D186)).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


def events_rolling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour rolling count + exact value sum per event over
    same-type events, as a TWO-PASS bucketed plan.

    A single ``rangeBetween(-3599, 0)`` window partitioned by
    ``event_type`` is the textbook shape but a scale-killer: event_type
    has ~5 distinct values, so at 100× each window partition is 1/5 of
    ALL events sorted on ONE task.  Instead, bucket time into hours —
    the trailing-hour frame ``[sec-3599, sec]`` spans at most the
    current and previous bucket — and decompose per event e in bucket b:

      window(e) = prefix_b(sec_e)                        (pass 1)
                + total_{b-1} - prefix_{b-1}(sec_e-3600) (pass 2)

    Pass 1 is a running prefix windowed by (type, hour-bucket); pass 2
    evaluates the previous bucket's prefix at each event's threshold by
    unioning zero-weight PROBE rows (keyed at sec-3600 into bucket b-1)
    into the same (type, bucket) prefix window.  The range frame treats
    key ties positionally-independently, so a probe at key K yields the
    prefix of all real events with sec <= K — exactly the complement of
    the trailing window, which is open below at sec-3600.  Bucket totals
    are a tiny (types × hours) aggregate, broadcast back.

    Parallelism now scales with types × hours instead of types; no task
    ever sorts more than one type-hour of data.  All sums run on
    DECIMAL, so the decomposition is exact and order-independent."""
    t = load_tables(spark, sf_dir, register=False)
    # ts is TIMESTAMP_NTZ; hop through TIMESTAMP (session tz = UTC) for
    # the epoch-seconds frame key
    sec = F.col("ts").cast("timestamp").cast("long")
    ev = t["events"].select(
        "event_id",
        "event_type",
        sec.alias("sec"),
        _dec("value", D186).alias("val"),
        F.floor(sec / F.lit(3600)).alias("bucket"),
    )
    wb = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("sec")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # pass 1: within-bucket inclusive prefix (every same-bucket earlier
    # event is inside the trailing hour: sec_e - 3599 <= bucket start)
    cur = ev.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(wb).alias("cur_n"),
        F.sum("val").over(wb).alias("cur_sum"),
    )
    # pass 2: zero-weight probes into the PREVIOUS bucket at sec-3600
    dec_null = F.lit(None).cast(D186)
    reals = ev.select(
        "event_type", "bucket", "sec", F.lit(1).alias("w"), "val",
        F.lit(None).cast("long").alias("probe_id"),
    )
    probes = ev.select(
        "event_type",
        (F.col("bucket") - 1).alias("bucket"),
        (F.col("sec") - 3600).alias("sec"),
        F.lit(0).alias("w"),
        dec_null.alias("val"),
        F.col("event_id").alias("probe_id"),
    )
    pre = (
        reals.unionByName(probes)
        .select(
            "event_type", "bucket", "probe_id",
            F.sum("w").over(wb).alias("pre_n"),
            F.sum("val").over(wb).alias("pre_sum"),
        )
        .filter(F.col("probe_id").isNotNull())
    )
    totals = ev.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("tot_n"), F.sum("val").alias("tot_sum")
    )
    zero = F.lit(0).cast(D186)
    prev = (
        pre.join(F.broadcast(totals), ["event_type", "bucket"], "left")
        .select(
            F.col("probe_id").alias("event_id"),
            (F.coalesce("tot_n", F.lit(0)) - F.coalesce("pre_n", F.lit(0))).alias("prev_n"),
            (F.coalesce("tot_sum", zero) - F.coalesce("pre_sum", zero)).alias("prev_sum"),
        )
    )
    return (
        cur.join(prev, "event_id")
        .select(
            "event_id",
            "event_type",
            (F.col("cur_n") + F.col("prev_n")).alias("n_last_hour"),
            (F.col("cur_sum") + F.col("prev_sum")).cast("double").alias("sum_last_hour"),
        )
        .orderBy("event_id")
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the events stream: users who viewed, then
    clicked AFTER their first view, then purchased AFTER their first
    qualifying click — counts per stage plus conversion rates.

    Scale shape: ONE shuffle on ``user_id``. The stage cascade (first
    view -> first later click -> first later purchase) runs as in-row
    array expressions over the per-user event lists (``collect_list``
    skips the nulls the stage filters emit), so there are no self-joins
    and no window over a low-cardinality key. Per-user list size is
    bounded by that user's click/purchase counts — cap upstream if a
    bot-user could exceed task memory. The final stage-count aggregate
    is three scalars cross-joined into one row."""
    ev = load_tables(spark, sf_dir, register=False)["events"]
    t, ts = F.col("event_type"), F.col("ts")
    per_user = (
        ev.filter(t.isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(t == "view", ts)).alias("v_ts"),
            F.collect_list(F.when(t == "click", ts)).alias("cl"),
            F.collect_list(F.when(t == "purchase", ts)).alias("pl"),
        )
        # null v_ts makes the lambda condition NULL -> element dropped ->
        # empty array -> array_min NULL: no view means no counted click
        .withColumn("c_ts", F.array_min(F.filter("cl", lambda x: x > F.col("v_ts"))))
        .withColumn("p_ts", F.array_min(F.filter("pl", lambda x: x > F.col("c_ts"))))
    )
    return per_user.agg(
        F.count("v_ts").alias("n_view_users"),
        F.count("c_ts").alias("n_click_users"),
        F.count("p_ts").alias("n_purchase_users"),
        # nullif guards: an empty stage yields NULL (like the oracle's
        # NULLIF), not a DIVIDE_BY_ZERO abort under Spark 4's ANSI default
        F.round(F.count("c_ts") / F.nullif(F.count("v_ts"), F.lit(0)), 9).alias(
            "view_to_click"
        ),
        F.round(F.count("p_ts") / F.nullif(F.count("c_ts"), F.lit(0)), 9).alias(
            "click_to_purchase"
        ),
    )


def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 10 heaviest ``o_custkey``
    values in orders with their row count, share of all rows, and
    skew factor vs a uniform key (cnt / (total/n_keys)) — the report
    you run BEFORE a 100 TB shuffle join to decide between AQE skew
    handling, salting, or a broadcast of the hot keys.

    Scale shape: per-key counts combine map-side; the global scalars
    (total/n_keys/max) are one tiny aggregate broadcast back; top-k is
    TakeOrderedAndProject (per-partition heap + driver merge of 10
    rows), never a global sort."""
    orders = load_tables(spark, sf_dir, register=False)["orders"]
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    topk = counts.orderBy(F.desc("cnt"), F.col("o_custkey")).limit(10)
    return (
        topk.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 9).alias("share"),
            # cast before multiplying: long*long overflows at ~1e9 rows
            # on a hot key x ~1e10 distinct keys — exactly the rows this
            # report exists to surface
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys") / F.col("total"), 9
            ).alias("skew_x"),
        )
        .orderBy(F.desc("cnt"), F.col("o_custkey"))
    )


def hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic anomaly screen: gap-filled hourly counts per event type
    (zero-filled hours matter — a silent outage IS the anomaly), then
    per-type mean/stddev and the hours whose |z-score| exceeds 3.0.

    Scale shape: reuses the gap-fill plan (fact table shuffles once for
    the hourly count; grid join is broadcast-bounded by hours x types);
    the stats pass aggregates the BOUNDED hourly frame (<= hours x types
    rows), so the second aggregation + broadcast re-join never touches
    the fact table again. Counts are integers, so cross-engine float
    noise enters only via mean/std — z is rounded to 6 before the
    threshold compare."""
    hourly = events_gap_fill(spark, sf_dir)
    stats = hourly.groupBy(F.col("event_type").alias("s_type")).agg(
        F.avg("n_events").alias("m"), F.stddev("n_events").alias("sd")
    )
    # nullif: a type with constant hourly counts has sd=0 (n==m for all
    # its rows, so "no anomaly" is the right answer) — NULL z filters
    # out below instead of DIVIDE_BY_ZERO aborting under ANSI mode
    zscore = F.round(
        (F.col("n_events") - F.col("m")) / F.nullif(F.col("sd"), F.lit(0.0)), 6
    )
    return (
        hourly.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
        .select("event_type", "hour", "n_events", zscore.alias("zscore"))
        .filter(F.abs(F.col("zscore")) > 3.0)
        .orderBy("event_type", "hour")
    )


def cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-snapshot compaction over the events changelog: one row
    per user — their most recent event — with users whose latest event
    is a tombstone ('error' here) dropped entirely. The upsert-compact
    every changelog consumer runs before serving a table.

    Scale shape: ONE shuffle via max(struct(ts, event_id, payload))
    argmax aggregation — map-side partials keep one candidate row per
    key per partition, so a hot key costs its partition count, not its
    row count. Deliberately NOT row_number-over-window: the window form
    sorts every key's full history in one task. (event_id in the struct
    makes ties deterministic.)"""
    ev = load_tables(spark, sf_dir, register=False)["events"]
    latest = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("last")
        )
        .select(
            "user_id",
            F.col("last.ts").alias("ts"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.event_type").alias("event_type"),
            F.col("last.value").alias("value"),
        )
    )
    return latest.filter(F.col("event_type") != "error").orderBy("user_id")


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-aggregate surface per return flag: population/sample
    variance, Pearson correlation, population covariance, and the OLS
    regression line of price on quantity (regr_slope/regr_intercept).

    Scale shape: every one of these is an algebraic aggregate -- a
    fixed-size moment state (n, sum x, sum x^2, sum xy) merged
    map-side, so the plan is one partial+final HashAggregate pair on a
    3-value key regardless of input size. No window, no sort."""
    li = load_tables(spark, sf_dir, register=False)["lineitem"]
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.var_pop(q), 6).alias("var_pop_qty"),
            F.round(F.stddev_samp(q), 6).alias("stddev_qty"),
            F.round(F.corr(q, p), 6).alias("corr_qty_price"),
            F.round(F.covar_pop(q, p), 6).alias("covar_qty_price"),
            F.round(F.regr_slope(p, q), 6).alias("slope_price_on_qty"),
            F.round(F.regr_intercept(p, q), 6).alias("intercept_price_on_qty"),
        )
        .orderBy("l_returnflag")
    )


def orders_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT then UNPIVOT (melt) round trip: per-priority order counts
    spread into one column per status, then folded back to long form
    (o_orderpriority, status, n) -- including the explicit zeros the
    pivot filled in. Exercises DataFrame.unpivot, the inverse of the
    pivot in :func:`orders_pivot_by_status`.

    Scale shape: the wide frame is tiny (priorities x statuses), so the
    unpivot is a driver-free Expand over a handful of rows; the only
    real work is the single count shuffle feeding the pivot."""
    t = load_tables(spark, sf_dir, register=False)
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )
    return (
        wide.unpivot(["o_orderpriority"], ["F", "O", "P"], "status", "n")
        .orderBy("o_orderpriority", "status")
    )


def salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a LOW-cardinality skewed key
    (event_type has ~5 values, so a plain groupBy puts each key's whole
    partial state on one reducer -- fine for counts, fatal for heavy
    per-key state). Phase 1 aggregates on (event_type, salt16) spreading
    each key across 16 reducers; phase 2 merges the 5x16 partials.
    Results are bit-identical to the unsalted plan (sums/counts/max are
    commutative monoids; avg is re-derived from sum/count at the end).

    This is the hand-rolled form of what AQE skew-join does for joins:
    use it when a skewed groupBy key carries big intermediate state
    (collect_list, exact distinct) that map-side partial-agg alone
    cannot bound."""
    ev = load_tables(spark, sf_dir, register=False)["events"]
    salted = ev.groupBy(
        "event_type", F.pmod(F.hash("event_id"), F.lit(16)).alias("salt")
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.count("value").alias("pnv"),  # non-null count: avg() ignores NULLs
        F.sum("value").alias("psum"),
        F.max("value").alias("pmax"),
    )
    return (
        salted.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n_events"),
            F.round(F.sum("psum"), 6).alias("sum_value"),
            F.round(
                F.sum("psum") / F.nullif(F.sum("pnv"), F.lit(0)), 6
            ).alias("avg_value"),
            F.round(F.max("pmax"), 6).alias("max_value"),
        )
        .orderBy("event_type")
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix over the events stream: users grouped by
    first-seen day, activity counted per day offset, retention as the
    share of the cohort still active. The standard growth-analytics
    rollup every product pipeline runs.

    Scale shape: first-seen is a groupBy(user_id) argmin; attaching it
    back is a self equi-join on user_id -- both sides hash-partition on
    the SAME key, so the join reuses the aggregation's exchange rather
    than adding one. The cohort matrix itself is tiny (days x offsets),
    so the closing window that divides by cohort size is a no-risk
    single-stage over an already-aggregated frame."""
    ev = load_tables(spark, sf_dir, register=False)["events"]
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    joined = ev.join(firsts, "user_id").select(
        "user_id",
        "cohort_day",
        F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
            "day_offset"
        ),
    )
    matrix = joined.groupBy("cohort_day", "day_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    w = Window.partitionBy("cohort_day").orderBy("day_offset")
    return (
        matrix.withColumn(
            "retention",
            F.round(
                F.col("n_active").cast("double") / F.first("n_active").over(w), 6
            ),
        )
        .orderBy("cohort_day", "day_offset")
    )


def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window surface: percent_rank, cume_dist, and
    decile NTILE of customer account balance within each market segment,
    summarized per (segment, decile) so the output stays bounded.

    Scale shape: one hash exchange on the segment key serves all three
    window functions (same partitioning + ordering -> a single Window
    operator), then the decile rollup partial-aggregates. Segments are
    few but each partition only sorts its own segment's customers; for
    a truly hot segment the approxQuantile range-shard path
    (curation.quality_shards_approx) is the same answer at scale."""
    cust = load_tables(spark, sf_dir, register=False)["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(10).over(w).alias("decile"),
    )
    return (
        ranked.groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
            F.round(F.min("pr"), 9).alias("min_pct_rank"),
            F.round(F.max("cd"), 9).alias("max_cume_dist"),
        )
        .orderBy("c_mktsegment", "decile")
    )


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top 20 pairs of parts that appear
    together in the most orders, among pairs in at least 2 orders (the
    input to item-item recommenders and association-rule mining).

    Scale shape: NO self-join — per-order baskets come from ONE shuffle
    (groupBy orderkey, collect_set bounded by the schema's <= 7
    lineitems per order) and the C(basket,2) <= 21 pairs per order are
    generated IN-ROW from the sorted basket array, so the pair frame is
    linear in the fact table and never touches a join. The pair count
    map-side combines and the top-k is a TakeOrderedAndProject. For
    unbounded baskets (a crawl session, a cart with thousands of items)
    cap the basket first — an unbounded basket is the quadratic skew
    risk here. The basket frame is cached (three consumers: pairs,
    per-part counts, total), per the cache contract."""
    li = load_tables(spark, sf_dir, register=False)["lineitem"]
    from ._scan import spread

    src = spread(li.select("l_orderkey", "l_partkey"), "l_orderkey")
    baskets = (
        src.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .cache()
    )
    m = F.size("ps")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda i: F.transform(
                F.sequence(i + 1, m),
                lambda j: F.struct(
                    F.element_at("ps", i).alias("part_a"),
                    F.element_at("ps", j).alias("part_b"),
                ),
            ),
        )
    )
    pairs = (
        baskets.filter(m >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.part_a"), F.col("p.part_b"))
    )
    # association-rule denominators: per-part basket counts (broadcast —
    # catalog-sized) and the total basket count (1-row broadcast)
    part_counts = baskets.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("pc"))
    totals = baskets.agg(F.count(F.lit(1)).alias("n_baskets"))
    pa = part_counts.select(F.col("l_partkey").alias("part_a"), F.col("pc").alias("ca"))
    pb = part_counts.select(F.col("l_partkey").alias("part_b"), F.col("pc").alias("cb"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "part_a",
            "part_b",
            "n_orders",
            # confidence(a->b) and lift: the association-rule metrics
            F.round(F.col("n_orders") / F.col("ca"), 6).alias("confidence_ab"),
            F.round(
                F.col("n_orders") * F.col("n_baskets")
                / (F.col("ca").cast("double") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension type-2 build from the events changelog:
    collapse each user's consecutive runs of the same event_type into
    validity intervals (valid_from inclusive, valid_to exclusive, NULL =
    current) — the standard dimension-history table every warehouse
    derives from a change stream.

    Scale shape: gaps-and-islands entirely inside ONE window partition
    pass on user_id (lag to mark run starts, running sum for island
    ids), then a per-(user, island) aggregate that reuses the same hash
    partitioning, and a lead window for interval close — Catalyst plans
    one exchange on user_id for the whole chain. Ties on ts break by
    event_id so reruns are byte-identical."""
    ev = load_tables(spark, sf_dir, register=False)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    ).withColumn("island", F.sum("brk").over(w))
    runs = marked.groupBy("user_id", "island").agg(
        F.first("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "island")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w2))
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
        .orderBy("user_id", "valid_from")
    )


def ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2) of the hourly
    value totals per event type — the smoothing pass a monitoring /
    drift-detection pipeline runs over bucketed metrics.

    The EWMA recurrence is sequential, but truncated at 20 lags it
    is a fixed-window weighted sum: collect the trailing 20 hourly
    values with an ordered window frame (a tiny array — 20 doubles per
    row) and fold ``acc*0.5 + x`` left-to-right with ``F.aggregate``.
    Because alpha is exactly 1/2, every weight is a power of two: the
    products and the normalizing weight sum ``2 - 1/2^(n-1)`` (built
    with an integer shift, not pow()) are exact in IEEE, the fold order
    is pinned by the array, and an ANSI engine's ``list_reduce``
    reproduces the value bit-for-bit.

    Scale shape: one partial-aggregated shuffle to (type, hour) — a
    types × hours frame, tiny relative to the event stream — then a
    per-type ordered window whose state is 20 doubles.  The window
    partitions by type only, but over the BUCKETED frame (each partition
    holds hours-per-type rows, not raw events), so no task ever sorts
    more than the metric series itself."""
    t = load_tables(spark, sf_dir, register=False)
    hourly = (
        t["events"]
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
        )
        .agg(
            # DECIMAL sum: exact and order-independent (same convention
            # as events_hourly), so the fold input is bit-identical
            # across engines and partition orders
            F.sum(F.col("value").cast(D186)).cast("double").alias("hour_value")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-19, Window.currentRow)
    )
    arr = F.collect_list("hour_value").over(w)
    folded = F.aggregate(
        F.col("trail"), F.lit(0.0), lambda acc, x: acc * F.lit(0.5) + x
    )
    # weight sum for n taps = 2 - 1/2^(n-1), via integer shift (exact)
    norm = F.lit(2.0) - F.lit(1.0) / F.expr("shiftleft(1L, size(trail) - 1)")
    return (
        hourly.withColumn("trail", arr)
        .select(
            "event_type",
            "hour",
            "hour_value",
            F.round(folded / norm, 6).alias("ewma"),
        )
        .orderBy("event_type", "hour")
    )


def near_duplicate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry near-duplicate screen (the batch twin of streaming
    dropDuplicatesWithinWatermark): an event is a near-dup when the
    PRECEDING event of the same (user, type) is within 10 minutes.
    Returns per event_type: total, near-dup, and kept counts.

    One lag window per (user, type) key — partitions are per-user
    slices, never global — and the time comparison runs on exact
    integer microseconds (unix_micros == DuckDB epoch_us, verified
    equal on the test data), so the drop set is bit-deterministic."""
    t = load_tables(spark, sf_dir, register=False)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ev = t["events"].select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.col("ts"),
        F.col("event_id"),
        F.col("user_id"),
    )
    flagged = ev.withColumn(
        "is_dup",
        (F.col("us") - F.lag("us").over(w) <= F.lit(10 * 60 * 1_000_000)).cast("long"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).alias("n_near_dup"),
            (F.count(F.lit(1)) - F.coalesce(F.sum("is_dup"), F.lit(0))).alias(
                "n_kept"
            ),
        )
        .orderBy("event_type")
    )


def nearest_order_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event as-of join (kdb ``aj`` has only backward; QuestDB
    and time-series attribution want nearest-in-either-direction): each
    event attributes to its user's temporally closest order, backward
    winning exact-distance ties. Same merge formulation as
    events_asof_latest_order — union both sides, ONE sort per user,
    last()/first() windows carry the flanking orders — so no event ever
    pairs with its user's full order history. Distances compare in
    exact integer microseconds. Returns per order-priority bucket of
    the attributed order: event count and mean |distance| in hours."""
    t = load_tables(spark, sf_dir, register=False)
    ev = t["events"].select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("struct<k:bigint,us:bigint,pr:string>").alias("o"),
    )
    od = t["orders"].select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.expr("unix_micros(cast(o_orderdate as timestamp))").alias("us"),
        F.lit(1).alias("is_order"),
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.expr("unix_micros(cast(o_orderdate as timestamp))").alias("us"),
            F.col("o_orderpriority").alias("pr"),
        ).alias("o"),
    )
    back_w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("us"), F.desc("is_order"), F.asc("o.k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd_w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("us"), F.desc("is_order"), F.asc("o.k"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = (
        ev.unionByName(od)
        .withColumn("back", F.last("o", ignorenulls=True).over(back_w))
        .withColumn("fwd", F.first("o", ignorenulls=True).over(fwd_w))
    )
    back_d = F.col("us") - F.col("back.us")
    fwd_d = F.col("fwd.us") - F.col("us")
    nearest = (
        F.when(F.col("back").isNull(), F.col("fwd"))
        .when(F.col("fwd").isNull(), F.col("back"))
        .when(fwd_d < back_d, F.col("fwd"))
        .otherwise(F.col("back"))  # ties -> backward (the earlier order)
    )
    events_attr = (
        merged.filter(F.col("is_order") == 0)
        .select(
            "event_id",
            nearest.alias("n"),
            F.abs(
                F.when(F.col("back").isNull(), fwd_d)
                .when(F.col("fwd").isNull(), back_d)
                .when(fwd_d < back_d, fwd_d)
                .otherwise(back_d)
            ).alias("dist_us"),
        )
        .filter(F.col("n").isNotNull())
    )
    return (
        events_attr.groupBy(F.col("n.pr").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # distances are ~decades in microseconds: a long SUM
            # overflows at sf0.1 — accumulate in DECIMAL(38,0), exact
            # like DuckDB's HUGEINT sum, and convert ONCE to double
            F.round(
                F.sum(F.col("dist_us").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(3_600_000_000.0),
                6,
            ).alias("mean_dist_hours"),
        )
        .orderBy("o_orderpriority")
    )


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration report: the Herfindahl-Hirschman index of
    supplier shares of shipped value (lineitem extendedprice) per
    nation — the antitrust-style concentration number a procurement
    team watches; 1/n_suppliers for perfect competition, 1.0 for a
    monopoly nation.

    Per-supplier values accumulate ROUND(price, 2) in DECIMAL
    (order-free); each share is one division of two exact decimals and
    HHI sums ≤ suppliers-per-nation squares — a bounded frame with
    sub-ulp cross-engine drift, rounded at 6dp."""
    t = load_tables(spark, sf_dir, register=False)
    # the driver testdata ships no partsupp table; lineitem
    # extendedprice is the supplier-value base (same report shape)
    li = t["lineitem"].join(
        t["supplier"].select("s_suppkey", "s_nationkey"),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    per_supp = li.groupBy("s_nationkey", "l_suppkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice"), 2).cast("decimal(38,6)")
        ).alias("v")
    )
    per_nation = per_supp.groupBy("s_nationkey").agg(
        F.sum("v").alias("tot"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shares = per_supp.join(per_nation, "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        (F.col("v").cast("double") / F.col("tot").cast("double")).alias("sh"),
    )
    return (
        shares.groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.first("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round(F.sum(F.col("sh") * F.col("sh")), 6).alias("hhi"),
        )
        .orderBy("nationkey")
    )
