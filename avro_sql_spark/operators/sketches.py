"""Mergeable-sketch analytics (SURVEY.md §2.2 'Aggregations' — the
fixed-state replacements for unbounded exact operators at 100 TB).

Everything here is a built-in JVM aggregate over Apache DataSketches
states (Spark 4.1): the sketch is a bounded buffer that partial-
aggregates map-side and merges associatively, so the shuffle carries
kilobytes per group regardless of row count — and sketches persist,
so incremental pipelines union yesterday's sketch with today's instead
of rescanning history:

- KLL quantile sketches: rank-error-bounded percentiles, mergeable
  (exact ``percentile`` needs the full value multiset per group).
- Theta sketches: distinct counts that support set ALGEBRA — the
  intersection/difference estimates exact COUNT(DISTINCT) cannot
  provide without a quadratic self-join.
- approx_top_k: heavy hitters with bounded state (exact top-k frequent
  needs a full groupBy over the key universe).

Approximate by construction → driver entries are rows-only; the pytest
suite asserts the published error bounds against exact answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables


def kll_value_quantiles(events: DataFrame) -> DataFrame:
    """Per-key KLL(k = 32768) quantile estimates (p25/p50/p90/p99) of a
    double column. State is O(k log n) per group vs the full multiset an exact
    percentile needs — and two KLL states merge, so per-day sketches
    roll up to per-month without rescanning."""
    sk = F.expr("kll_sketch_agg_double(value, 32768)").alias("sk")
    agg = events.groupBy("event_type").agg(sk, F.count(F.lit(1)).alias("n_rows"))
    q = "kll_sketch_get_quantile_double(sk, array(0.25D, 0.5D, 0.9D, 0.99D))"
    return (
        agg.select(
            "event_type",
            "n_rows",
            F.expr(q).alias("qs"),
        )
        .select(
            "event_type",
            "n_rows",
            F.round(F.col("qs")[0], 4).alias("p25"),
            F.round(F.col("qs")[1], 4).alias("p50"),
            F.round(F.col("qs")[2], 4).alias("p90"),
            F.round(F.col("qs")[3], 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def theta_user_overlap(events: DataFrame) -> DataFrame:
    """Pairwise audience-overlap estimates via theta sketches: one
    sketch per key (single scan), then intersection cardinality for
    every key pair — the set-algebra question exact COUNT(DISTINCT)
    can only answer with a self-join per pair. The pair join here is
    sketch x sketch (bytes), not data x data."""
    sks = events.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk")
    )
    a = sks.select(F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a"))
    b = sks.select(F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b"))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.expr("theta_sketch_estimate(sk_a)").cast("long").alias("est_a"),
            F.expr("theta_sketch_estimate(sk_b)").cast("long").alias("est_b"),
            F.expr(
                "theta_sketch_estimate(theta_intersection(sk_a, sk_b))"
            ).cast("long").alias("est_overlap"),
        )
        .orderBy("type_a", "type_b")
    )


def heavy_users_topk(events: DataFrame) -> DataFrame:
    """approx_top_k heavy hitters (the top 23 users): bounded sketch
    state instead of a full groupBy over the key universe. Returns
    (item, estimated count) rows."""
    top = events.agg(F.expr("approx_top_k(user_id, 23)").alias("t"))
    return (
        top.select(F.explode("t").alias("e"))
        .select(
            F.col("e.item").alias("user_id"),
            F.col("e.count").cast("long").alias("est_count"),
        )
        .orderBy(F.desc("est_count"), "user_id")
    )


def sketch_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability proof as a query: per-type theta sketches unioned
    via theta_union_agg must estimate the same global distinct-user
    count as sketching the whole table directly — the property that
    makes sketch tables incrementally maintainable."""
    ev = load_tables(spark, sf_dir, register=False)["events"]
    per_type = ev.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("sk")
    )
    merged = per_type.agg(
        F.expr("theta_sketch_estimate(theta_union_agg(sk))")
        .cast("long")
        .alias("distinct_users_merged")
    )
    direct = ev.agg(
        F.expr("theta_sketch_estimate(theta_sketch_agg(user_id))")
        .cast("long")
        .alias("distinct_users_direct")
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "distinct_users_merged",
        "distinct_users_direct",
        (F.col("distinct_users_merged") == F.col("distinct_users_direct")).alias(
            "merge_consistent"
        ),
    )


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_expr: str,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Deterministic K-Minimum-Values distinct sketch (Bar-Yossef et
    al. 2002): hash each value to a uniform point in [0, 1), keep the
    k = 64 smallest distinct hashes per group, and estimate the distinct
    count as (k-1) / u_k (the k-th smallest hash). The ORACLE-REPLAYABLE
    twin of the HLL entries: the hash is a 48-bit md5 cut (exact in a
    double, portable across engines), so the estimate is a closed-form
    function of the data — any SQL engine taking the same k smallest
    distinct hashes reproduces it bit-for-bit, which HLL's internal
    register layout never allows.

    Scale shape: two-phase merge. Phase 1 keeps the k smallest per
    (group, input partition); phase 2 merges those partials — the
    shuffle carries at most partitions x k doubles per group, never the
    value universe, and the k-smallest-of-a-set operator is associative
    (the same merge tree any KMV sketch library uses). When a group has
    fewer than k distinct hashes the estimate is their exact count.
    ``value_expr`` is a SQL string (not a Column) so the DuckDB oracle
    can splice the identical text."""
    u_sql = (
        f"CAST(CONV(SUBSTRING(MD5({value_expr}), 1, 12), 16, 10) AS BIGINT)"
        " / CAST(281474976710656 AS DOUBLE)"  # 2^48: u is exact in a double
    )
    src = (
        df.filter(F.expr(value_expr).isNotNull())
        .select(
            *group_cols,
            F.expr(u_sql).alias("u"),
            F.spark_partition_id().alias("_pid"),
        )
    )
    kmin = lambda c: F.slice(F.array_sort(F.collect_set(c)), 1, 64)  # noqa: E731
    part = src.groupBy(*group_cols, "_pid").agg(kmin("u").alias("mins"))
    merged = (
        part.select(*group_cols, F.explode("mins").alias("u"))
        .groupBy(*group_cols)
        .agg(kmin("u").alias("mins"))
    )
    n = F.size("mins")
    est = F.when(
        n >= 64,
        F.round(F.lit(63.0) / F.element_at("mins", 64), 4),
    ).otherwise(F.round(n.cast("double"), 4))
    return merged.select(*group_cols, est.alias(out_col)).orderBy(*group_cols)


def count_min_report(df: DataFrame, key_expr: str) -> DataFrame:
    """Deterministic Count-Min sketch with a heavy-hitter accuracy
    report (Cormode & Muthukrishnan 2005): 4 hash rows of 64 counters
    each; a key's estimate is the MIN of its cells,
    which can only OVER-estimate (collisions add, never subtract) —
    the report makes that one-sided guarantee visible as an
    ``overestimate`` column on the exact top-20 keys.

    The ORACLE-REPLAYABLE member of the frequency-sketch family (the
    KMV/HLL relationship, but for counts): row positions are 48-bit md5
    cuts mod 64 — pure integer arithmetic any SQL engine replays —
    so sketch cells AND estimates match bit-for-bit, which a library
    CM sketch's murmur-seeded layout never allows.

    Scale shape: the sketch is ONE groupBy over in-row (row, pos)
    explosion — 4 x 64 counters total (kilobytes), partial-
    aggregated map-side and mergeable by cell-wise SUM, so incremental
    pipelines union yesterday's sketch with today's. Point queries join
    the candidate keys against the broadcast-sized sketch frame. The
    exact top-20 pass exists only to ground the error report; production
    candidate tracking is approx_top_k's job."""

    def arr_sql(col: str) -> str:
        return (
            "array("
            + ", ".join(
                f"CAST(CONV(SUBSTRING(MD5(CONCAT('{d}:', CAST({col} AS STRING))), 1, 12), 16, 10) AS BIGINT)"
                " % 64"
                for d in range(4)
            )
            + ")"
        )

    src = df.filter(F.expr(key_expr).isNotNull())
    sketch = (
        src.select(F.posexplode(F.expr(arr_sql(key_expr))).alias("d", "pos"))
        .groupBy("d", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        src.groupBy(F.expr(key_expr).alias("key"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("key"))
        .limit(20)
    )
    cand = exact.select(
        "key",
        "exact_n",
        F.posexplode(F.expr(arr_sql("key"))).alias("d", "pos"),
    )
    est = (
        cand.join(F.broadcast(sketch), ["d", "pos"])
        .groupBy("key", "exact_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "key",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
    ).orderBy(F.desc("exact_n"), F.asc("key"))


def join_size_sketch(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
) -> DataFrame:
    """Join-cardinality estimation by Count-Min inner product (4 rows of
    64 counters; Cormode &
    Muthukrishnan 2005 §4.2): |A ⋈ B| with multiplicities equals the
    inner product of the two key-frequency vectors, and the MIN over
    hash rows of Σ_i cmA[d][i]·cmB[d][i] estimates it one-sidedly
    (collisions only ADD) — the cost-based-optimizer primitive that
    sizes a join from two kilobyte sketches instead of scanning either
    side. The report grounds the estimate against the exact inner
    product so the overestimate is visible.

    Scale shape: each sketch is one groupBy over an in-row (row, pos)
    explosion — 4 × 64 counters, map-side combined, mergeable by
    cell-wise SUM; the inner product joins two sketch frames of that
    bounded size on (row, pos). The exact pass (two key-count
    aggregates + one equi-join on the key) exists only to ground the
    report. Positions are the same 48-bit md5 cuts as count_min_report,
    so the DuckDB oracle replays every cell."""
    def positions(df: DataFrame, key: str) -> DataFrame:
        arr = (
            "array("
            + ", ".join(
                f"CAST(CONV(SUBSTRING(MD5(CONCAT('{d}:', CAST(`{key}` AS STRING))), 1, 12), 16, 10) AS BIGINT)"
                " % 64"
                for d in range(4)
            )
            + ")"
        )
        return (
            df.filter(F.col(key).isNotNull())
            .selectExpr(f"posexplode({arr}) AS (d, pos)")
            .groupBy("d", "pos")
            .agg(F.count(F.lit(1)).alias("c"))
        )
    cma = positions(a, a_key)
    cmb = positions(b, b_key)
    est = (
        cma.alias("x")
        .join(cmb.alias("y"), ["d", "pos"])
        .groupBy("d")
        .agg(F.sum(F.col("x.c") * F.col("y.c")).alias("ip"))
        .agg(F.min("ip").alias("est_size"))
    )
    ca = a.filter(F.col(a_key).isNotNull()).groupBy(
        F.col(a_key).alias("k")
    ).agg(F.count(F.lit(1)).alias("na"))
    cb = b.filter(F.col(b_key).isNotNull()).groupBy(
        F.col(b_key).alias("k")
    ).agg(F.count(F.lit(1)).alias("nb"))
    exact = (
        ca.join(cb, "k")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias("exact_size"))
    )
    return exact.crossJoin(est).select(
        F.col("exact_size").cast("bigint").alias("exact_size"),
        F.col("est_size").cast("bigint").alias("est_size"),
        (F.col("est_size") - F.col("exact_size")).cast("bigint").alias("overestimate"),
    )
