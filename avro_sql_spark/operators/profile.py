"""Table profiling (ANALYZE-style column statistics) — the pre-flight
report a pipeline runs before pointing 1000 executors at a new dataset:
null rates, cardinalities, and value ranges per column, from ONE pass
over the data.

Two variants share a plan shape (single scan, one global aggregate with
map-side partials, output unpivoted to a row per column):

- :func:`profile_table` uses EXACT ``count(distinct)`` — the oracle-
  checkable contract, fine up to mid-size tables (each distinct adds an
  Expand pass over the scan output).
- :func:`profile_table_approx` swaps in ``approx_count_distinct`` HLL
  sketches — fixed-size mergeable state per column, the 100 TB path
  (exact multi-column distinct at that scale is several full shuffles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._pins import RoundPins


def _stats_exprs(cols: list[str], approx: bool) -> list:
    out = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        col = F.col(c)
        out.append(F.count(col).alias(f"nn_{c}"))
        if approx:
            out.append(F.approx_count_distinct(col, rsd=0.02).alias(f"nd_{c}"))
        else:
            out.append(F.countDistinct(col).alias(f"nd_{c}"))
        out.append(F.min(col).cast("string").alias(f"mn_{c}"))
        out.append(F.max(col).cast("string").alias(f"mx_{c}"))
    return out


def _unpivot(wide: DataFrame, cols: list[str]) -> DataFrame:
    """One output row per profiled column: stack the flat aggregate via
    an in-row array-of-structs explode (no extra shuffle — the aggregate
    result is a single row)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_value"),
                F.col(f"mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(entries).alias("e"))
        .select("e.*")
        .orderBy("column")
    )


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact per-column profile: (column, n_rows, n_nulls, n_distinct,
    min_value, max_value), one row per column, min/max as strings so
    heterogeneous column types share one output schema."""
    cols = cols or df.columns
    return _unpivot(df.agg(*_stats_exprs(cols, approx=False)), cols)


def profile_table_approx(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """HLL-sketch variant of :func:`profile_table` — one pass, fixed
    aggregation state per column regardless of cardinality."""
    cols = cols or df.columns
    return _unpivot(df.agg(*_stats_exprs(cols, approx=True)), cols)


def expectations_report(
    df: DataFrame, checks: "list[tuple[str, Column]]"
) -> DataFrame:
    """dbt-test-style data-quality expectations in ONE scan: each check
    is (name, boolean Column that is True when the row VIOLATES the
    expectation); the report is one row per check with the violation
    count and rate. Conditional-sum aggregates all fuse into a single
    partial+final pair over a single pass — N checks cost one scan, not
    N scans (the trap naive test runners fall into at 100 TB).
    """
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(cond.cast("long")).alias(f"_v{i}")
            for i, (_, cond) in enumerate(checks)
        ],
    )
    names = F.array(*[F.lit(name) for name, _ in checks])
    viols = F.array(*[F.col(f"_v{i}") for i in range(len(checks))])
    return (
        agg.select(
            F.col("_n"),
            F.posexplode(F.arrays_zip(names.alias("check"), viols.alias("violations"))).alias(
                "idx", "z"
            ),
        )
        .select(
            F.col("z.check").alias("check"),
            F.col("z.violations").alias("n_violations"),
            F.col("_n").alias("n_rows"),
            F.round(F.col("z.violations") / F.col("_n"), 9).alias("violation_rate"),
            (F.col("z.violations") == 0).alias("passed"),
        )
        .orderBy("check")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: "list[str]",
) -> DataFrame:
    """Table-diff between two snapshots: one row per changed key with
    change_type in (added, removed, changed) — the verification step
    after any backfill/migration, and the change feed when no CDC log
    exists. Rows compare on their ``value`` column.

    Scale shape: ONE full-outer join on the key (both sides hash-
    partition on it) comparing a single xxhash64 over the compared
    column — unchanged rows (the overwhelming majority in a real diff)
    are filtered out before anything else happens, so the output is
    proportional to the churn, not the table. Row values are NOT
    carried through the join, only keys + hashes; join the result back
    to either snapshot to materialize changed payloads."""
    h = F.xxhash64(F.coalesce(F.col("value").cast("string"), F.lit("\0")))
    o = old.select(*key_cols, h.alias("h_old"))
    n = new.select(*key_cols, h.alias("h_new"))
    joined = o.join(n, key_cols, "full_outer")
    return (
        joined.withColumn(
            "change_type",
            F.when(F.col("h_old").isNull(), F.lit("added"))
            .when(F.col("h_new").isNull(), F.lit("removed"))
            .when(F.col("h_old") != F.col("h_new"), F.lit("changed")),
        )
        .filter(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: "list[str]",
) -> DataFrame:
    """Batch MERGE (the Delta/Iceberg ``MERGE INTO`` shape on raw
    frames): rows in ``updates`` replace matching ``target`` rows by
    key, unmatched update rows insert, and rows whose ``is_delete`` is
    true are tombstones — the matching target row disappears and the
    tombstone itself is not emitted.

    Scale shape: ONE left_anti join (target keys minus update keys —
    both sides hash-partition on the key, output is the untouched
    majority) unioned with the surviving update rows. No full-outer
    join, no window: the shuffle is keyed and the update side is
    typically the small one. The result is a NEW snapshot frame —
    atomic swap/commit is a table-format feature; on raw directories
    the caller owns the rename (same contract as compact_table)."""
    upd_keys = updates.select(*key_cols)
    survivors = target.join(upd_keys, key_cols, "left_anti")
    incoming = updates.filter(~F.coalesce(F.col("is_delete"), F.lit(False))).drop(
        "is_delete"
    )
    return survivors.unionByName(incoming.select(*target.columns))


def value_histogram(df: DataFrame, val_col: str) -> DataFrame:
    """Equi-width 10-bin histogram of a numeric column per ``event_type``:
    bin edges from the global min/max, counts per bin — the profiling
    primitive behind every distribution dashboard.

    Scale shape: pass 1 is a tiny global min/max aggregate (broadcast
    back as a 1-row cross join); pass 2 buckets each row with pure
    arithmetic and partial-aggregates the counts. Two scans total, no
    sort, no per-row Python; output bounded by groups x 10. (The max
    value lands in the last bin — least() clamps the edge case. NULL
    values are excluded, like any aggregate would; a constant column
    collapses into bin 0 rather than dividing by a zero width.)"""
    v = F.col(val_col).cast("double")
    bounds = df.agg(F.min(v).alias("lo"), F.max(v).alias("hi"))
    width = F.col("hi") - F.col("lo")
    binned = (
        df.filter(F.col(val_col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.least(
                F.lit(9),
                F.when(
                    width > 0, F.floor((v - F.col("lo")) * 10 / width).cast("int")
                ).otherwise(F.lit(0)),
            ).alias("bin"),
            "lo",
            "hi",
        )
    )
    return (
        binned.groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("lo") + F.col("bin") * (F.first("hi") - F.first("lo")) / 10, 6).alias("bin_lo"),
            F.round(F.first("lo") + (F.col("bin") + 1) * (F.first("hi") - F.first("lo")) / 10, 6).alias("bin_hi"),
        )
        .orderBy("event_type", "bin")
    )


def mad_outliers(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """Robust per-group outlier screen via the median absolute deviation:
    a value is an outlier when its modified z-score
    ``0.6745 * |v - median| / MAD`` exceeds 3.5 (the classic
    Iglewicz-Hoaglin threshold). Unlike mean/stddev screens, the median
    and MAD do not move when the outliers themselves are extreme — this
    is the screen to run on raw telemetry BEFORE trusting any
    mean-based statistic. NULL values are excluded throughout (as every
    aggregate would exclude them).

    Scale shape: two grouped EXACT-median aggregates over the fact table
    plus one counting pass; the per-group stats frame (groups × 3
    columns) broadcasts back, so no fact-table join ever shuffles. The
    exact ``median`` is the oracle-checked contract at gate SF; at
    100 TB swap both medians for ``approx_percentile(…, 0.5)`` /
    a t-digest — same plan shape, fixed-size mergeable state, and the
    3.5-sigma decision is insensitive to the approximation error.
    Median and MAD are rounded to 4 decimals BEFORE the
    z-comparison so the boundary decision is bit-identical across
    engines (a last-ulp interpolation difference cannot flip an
    outlier count)."""
    g, v = F.col(group_col), F.col(val_col)
    src = df.filter(v.isNotNull()).select(group_col, val_col)
    med = src.groupBy(group_col).agg(
        F.round(F.median(v), 4).alias("med")
    )
    dev = src.join(F.broadcast(med), group_col).select(
        group_col, val_col, F.abs(v - F.col("med")).alias("adev")
    )
    mad = dev.groupBy(group_col).agg(
        F.round(F.median("adev"), 4).alias("mad")
    )
    stats = med.join(mad, group_col)
    z = F.lit(0.6745) * F.abs(v - F.col("med")) / F.col("mad")
    flagged = src.join(F.broadcast(stats), group_col).select(
        group_col,
        # a zero-MAD group (>= half the values identical) yields NULL z:
        # no value is an outlier by this screen, matching the oracle
        F.when(F.col("mad") > 0, z > 3.5).otherwise(F.lit(False)).alias("is_out"),
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_out").cast("long")).alias("n_outliers"),
            F.round(
                F.sum(F.col("is_out").cast("long")) / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
        )
        .join(F.broadcast(stats), group_col)
        .select(
            group_col,
            "n",
            F.col("med").alias("median_value"),
            "mad",
            "n_outliers",
            "outlier_rate",
        )
        .orderBy(group_col)
    )


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-square independence audit of two categorical columns
    — the statistical check behind "is my corpus mixture balanced?"
    (e.g. language × source: a large statistic means sources have very
    different language profiles, so per-source sampling will shift the
    language mixture).

    One count aggregate builds the contingency cells; row totals,
    column totals, and N are tiny re-aggregates of the CELLS (never a
    second scan) broadcast back onto them. Every per-cell quantity —
    expected = ra*cb/N on exact integer products, the (obs-exp)²/exp
    contribution — is a fixed-order float expression, bit-exact in any
    IEEE engine. The global statistic sums per-cell contributions
    ROUNDED TO 6dp THROUGH DECIMAL(18,6), so the total is exact and
    order-independent too. Output: one row per cell with the repeated
    global statistic."""
    obs = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("obs"))
    rt = obs.groupBy(col_a).agg(F.sum("obs").alias("ra"))
    ct = obs.groupBy(col_b).agg(F.sum("obs").alias("cb"))
    n = obs.agg(F.sum("obs").alias("n"))
    cells = (
        obs.join(F.broadcast(rt), col_a)
        .join(F.broadcast(ct), col_b)
        .crossJoin(F.broadcast(n))
    )
    exp = (F.col("ra") * F.col("cb")).cast("double") / F.col("n").cast("double")
    d = F.col("obs").cast("double") - exp
    contrib = d * d / exp
    cells = cells.select(
        col_a,
        col_b,
        "obs",
        F.round(exp, 4).alias("expected"),
        F.round(contrib, 4).alias("contrib"),
        F.round(contrib, 6).cast("decimal(18,6)").alias("_c6"),
    )
    # the global statistic is a whole-frame window sum over the CELLS
    # frame (cardinality = |A|×|B|, tiny by construction) — one pass,
    # no re-scan of the input through a second aggregate branch
    from pyspark.sql.window import Window

    total = F.sum("_c6").over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        cells.select(
            col_a,
            col_b,
            "obs",
            "expected",
            "contrib",
            F.round(total.cast("double"), 4).alias("chi2_total"),
        )
        .orderBy(col_a, col_b)
    )


def ks_drift(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between two frames'
    ``value_col`` distributions per ``lang`` — the
    distribution-shift audit a training pipeline runs between splits,
    snapshots, or crawl generations before trusting a refreshed corpus.

    D = max over values v of |F_a(v) - F_b(v)| is computed in INTEGER
    arithmetic: with n = |a| and m = |b|, the candidate at each distinct
    v is |cum_a(v)*m - cum_b(v)*n| and D = max_num / (n*m) — one exact
    integer max, one final division, deterministic with no float
    discipline (cross-multiplication, same trick as the Gopher gate).

    Scale shape: values are first aggregated to their DISTINCT domain
    (map-side combined count per (group, value)), so the cumulative
    window runs over the value DOMAIN, not the rows — for doc lengths
    that is thousands of points regardless of corpus size (continuous
    metrics should be bucketed first, e.g. via value_histogram's bins).
    The window partitions by ``lang``, so nothing sorts globally
    unless there is genuinely one language."""
    from pyspark.sql.window import Window

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select("lang", F.col(value_col).alias("v"))
            .groupBy("lang", "v")
            .agg(F.count(F.lit(1)).alias(f"c_{side}"))
        )

    ca, cb = counts(a, "a"), counts(b, "b")
    merged = ca.join(cb, ["lang", "v"], "full_outer").na.fill(
        {"c_a": 0, "c_b": 0}
    )
    part = Window.partitionBy("lang")
    w = part.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # group totals as a second frame over the SAME partitioning (not a
    # join back onto a recomputed count merge — that would duplicate
    # the full-outer branch and its shuffle)
    wall = part.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = merged.select(
        "lang",
        F.sum("c_a").over(w).alias("cum_a"),
        F.sum("c_b").over(w).alias("cum_b"),
        F.sum("c_a").over(wall).alias("n_a"),
        F.sum("c_b").over(wall).alias("n_b"),
    )
    out = (
        cum.groupBy("lang", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("ks_num")
        )
        .select(
            "lang",
            "n_a",
            "n_b",
            "ks_num",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.round(
                    F.col("ks_num").cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double"),
                    6,
                ),
            ).alias("ks_stat"),
        )
    )
    return out.orderBy("lang")


def twopass_median(df: DataFrame) -> DataFrame:
    """EXACT global median of ``value`` (lower median: the ceil(n/2)-th smallest
    value) with NO global sort — the two-pass bucketing scheme every
    warehouse uses for exact percentiles at scale:

    pass 1: one aggregate for (n, min, max);
    pass 2: equal-width bucket counts (<= 1024 rows) + a
      cumulative sum over that BOUNDED frame locates the bucket holding
      the k-th element and the within-bucket offset;
    pass 3: only that bucket's rows are re-read; the offset-th smallest
      among them is the median (sort_array over one bucket — expected
      n/1024 values; a skewed bucket would recurse with a second
      bucketing round, same contract).

    Contrast with ``ORDER BY value LIMIT 1 OFFSET k-1``: that plan
    funnels every row through one sorting task; this one shuffles
    <= 1024 + bucket-m rows total. The answer is a data value, so
    the oracle can state it as the k-th order statistic directly."""
    stats = df.agg(
        F.count("value").alias("n"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )
    # bucket index: same expression shape both engines (bit-exact given
    # identical doubles); max value clamped into the last bucket
    b = (
        df.select(F.col("value").alias("v"))
        .crossJoin(F.broadcast(stats))
        .select(
            "v",
            "n",
            F.when(F.col("mx") > F.col("mn"),
                F.least(
                    F.floor(
                        (F.col("v") - F.col("mn"))
                        / (F.col("mx") - F.col("mn"))
                        * F.lit(1024)
                    ).cast("int"),
                    F.lit(1023),
                ),
            ).otherwise(F.lit(0)).alias("b"),  # degenerate all-equal input
        )
    )
    counts = b.groupBy("n", "b").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    # k = ceil(n/2); the window is over the <= 1024-row counts
    # frame (bounded), not the data
    med_bucket = (
        counts.withColumn("cum_before", F.coalesce(F.sum("c").over(w), F.lit(0)))
        .withColumn("k", F.expr("CAST((n + 1) DIV 2 AS BIGINT)"))
        .filter(
            (F.col("cum_before") < F.col("k"))
            & (F.col("cum_before") + F.col("c") >= F.col("k"))
        )
        .select("b", "k", (F.col("k") - F.col("cum_before")).alias("offset"))
    )
    in_bucket = b.join(F.broadcast(med_bucket), "b").select(
        "n", "k", "offset", "v"
    )
    return (
        in_bucket.groupBy("n", "k", "offset")
        .agg(F.sort_array(F.collect_list("v")).alias("vs"))
        .select(
            F.col("n").alias("n_rows"),
            F.col("k").alias("rank"),
            F.element_at("vs", F.col("offset").cast("int")).alias("median_value"),
        )
    )


def incremental_agg_merge(df: DataFrame) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the base
    partition's aggregate STATE (count / decimal-exact sum / min / max)
    merges with the delta partition's state (the delta is the rows
    whose ``dayofmonth(ts) % 7 == 3``), and the merged result is
    byte-identical to a full recompute — the invariant that lets a
    100 TB pipeline aggregate yesterday's state with today's delta
    instead of rescanning history. The oracle IS the full recompute, so
    the driver's hash check proves merge == recompute.

    Sums accumulate in DECIMAL(38,6) over 6-dp-rounded values: exact
    and ORDER-FREE, so base+delta addition equals the one-pass sum
    regardless of float summation order (the chi2_independence
    pattern)."""
    # a NULL predicate row must not vanish from BOTH partitions (the
    # merge would silently diverge from the full recompute)
    delta_pred = F.coalesce(
        (F.dayofmonth(F.col("ts").cast("timestamp")) % 7) == 3, F.lit(False)
    )
    dec = F.round(F.col("value"), 6).cast("decimal(38,6)")

    def state(part: DataFrame) -> DataFrame:
        return part.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = state(df.filter(~delta_pred))
    delta = state(df.filter(delta_pred))
    merged = (
        base.alias("b")
        .join(delta.alias("d"), "event_type", "full_outer")
        .select(
            F.col("event_type"),
            (F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias(
                "n_events"
            ),
            (
                F.coalesce(F.col("b.s"), F.lit(0).cast("decimal(38,6)"))
                + F.coalesce(F.col("d.s"), F.lit(0).cast("decimal(38,6)"))
            ).alias("s"),
            F.least(F.col("b.mn"), F.col("d.mn")).alias("mn0"),
            F.greatest(F.col("b.mx"), F.col("d.mx")).alias("mx0"),
        )
    )
    return merged.select(
        "event_type",
        "n_events",
        F.round(F.col("s").cast("double"), 4).alias("total_value"),
        F.col("mn0").alias("min_value"),
        F.col("mx0").alias("max_value"),
    ).orderBy("event_type")


def grouped_winsorized_stats(df: DataFrame) -> DataFrame:
    """Per-group winsorized statistics with EXACT order-statistic
    thresholds and NO per-group sort: the robust-mean step every metrics
    pipeline runs before alerting on heavy-tailed values.

    The clamp points are the ceil(p·n/100)-th smallest values per group
    (integer rank arithmetic — never percentile interpolation, whose
    float lerp differs across engines). They are found by the same
    two-pass bucketing as :func:`twopass_median`, generalized per group
    and per target rank: one aggregate for (n, min, max) per group;
    equal-width bucket counts — a bounded (groups × buckets)-row frame
    — with a cumulative window ON THAT FRAME locating each rank's
    bucket and offset; then only the target buckets' rows are re-read
    and the offset-th smallest inside each is selected by a rank window
    scoped to the bucket (a spillable task sort of ~n_group/buckets
    rows — 1024x smaller than the group). A naive
    ``row_number().over(partitionBy(group).orderBy(value))`` funnels
    each group through ONE sorting task — billions of rows per group at
    100 TB; here the largest single-task unit is one bucket, and the
    bucketing recurses mechanically if even that is too large.

    The winsorized mean accumulates ROUND(clamped, 6) in DECIMAL(38,6)
    — exact and order-free (the incremental_agg_merge pattern), so the
    oracle's independent accumulation hashes identically. Clamp counts
    use strict inequality (values AT the threshold are kept as-is)."""
    src = df.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"), F.col("value").alias("v")
    )
    stats = src.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    b = src.join(F.broadcast(stats), "g").select(
        "g",
        "v",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * F.lit(1024)
                ).cast("int"),
                F.lit(1023),
            ),
        )
        .otherwise(F.lit(0))
        .alias("b"),
    )
    counts = b.groupBy("g", "b").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = counts.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    # two target ranks per group: ceil(p*n/100) as pure integers
    ks = stats.select(
        "g",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lo").alias("which"),
                    F.expr("CAST((n * 5 + 99) DIV 100 AS BIGINT)").alias("k"),
                ),
                F.struct(
                    F.lit("hi").alias("which"),
                    F.expr("CAST((n * 95 + 99) DIV 100 AS BIGINT)").alias("k"),
                ),
            )
        ).alias("t"),
    ).select("g", F.col("t.which").alias("which"), F.col("t.k").alias("k"))
    target = (
        cum.join(F.broadcast(ks), "g")
        .filter(
            (F.col("cum_before") < F.col("k"))
            & (F.col("cum_before") + F.col("c") >= F.col("k"))
        )
        .select(
            "g", "b", "which", (F.col("k") - F.col("cum_before")).alias("off")
        )
    )
    # the off-th smallest inside each target bucket via a rank window
    # RESTRICTED to that bucket: the sort is a normal spillable task
    # sort with O(1) state per row — NOT collect_list, which would
    # materialize the whole bucket (~n_group/buckets values) as one
    # in-memory array row. Ties in v permute only equal values, so the
    # off-th smallest is deterministic either way. At extreme group
    # sizes (bucket >> task memory) recurse the bucketing one more
    # level before this step; a 1024-way split already leaves ~1e6 rows
    # per bucket at 1e9 rows/group — a routine sort task.
    th_vals = (
        b.join(F.broadcast(target), ["g", "b"])
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("g", "b", "which").orderBy("v")
            ),
        )
        .filter(F.col("_rn") == F.col("off"))
        .select("g", "which", F.col("v").alias("tv"))
    )
    th = th_vals.groupBy("g").pivot("which", ["lo", "hi"]).agg(F.first("tv"))
    clamped = src.join(F.broadcast(th), "g").select(
        "g",
        "v",
        F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")).alias("cv"),
        "lo",
        "hi",
    )
    return (
        clamped.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.first("lo").alias("p_lo"),
            F.first("hi").alias("p_hi"),
            F.sum((F.col("v") < F.col("lo")).cast("bigint")).alias("n_clamped_lo"),
            F.sum((F.col("v") > F.col("hi")).cast("bigint")).alias("n_clamped_hi"),
            F.sum(F.round(F.col("cv"), 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("_sum"),
        )
        .select(
            F.col("g").alias("event_type"),
            "n_values",
            "p_lo",
            "p_hi",
            "n_clamped_lo",
            "n_clamped_hi",
            F.round(F.col("_sum") / F.col("n_values"), 6).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


def pareto_concentration(df: DataFrame) -> DataFrame:
    """Value-concentration (Lorenz/Pareto) report: what share of total
    value do the top p% of keys hold, for each p — the 'whales' table
    behind capacity planning, abuse triage, and revenue analysis.

    Exactness: per-key totals and the grand total accumulate
    ROUND(value, 6) in DECIMAL(38,6) (order-free); ranks come from
    :func:`~avro_sql_spark.operators.curation.global_rank` (two-pass
    range-partitioned — no single-task sort over the key universe);
    the top-k cutoffs are pure integer ceil arithmetic; and each share
    is ONE division of two exactly-accumulated decimals. The final
    aggregate computes every percentile's conditional sum in a single
    pass — no per-threshold rescan."""
    from .curation import global_rank

    totals = (
        df.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value"), 6).cast("decimal(38,6)")
            ).alias("td")
        )
    )
    ranked = global_rank(totals, [F.desc("td"), F.asc("user_id")], rank_col="rk")
    scalars = totals.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("td").alias("grand"),
    )
    conds = ranked.crossJoin(F.broadcast(scalars)).agg(
        F.first("n").alias("n"),
        F.first("grand").alias("grand"),
        *[
            F.sum(
                F.when(
                    F.col("rk") * 100 <= F.col("n") * p + 99, F.col("td")
                ).otherwise(F.lit(0).cast("decimal(38,6)"))
            ).alias(f"top_{p}")
            for p in (1, 5, 10, 25, 50)
        ],
    )
    stacked = conds.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("int").alias("pct"),
                        F.expr(f"CAST((n * {p} + 99) DIV 100 AS BIGINT)").alias(
                            "top_keys"
                        ),
                        F.round(
                            F.col(f"top_{p}").cast("double")
                            / F.col("grand").cast("double"),
                            6,
                        ).alias("value_share"),
                    )
                    for p in (1, 5, 10, 25, 50)
                ]
            )
        ).alias("t")
    )
    return stacked.select("t.pct", "t.top_keys", "t.value_share").orderBy("pct")


def fano_burstiness(df: DataFrame) -> DataFrame:
    """Burstiness (Fano factor = variance/mean of per-hour counts) per
    group: 1 for a Poisson arrival process, >1 for bursty traffic — the
    dispersion diagnostic behind rate-limiter sizing and anomaly
    thresholds. Hours with zero events are NOT imputed (observed-hours
    convention; the gap-filled twin is ``hourly_anomalies``).

    Everything up to the final divisions is exact integer arithmetic
    (hour bucket counts, Σc, Σc²) over a frame bounded by
    groups × hours; variance uses the one-pass identity
    (Σc² − (Σc)²/n)/(n−1) with the identical expression on the oracle
    side, so the doubles agree bit-for-bit."""
    h = F.date_trunc("hour", F.col("ts")).alias("h")
    counts = df.groupBy(F.col("event_type"), h).agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n = F.col("n_hours").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return (
        agg.filter(F.col("n_hours") >= 2)
        .select(
            "event_type",
            "n_hours",
            F.round(mean, 6).alias("mean_per_hour"),
            F.round(var, 6).alias("var_per_hour"),
            F.round(var / mean, 6).alias("fano"),
        )
        .orderBy("event_type")
    )


def incremental_join_agg(
    orders: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """Incremental JOIN maintenance proof — the join-side companion of
    :func:`incremental_agg_merge`: with each side split into a base
    partition and a delta partition, the joined aggregate is rebuilt
    from the FOUR delta-decomposition joins

        A_old⋈B_old ∪ A_old⋈B_new ∪ A_new⋈B_old ∪ A_new⋈B_new

    and must be byte-identical to the full-recompute join (the oracle).
    This is the algebra an incremental view-maintenance engine applies
    so yesterday's A_old⋈B_old materialization never re-joins — only
    the three delta terms run per batch, each bounded by a delta side.

    Splits are deterministic NON-KEY attributes (order id parity /
    nation parity — splitting on the join key would leave cross terms
    structurally empty and prove nothing); every term is a keyed
    equi-join (hash-partitioned both sides); per-segment revenue
    accumulates ROUND(price, 2) in DECIMAL(38,6) so the four-way union
    sums order-free."""
    o_old = orders.filter(F.col("o_orderkey") % 2 == 0)
    o_new = orders.filter(F.col("o_orderkey") % 2 == 1)
    c_old = customer.filter(F.col("c_nationkey") % 2 == 0)
    c_new = customer.filter(F.col("c_nationkey") % 2 == 1)
    terms = []
    for o_part, c_part in (
        (o_old, c_old), (o_old, c_new), (o_new, c_old), (o_new, c_new)
    ):
        terms.append(
            o_part.select("o_custkey", "o_totalprice").join(
                c_part.select("c_custkey", "c_mktsegment"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
        )
    unioned = terms[0]
    for t in terms[1:]:
        unioned = unioned.unionByName(t)
    return (
        unioned.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(
                    F.round(F.col("o_totalprice"), 2).cast("decimal(38,6)")
                ).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def cusum_drift(df: DataFrame) -> DataFrame:
    """CUSUM drift series per group (Page 1954, the no-reset form):
    hourly event counts minus the group's mean hourly count, cumulated
    in hour order — a sustained rate shift shows as a monotone ramp
    long before any single hour trips a z-score gate (the complement of
    ``hourly_anomalies``' pointwise test).

    Exactness: hourly counts and totals are integers; the mean is ONE
    double division; each deviation is one subtraction; and the running
    sum's fold order is pinned by the hour ordering, so both engines
    fold the identical sequence. The window partitions by group over a
    frame bounded by groups × hours — aggregate-sized, never
    row-sized."""
    h = F.date_trunc("hour", F.col("ts")).alias("h")
    counts = df.groupBy(F.col("event_type"), h).agg(F.count(F.lit(1)).alias("c"))
    per = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"), F.sum("c").alias("tot")
    )
    dev = counts.join(F.broadcast(per), "event_type").select(
        "event_type",
        "h",
        "c",
        (F.col("c") - F.col("tot").cast("double") / F.col("nh")).alias("dev"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dev.select(
        "event_type",
        "h",
        "c",
        F.round(F.sum("dev").over(w), 6).alias("cusum"),
    ).orderBy("event_type", "h")


def seasonal_naive_backtest(df: DataFrame) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict hour h =
    actual at h − period) over hourly event counts — the baseline every
    capacity-planning model must beat, and the standard sanity row in a
    forecast-evaluation table. Reports per group: prediction count,
    MAE, MAPE, and mean bias.

    The period shift is an exact TIMESTAMP equi-join (h = h' + period)
    on the bounded groups × hours count frame — not a row-offset lag,
    which would silently mis-shift across gap hours. Errors are integer
    differences; MAE/bias are integer sums over one division; MAPE
    averages per-row rationals (rounded at 6dp, same convention as the
    LM scorers)."""
    h = F.date_trunc("hour", F.col("ts")).alias("h")
    # the groups x hours count frame feeds both join sides; a bounded
    # internal frame the caller never receives, so localCheckpoint
    # (eager) per the markov_stationary convention — cache() here would
    # leak session storage on every invocation (the caller has no
    # handle to unpersist)
    counts = (
        df.groupBy(F.col("event_type").alias("g"), h)
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    base = counts.select(
        F.col("g"),
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("c").alias("pred"),
    )
    joined = counts.join(base, ["g", "h"])
    d = F.col("c") - F.col("pred")
    return (
        joined.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_predictions"),
            F.round(F.sum(F.abs(d)) / F.count(F.lit(1)), 6).alias("mae"),
            F.round(F.avg(F.abs(d).cast("double") / F.col("c")), 6).alias("mape"),
            F.round(F.sum(F.col("pred") - F.col("c")) / F.count(F.lit(1)), 6).alias("bias"),
        )
        .select(
            F.col("g").alias("event_type"), "n_predictions", "mae", "mape", "bias"
        )
        .orderBy("event_type")
    )


def dataset_card(docs: DataFrame) -> DataFrame:
    """One-row dataset datasheet (Gebru et al. 2018, "Datasheets for
    Datasets"): corpus size, source/language spread, token volume,
    exact-duplicate rate, and Gopher quality-gate pass rate — the
    header table of every corpus release, from ONE aggregate pass.

    Composes the repo's shared primitives (word_tokens tokenizer,
    normalized-md5 fingerprint, gopher_pass gate) so the card can never
    drift from the operators it summarizes. The distinct counts are
    exact (the contract of profile_table; swap approx_count_distinct in
    at extreme cardinalities — profile_table_approx's trade)."""
    from ..functions.text import fingerprint, gopher_pass, word_tokens

    t = F.col("text")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.size(word_tokens(t))).alias("n_tokens"),
        F.countDistinct(fingerprint(t)).alias("n_distinct_docs"),
        F.sum(gopher_pass(t).cast("long")).alias("n_gopher_pass"),
    )
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("n_tokens") / F.col("n_docs"), 6).alias("mean_doc_tokens"),
        "n_distinct_docs",
        F.round(
            F.lit(1.0) - F.col("n_distinct_docs") / F.col("n_docs"), 6
        ).alias("dup_rate"),
        F.round(F.col("n_gopher_pass") / F.col("n_docs"), 6).alias(
            "gopher_pass_rate"
        ),
    )


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Equi-DEPTH histogram with B = 16 buckets (the optimizer-statistics
    twin of the equi-width ``value_histogram``): bucket b holds ranks
    ceil(n·(b−1)/B) < r ≤ ceil(n·b/B), so counts are within-1 equal by
    construction and the boundaries are exact ORDER STATISTICS — data
    values, never interpolation floats. The histogram selectivity
    estimators and range-partitioners actually want.

    Rank comes from the two-pass range-partitioned
    :func:`~avro_sql_spark.operators.curation.global_rank` (total order
    via the tiebreak key — equal values may split across buckets, which
    is the equi-depth contract), so no single task sorts the table; the
    per-bucket rollup is a bounded 16-row frame."""
    from .curation import global_rank

    src = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("v"), F.col(tiebreak_col).alias("tb")
    )
    ranked = global_rank(src, [F.asc("v"), F.asc("tb")], rank_col="rk")
    n = src.agg(F.count(F.lit(1)).alias("n"))
    b = ranked.crossJoin(F.broadcast(n)).select(
        "v",
        F.expr("CAST((rk * 16 + n - 1) DIV n AS INT)").alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .orderBy("bucket")
    )


def disorder_audit(df: DataFrame) -> DataFrame:
    """Out-of-orderness audit over an event stream: within each group,
    walk events in ARRIVAL order (the ingestion-assigned ``arrival``)
    and flag rows whose event time is behind the running event-time
    maximum — the empirical basis for choosing a Structured Streaming
    watermark delay (max_lateness_s is exactly the delay that would
    have dropped nothing).

    One lag-style running-max window per group (hash-partitioned,
    per-group state only), then a bounded per-group rollup; lateness is
    exact integer microseconds scaled to whole seconds by FLOOR, so
    every output cell is integer arithmetic."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("arrival")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = df.select(
        F.col("event_type"),
        F.col("ts").alias("t"),
        F.max("ts").over(w).alias("hwm"),
    )
    late = F.col("hwm").isNotNull() & (F.col("t") < F.col("hwm"))
    lateness_s = F.when(
        late,
        F.floor(
            (
                F.unix_micros(F.col("hwm").cast("timestamp"))
                - F.unix_micros(F.col("t").cast("timestamp"))
            )
            / 1_000_000
        ),
    ).otherwise(F.lit(0))
    return (
        marked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(late.cast("bigint")).alias("n_late"),
            F.max(lateness_s).cast("bigint").alias("max_lateness_s"),
            F.round(
                F.sum(late.cast("bigint")) / F.count(F.lit(1)), 6
            ).alias("late_frac"),
        )
        .orderBy("event_type")
    )


def interarrival_stats(df: DataFrame) -> DataFrame:
    """Inter-arrival time distribution per group: mean gap and
    coefficient of variation over consecutive event-time differences —
    CV ≈ 1 is the Poisson signature, CV > 1 bursty, CV < 1 regular.
    With :func:`fano_burstiness` (count dispersion) this pins down the
    arrival process well enough to size rate limiters and queues.

    Exactness & scale: gaps are exact integer MICROSECONDS from one lag
    window per group (hash-partitioned, per-group state only); Σd
    and Σd² accumulate in DECIMAL (d² on a day-long gap is ~10²⁰ and
    overflows BIGINT — the overflow trap every naive variance-of-
    micros hits); the mean/CV finish is a handful of scalar double ops
    on the bounded per-group frame, rounded at 6dp."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        df.select(
            F.col("event_type"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
            ).alias("d"),
        )
        .filter(F.col("d").isNotNull())
    )
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("d").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (F.col("d").cast("decimal(19,0)") * F.col("d")).cast("decimal(38,0)")
        ).alias("s2"),
    )
    n = F.col("n_gaps").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean_us = s1 / n
    var_us = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return (
        agg.filter(F.col("n_gaps") >= 2)
        .select(
            "event_type",
            "n_gaps",
            F.round(mean_us / F.lit(1_000_000.0), 6).alias("mean_gap_s"),
            F.round(F.sqrt(var_us) / mean_us, 6).alias("cv"),
        )
        .orderBy("event_type")
    )


def user_entropy(df: DataFrame) -> DataFrame:
    """Behavioral diversity per key: Shannon entropy (nats) of the
    category distribution — 0 for single-action bots, ln(k) for
    uniform explorers. The segmentation feature that separates
    scripted traffic from organic use, and the per-user counterpart of
    the corpus-level char_entropy.

    Computed as ln(n) − (Σ c·ln c)/n from exact integer counts (the
    algebraic form avoids per-row divisions inside the sum); the inner
    aggregate is bounded by keys × categories, the outer by keys. The
    ≤category-count float terms per key drift sub-ulp across engines —
    absorbed by the 6dp round."""
    counts = df.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    per = counts.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("clc"),
    )
    ent = F.log(F.col("n").cast("double")) - F.col("clc") / F.col("n")
    return per.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(ent, 6).alias("entropy"),
    ).orderBy("user_id")


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit: observed leading-digit shares
    of a value column against the log10(1+1/d) expectation, with the
    per-digit chi-square contribution — the fraud/fabrication screen
    auditors run on monetary columns (organic multiplicative data obeys
    Benford; invented numbers rarely do).

    The digit comes from the STRING of floor(value) (values < 1
    excluded) — never floor(log10): the float log at exact powers of
    ten is the classic off-by-one-digit boundary bug. Integer counts,
    one aggregate bounded by 9 rows; the expectation uses LN(1+1/d)/LN(10)
    so both engines call the same libm op."""
    src = df.filter(F.col(value_col) >= 1)
    digit = F.substring(
        F.floor(F.col(value_col)).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = src.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = src.agg(F.count(F.lit(1)).alias("n"))
    dd = F.col("digit").cast("double")
    exp_frac = F.log(F.lit(1.0) + F.lit(1.0) / dd) / F.log(F.lit(10.0))
    expected = exp_frac * F.col("n")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("n"), 6).alias("obs_frac"),
            F.round(exp_frac, 6).alias("benford_frac"),
            F.round(
                (F.col("n_obs") - expected) * (F.col("n_obs") - expected)
                / expected,
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def gini_coefficient(df: DataFrame) -> DataFrame:
    """Gini coefficient of per-key value totals — the single-number
    integral of :func:`pareto_concentration`'s Lorenz curve:
    G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over values sorted ascending.
    0 = perfect equality, →1 = one whale holds everything.

    Totals are DECIMAL-exact; the sort rank is the two-pass
    range-partitioned global rank (total order via the key tiebreak);
    Σ i·xᵢ accumulates rank×ROUND(total,6) in DECIMAL — order-free —
    and the finish is three scalar double ops, rounded at 6dp."""
    from .curation import global_rank

    totals = (
        df.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias("td")
        )
    )
    ranked = global_rank(totals, [F.asc("td"), F.asc("user_id")], rank_col="rk")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("td").alias("sx"),
        F.sum((F.col("rk").cast("decimal(19,0)") * F.col("td")).cast("decimal(38,6)")).alias("six"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    six = F.col("six").cast("double")
    gini = F.lit(2.0) * six / (n * sx) - (n + F.lit(1.0)) / n
    return s.select(
        F.col("n").cast("bigint").alias("n_keys"),
        F.round(gini, 6).alias("gini"),
    )


def kaplan_meier(df: DataFrame) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-conversion: each user
    who signs up either converts after d seconds (an event) or is
    censored at their last observed activity — the estimator that uses
    censored users correctly instead of dropping them (the mistake a
    plain AVG(time-to-convert) makes). S(t) steps down by (1 − dᵢ/nᵢ)
    at each distinct event time.

    Scale shape: one per-user aggregate builds (duration, is_event);
    the curve lives on the DISTINCT-event-time frame (bounded by
    conversion times, not users): a cumulative window over that frame
    computes the at-risk counts, and the survival product replays as
    exp(Σ ln(1−d/n)) — the identical libm composition on both engines,
    ordered by time, rounded at 6dp."""
    per_user = (
        df.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ts"))
            ).alias("t0"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("tc"),
            F.max(F.col("ts")).alias("tlast"),
        )
        .filter(F.col("t0").isNotNull())
        .filter(
            F.col("tc").isNull() | (F.col("tc") >= F.col("t0"))
        )
    )
    dur_us = F.when(
        F.col("tc").isNotNull(),
        F.unix_micros(F.col("tc").cast("timestamp"))
        - F.unix_micros(F.col("t0").cast("timestamp")),
    ).otherwise(
        F.unix_micros(F.col("tlast").cast("timestamp"))
        - F.unix_micros(F.col("t0").cast("timestamp"))
    )
    obs = per_user.select(
        F.floor(dur_us / 1_000_000).cast("bigint").alias("d_s"),
        F.col("tc").isNotNull().cast("int").alias("ev"),
    )
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    times = (
        obs.groupBy("d_s")
        .agg(
            F.sum("ev").alias("d"),
            F.count(F.lit(1)).alias("leaving"),
        )
        .filter(F.col("d") > 0)
    )
    # at risk at time t: everyone whose (event or censor) time >= t —
    # total minus all who left strictly before; computed with ONE
    # cumulative window over the bounded distinct-time frame joined to
    # the per-time leaving counts (censor times included via a union)
    leaves = (
        obs.groupBy("d_s").agg(F.count(F.lit(1)).alias("l"))
    )
    w = Window.orderBy("d_s").rowsBetween(Window.unboundedPreceding, -1)
    risk = leaves.withColumn(
        "left_before", F.coalesce(F.sum("l").over(w), F.lit(0))
    ).select("d_s", "left_before")
    curve = (
        times.join(risk, "d_s")
        .crossJoin(F.broadcast(total))
        .select(
            "d_s",
            "d",
            (F.col("n_total") - F.col("left_before")).alias("n_risk"),
        )
    )
    ws = Window.orderBy("d_s").rowsBetween(Window.unboundedPreceding, 0)
    # the final step can have d == n_risk (everyone left converts):
    # ln(0) is an error in DuckDB and a NULL Spark's SUM would silently
    # skip — the floor clamp makes the product collapse to exactly 0
    # after rounding, identically on both engines
    term = F.greatest(
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double"),
        F.lit(1e-300),
    )
    surv = F.exp(F.sum(F.log(term)).over(ws))
    return curve.select(
        F.col("d_s").alias("t_seconds"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.round(surv, 6).alias("survival"),
    ).orderBy("t_seconds")


def weekday_hour_profile(df: DataFrame) -> DataFrame:
    """Activity calendar: event share per (weekday, hour-of-day) cell —
    the 7×24 heatmap behind maintenance-window picking and bot
    detection (organic traffic has a diurnal/weekly shape; scripted
    traffic is flat).

    The weekday comes from explicit epoch-day arithmetic,
    (days_since_1970 + 4) % 7 with 0 = Sunday — engine conventions for
    DAYOFWEEK disagree (Spark is 1-based Sunday, DuckDB 0-based), and
    the formula sidesteps both. One aggregate bounded by 168 cells;
    share is one division of exact integers."""
    days = F.datediff(F.to_date(F.col("ts")), F.lit("1970-01-01"))
    dow = ((days + 4) % 7).cast("int")
    hr = F.hour(F.col("ts")).cast("int")
    cells = df.groupBy(dow.alias("weekday"), hr.alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    total = df.agg(F.count(F.lit(1)).alias("n"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            "weekday",
            "hour",
            "n_events",
            F.round(F.col("n_events") / F.col("n"), 6).alias("share"),
        )
        .orderBy("weekday", "hour")
    )


def mutual_information_report(df: DataFrame) -> DataFrame:
    """Mutual information between ``event_type`` and the weekday of
    ``ts`` — the feature-selection / drift measurement (how much does
    knowing the weekday tell you about the event mix?) reported with its
    companion entropies: one row (n, h_x, h_y, h_xy, mi_nats,
    mi_normalized), where mi_normalized = MI / min(H(X), H(Y)) is in
    [0, 1].

    Shape: ONE groupBy on the (x, y) cell — the marginals are exact
    integer sums over the bounded |X|x|Y| cell frame (never a second
    data scan), and every entropy is assembled from Σ c·ln(c) terms:
    each term is rounded and accumulated in DECIMAL(38,6), so the sums
    are order-free and DuckDB replays them exactly. H via the identity
    H = ln(n) - (Σ c ln c)/n (user_entropy's device); MI =
    H(X) + H(Y) - H(X,Y)."""
    cells = (
        df.groupBy(F.col("event_type").alias("x"), F.dayofweek("ts").alias("y"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # bounded |X|x|Y| frame, 3 consumers
    )
    clc = F.round(
        F.col("c").cast("double") * F.log(F.col("c").cast("double")), 6
    ).cast("decimal(38,6)")

    def h_of(grouped: DataFrame) -> DataFrame:
        return grouped.agg(
            F.sum("c").alias("n"), F.sum(clc).alias("sclc")
        )

    hx = h_of(cells.groupBy("x").agg(F.sum("c").alias("c")).groupBy())
    hy = h_of(cells.groupBy("y").agg(F.sum("c").alias("c")).groupBy())
    hxy = h_of(cells.groupBy())
    ent = lambda n, s: F.log(n.cast("double")) - s.cast("double") / n  # noqa: E731
    joined = (
        hxy.select(
            F.col("n"), ent(F.col("n"), F.col("sclc")).alias("h_xy")
        )
        .crossJoin(hx.select(ent(F.col("n"), F.col("sclc")).alias("h_x")))
        .crossJoin(hy.select(ent(F.col("n"), F.col("sclc")).alias("h_y")))
    )
    mi = F.col("h_x") + F.col("h_y") - F.col("h_xy")
    return joined.select(
        F.col("n").cast("bigint").alias("n"),
        (F.round(F.col("h_x"), 6) + F.lit(0.0)).alias("h_x"),
        (F.round(F.col("h_y"), 6) + F.lit(0.0)).alias("h_y"),
        (F.round(F.col("h_xy"), 6) + F.lit(0.0)).alias("h_xy"),
        (F.round(mi, 6) + F.lit(0.0)).alias("mi_nats"),
        (F.round(mi / F.least(F.col("h_x"), F.col("h_y")), 6) + F.lit(0.0)).alias(
            "mi_normalized"
        ),
    )


def cuped_adjusted_lift(events: DataFrame) -> DataFrame:
    """CUPED variance-reduced A/B lift (Deng et al. 2013, "Improving the
    Sensitivity of Online Controlled Experiments by Utilizing
    Pre-Experiment Data"): per-user PRE-period activity (events before
    2024-01-16) is the control covariate for the POST-period metric;
    theta = cov(X, Y)/var(X) pooled over both arms, each user's
    adjusted metric is y - theta*(x - mean(x)), and the reported lift
    is the difference of adjusted arm means with the variance-reduction
    factor (1 - rho^2).

    Arms are a deterministic md5 lottery on user_id (hash_unit — the
    engine-portable assignment every split/sample op here uses). All
    moments are EXACT integer sums (counts per user per period), so
    theta/rho/lift are closed-form double arithmetic on identical
    integers in both engines; outputs rounded at 6dp and -0.0-normalized
    (lift and theta can be tiny negatives)."""
    from .curation import hash_unit

    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    per_user = (
        events.groupBy("user_id")
        .agg(
            F.sum((F.col("ts") < cut).cast("long")).alias("x"),
            F.sum((F.col("ts") >= cut).cast("long")).alias("y"),
        )
        .withColumn(
            "arm",
            F.when(hash_unit(F.col("user_id"), "cuped") < 0.5, "A").otherwise(
                "B"
            ),
        )
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov = F.col("sxy").cast("double") / nd - (
        F.col("sx").cast("double") / nd
    ) * (F.col("sy").cast("double") / nd)
    varx = F.col("sxx").cast("double") / nd - (
        F.col("sx").cast("double") / nd
    ) * (F.col("sx").cast("double") / nd)
    vary = F.col("syy").cast("double") / nd - (
        F.col("sy").cast("double") / nd
    ) * (F.col("sy").cast("double") / nd)
    theta = cov / varx
    meanx = F.col("sx").cast("double") / nd
    moments = m.select(
        "n", theta.alias("theta"), meanx.alias("mean_x"),
        (cov * cov / (varx * vary)).alias("rho2"),
    )
    arms = (
        per_user.crossJoin(F.broadcast(moments))
        .select(
            "arm",
            F.round(
                F.col("y").cast("double")
                - F.col("theta") * (F.col("x").cast("double") - F.col("mean_x")),
                6,
            )
            .cast("decimal(38,6)")
            .alias("adj"),
            F.col("y").cast("long").alias("yl"),
        )
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("adj").alias("s_adj"),
            F.sum("yl").alias("s_y"),
        )
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n_users").alias("n_a"), F.col("s_adj").alias("adj_a"),
        F.col("s_y").alias("y_a"),
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n_users").alias("n_b"), F.col("s_adj").alias("adj_b"),
        F.col("s_y").alias("y_b"),
    )
    return (
        a.crossJoin(b)
        .crossJoin(F.broadcast(moments.select("theta", "rho2")))
        .select(
            "n_a",
            "n_b",
            (F.round(F.col("theta"), 6) + F.lit(0.0)).alias("theta"),
            (
                F.round(
                    F.col("y_b").cast("double") / F.col("n_b")
                    - F.col("y_a").cast("double") / F.col("n_a"),
                    6,
                )
                + F.lit(0.0)
            ).alias("raw_lift"),
            (
                F.round(
                    F.col("adj_b").cast("double") / F.col("n_b")
                    - F.col("adj_a").cast("double") / F.col("n_a"),
                    6,
                )
                + F.lit(0.0)
            ).alias("cuped_lift"),
            (F.round(F.lit(1.0) - F.col("rho2"), 6) + F.lit(0.0)).alias(
                "variance_ratio"
            ),
        )
    )


def theilsen_trend(events: DataFrame) -> DataFrame:
    """Theil–Sen trend estimate per group over the hourly event-count
    series: the MEDIAN of all pairwise slopes (c_j - c_i)/(h_j - h_i) —
    the robust trend line (up to ~29% outlier contamination) that OLS
    on bursty ops series cannot give. Reported per group: n_hours,
    n_pairs, and the slope in events/hour.

    Shape: the pairwise frame is built from the BOUNDED hours-per-group
    count series (time-bounded — never data rows; 30 days = 720 hours =
    260k pairs per group), via one self-equi-join on the group key. The
    median slope is selected by EXACT integer rank over (slope, i, j)
    — k = (n_pairs+1) DIV 2, the lower median, no interpolation — with
    a rank window partitioned per group (pairs frame is bounded, and
    tied slope VALUES make any tie permutation select the same value).
    Slopes are exact-integer differences divided once — identical
    doubles in any engine."""
    hours = (
        events.groupBy(
            F.col("event_type").alias("g"),
            # integer hour index: slopes become int-diff / int-diff — one
            # double division, bit-identical in any engine
            F.floor(
                F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600
            ).cast("long").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # bounded series; two join consumers
    )
    a = hours.select("g", F.col("h").alias("hi"), F.col("c").alias("ci"))
    b = hours.select("g", F.col("h").alias("hj"), F.col("c").alias("cj"))
    pairs = (
        a.join(b, "g")
        .filter(F.col("hj") > F.col("hi"))
        .select(
            "g",
            "hi",
            "hj",
            (
                (F.col("cj") - F.col("ci")).cast("double")
                / (F.col("hj") - F.col("hi")).cast("double")
            ).alias("slope"),
        )
    )
    w = Window.partitionBy("g").orderBy("slope", "hi", "hj")
    ranked = pairs.withColumn("rk", F.row_number().over(w))
    # the pair count needs no second pass over the pairwise frame: the
    # hj > hi self-join emits EVERY unordered hour pair exactly once,
    # so n_pairs = C(n_hours, 2) — integer arithmetic on the (bounded)
    # per-group hour count, and the pairs subtree keeps one consumer
    nh = hours.groupBy("g").agg(F.count(F.lit(1)).alias("n_hours"))
    nprs = (F.col("n_hours") * (F.col("n_hours") - 1) / 2).cast("long")
    med = (
        ranked.join(F.broadcast(nh.select("g", "n_hours", nprs.alias("n_pairs"))), "g")
        .filter(F.col("rk") == F.floor((F.col("n_pairs") + 1) / 2).cast("long"))
        .select("g", "n_hours", "n_pairs", F.col("slope").alias("s"))
    )
    return (
        med.select(
            F.col("g").alias("event_type"),
            "n_hours",
            "n_pairs",
            (F.round(F.col("s"), 6) + F.lit(0.0)).alias("theilsen_slope"),
        )
        .orderBy("event_type")
    )


def seasonal_residual_outliers(events: DataFrame) -> DataFrame:
    """Seasonality-adjusted anomaly counts: hourly counts minus the
    (group, weekday, hour-of-day) seasonal mean, studentized by the
    per-group residual standard deviation — the detector that does NOT
    page on every Monday-morning ramp the raw z-score fires on.
    Reports per group: hours observed, residual SD, outlier hours
    (|z| > threshold), and the worst absolute z.

    Every moment is assembled from EXACT integer sums: the seasonal
    mean is a rational (Σc/n per cell), the residual sum-of-squares
    uses the grouped-ANOVA identity SSE = Σc² - Σ_cells (Σc)²/n_cell
    (computed per cell in DECIMAL-rounded terms, summed order-free),
    so both engines derive identical doubles. The hourly frame is
    time-bounded; the cell frame is 7x24-bounded per group."""
    hours = (
        events.groupBy(
            F.col("event_type").alias("g"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "g",
            "h",
            "c",
            F.dayofweek("h").alias("wd"),
            F.hour("h").alias("hod"),
        )
        .localCheckpoint(eager=True)  # bounded hourly series, 3 consumers
    )
    cells = hours.groupBy("g", "wd", "hod").agg(
        F.count(F.lit(1)).alias("n_cell"), F.sum("c").alias("s_cell")
    )
    sse_terms = cells.select(
        "g",
        F.round(
            F.col("s_cell").cast("double")
            * F.col("s_cell").cast("double")
            / F.col("n_cell"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("t"),
    )
    gstats = (
        hours.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.col("c") * F.col("c")).alias("scc"),
        )
        .join(sse_terms.groupBy("g").agg(F.sum("t").alias("st")), "g")
        .select(
            "g",
            "n_hours",
            F.sqrt(
                (F.col("scc").cast("double") - F.col("st").cast("double"))
                / (F.col("n_hours") - F.lit(1)).cast("double")
            ).alias("sd"),
        )
    )
    resid = (
        hours.join(cells, ["g", "wd", "hod"])
        .join(F.broadcast(gstats), "g")
        .select(
            "g",
            (
                F.abs(
                    F.col("c").cast("double")
                    - F.col("s_cell").cast("double") / F.col("n_cell")
                )
                / F.col("sd")
            ).alias("absz"),
        )
    )
    return (
        resid.groupBy(F.col("g").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum((F.col("absz") > F.lit(3.0)).cast("long")).alias(
                "n_outlier_hours"
            ),
            (F.round(F.max("absz"), 6) + F.lit(0.0)).alias("max_abs_z"),
        )
        .join(
            gstats.select(
                F.col("g").alias("event_type"),
                (F.round(F.col("sd"), 6) + F.lit(0.0)).alias("residual_sd"),
            ),
            "event_type",
        )
        .select("event_type", "n_hours", "residual_sd", "n_outlier_hours", "max_abs_z")
        .orderBy("event_type")
    )


def markov_next_event_backtest(events: DataFrame) -> DataFrame:
    """Backtest of the first-order Markov next-event predictor: train
    the argmax-next-given-previous table on transitions whose TARGET
    lands before 2024-01-24, score on the rest — the honest check that
    a transition matrix (event_transitions) actually predicts, against
    the always-predict-the-majority baseline. One row: train/test
    sizes, model accuracy, baseline accuracy, and the lift.

    Shape: the lag window is per-user (never global); train counts and
    both argmaxes live on the |types|²-bounded matrix (argmax via
    row_number over (count desc, label) — deterministic ties); scoring
    is one broadcast join of the test transitions against the 5-row
    prediction table. Accuracies are exact-integer ratios."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select("user_id", "ts", "event_id", F.col("event_type").alias("prev"))
        .withColumn("nxt", F.lead("prev").over(w))
        .withColumn("nxt_ts", F.lead("ts").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("prev", "nxt", "nxt_ts")
    )
    cut = F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")
    train = trans.filter(F.col("nxt_ts") < cut)
    test = trans.filter(F.col("nxt_ts") >= cut)
    counts = train.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wp = Window.partitionBy("prev").orderBy(F.desc("c"), F.asc("nxt"))
    pred = (
        counts.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("prev", F.col("nxt").alias("pred_nxt"))
    )
    wg = Window.orderBy(F.desc("c"), F.asc("nxt"))
    base = (
        counts.groupBy("nxt")
        .agg(F.sum("c").alias("c"))
        .withColumn("rk", F.row_number().over(wg))  # |types|-bounded frame
        .filter(F.col("rk") == 1)
        .select(F.col("nxt").alias("base_nxt"))
    )
    scored = test.join(F.broadcast(pred), "prev", "left").crossJoin(
        F.broadcast(base)
    )
    n_train = train.groupBy().agg(F.count(F.lit(1)).alias("n_train"))
    return (
        scored.agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum((F.col("nxt") == F.col("pred_nxt")).cast("long")).alias("hit"),
            F.sum((F.col("nxt") == F.col("base_nxt")).cast("long")).alias("bhit"),
        )
        .crossJoin(F.broadcast(n_train))
        .select(
            "n_train",
            "n_test",
            F.round(F.col("hit") / F.col("n_test").cast("double"), 6).alias(
                "model_accuracy"
            ),
            F.round(F.col("bhit") / F.col("n_test").cast("double"), 6).alias(
                "baseline_accuracy"
            ),
            (
                F.round(
                    F.col("hit") / F.col("n_test").cast("double")
                    - F.col("bhit") / F.col("n_test").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("accuracy_lift"),
        )
    )


def conformal_interval_report(events: DataFrame) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    forecaster (distribution-free finite-sample coverage — Vovk et al.;
    Lei et al. 2018): calibrate |count - count_{h-period}| on hours
    before 2024-01-24, take the ceil((n_cal+1)·0.9)-th smallest
    absolute residual as the interval half-width q_hat, and report the
    EMPIRICAL coverage of pred ± q_hat on the held-out hours — the
    honest "are my alert bands actually 90%?" check, with a
    finite-sample guarantee OLS bands never give.

    Shape: the period shift is the exact timestamp equi-join of
    seasonal_naive_backtest; q_hat is an EXACT integer-rank order
    statistic over the bounded per-group calibration series (rank
    window partitioned per group — never global); coverage is an
    integer ratio. Residuals are integer counts, so everything
    replays exactly."""
    h = F.date_trunc("hour", F.col("ts")).alias("h")
    counts = (
        events.groupBy(F.col("event_type").alias("g"), h)
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # bounded series; both join sides
    )
    base = counts.select(
        "g",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("c").alias("pred"),
    )
    joined = counts.join(base, ["g", "h"]).select(
        "g", "h", F.abs(F.col("c") - F.col("pred")).alias("ar"),
        (F.col("c") - F.col("pred")).alias("r"),
    )
    cut = F.lit("2024-01-24 00:00:00").cast("timestamp_ntz")
    cal = joined.filter(F.col("h") < cut)
    test = joined.filter(F.col("h") >= cut)
    w = Window.partitionBy("g").orderBy("ar", "h")
    ranked = cal.withColumn("rk", F.row_number().over(w))
    ncal = cal.groupBy("g").agg(F.count(F.lit(1)).alias("n_cal"))
    qhat = (
        ranked.join(F.broadcast(ncal), "g")
        .filter(
            F.col("rk")
            == F.least(
                F.ceil((F.col("n_cal") + 1) * F.lit(0.9)).cast("long"),
                F.col("n_cal").cast("long"),
            )
        )
        .select("g", "n_cal", F.col("ar").alias("q_hat"))
    )
    return (
        test.join(F.broadcast(qhat), "g")
        .groupBy(F.col("g").alias("event_type"))
        .agg(
            F.min("n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            F.min("q_hat").cast("bigint").alias("q_hat"),
            F.round(
                F.sum((F.col("ar") <= F.col("q_hat")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


def source_ks_matrix(docs: DataFrame) -> DataFrame:
    """Pairwise exact Kolmogorov–Smirnov drift matrix across ALL
    sources (the all-pairs generalization of :func:`ks_drift`): one row
    per unordered source pair with the exact two-sample D over the
    document-length (``length(text)``) distribution of each ``source``
    — the triage table that says which crawls actually came from the
    same distribution before mixing.

    Shape: lengths aggregate to their DISTINCT domain per source, each
    source's step-CDF evaluates once on the GLOBAL value domain
    (sources × |domain| grid — bounded: ~20 × ~1000 rows regardless of
    corpus size), and the pair comparison is one self-equi-join on the
    domain value. D stays in INTEGER cross-multiplied arithmetic
    (|cum_a·n_b − cum_b·n_a| / (n_a·n_b)) — no float discipline needed
    until the final division."""
    lens = docs.select(F.col("source").alias("s"), F.length(F.col("text")).alias("v"))
    counts = lens.groupBy("s", "v").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        counts.select("v").distinct()
        .crossJoin(counts.select("s").distinct())
    )
    merged = grid.join(counts, ["s", "v"], "left").na.fill({"c": 0})
    part = Window.partitionBy("s")
    wcum = part.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = part.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = merged.select(
        "s",
        "v",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    a = cdf.select(
        F.col("s").alias("source_a"), "v",
        F.col("cum").alias("ca"), F.col("n").alias("n_a"),
    )
    b = cdf.select(
        F.col("s").alias("source_b"), "v",
        F.col("cum").alias("cb"), F.col("n").alias("n_b"),
    )
    return (
        # both sides are the bounded sources x domain CDF frame (~20 x
        # ~1e3 rows at any corpus size) — broadcast beats the SMJ AQE
        # picks on the stats-free window output
        a.join(F.broadcast(b), "v")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
            ).alias("num")
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("num") / (F.col("n_a") * F.col("n_b")).cast("double"), 6
            ).alias("ks"),
        )
        .orderBy("source_a", "source_b")
    )


def decayed_user_value(events: DataFrame) -> DataFrame:
    """Recency-weighted user value (exponential time-decay LTV): each
    purchase contributes value·e^(−λ·age_days), λ = 0.05, anchored at the
    dataset's max timestamp — the ranking every retention/engagement
    dashboard uses instead of the raw lifetime sum, which never decays
    a whale who left a year ago. Top-k users by decayed value, with the
    raw total alongside for contrast.

    Determinism: ages are integer-second differences divided once;
    each decayed term rounds at 6dp into DECIMAL(38,6), so per-user
    sums are order-free and the ranking key is exact; ties break on
    user_id. One broadcast of the 1-row max-ts frame; one groupBy."""
    mx = events.agg(F.unix_timestamp(F.max("ts")).alias("smx"))
    src = (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.round(F.col("value"), 6).cast("decimal(38,6)").alias("rv"),
            F.round(
                F.col("value")
                * F.exp(
                    F.lit(-0.05)
                    * (
                        (F.col("smx") - F.unix_timestamp(F.col("ts")))
                        / F.lit(86400.0)
                    )
                ),
                6,
            )
            .cast("decimal(38,6)")
            .alias("dv"),
        )
    )
    return (
        src.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("rv").alias("tot"),
            F.sum("dv").alias("dec"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("tot").cast("double"), 6).alias("total_value"),
            F.round(F.col("dec").cast("double"), 6).alias("decayed_value"),
        )
        .orderBy(F.desc("decayed_value"), F.asc("user_id"))
        .limit(20)
    )


def selectivity_estimate_audit(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Optimizer-statistics audit: for a lattice of 10 range
    predicates, the TRUE row count next to what a 32-bucket equi-WIDTH
    histogram and a 32-bucket equi-DEPTH histogram estimate (fractional-overlap
    interpolation — the standard cardinality model), with per-predicate
    relative errors. The companion to the layout audits: skipping
    measures what FILE stats buy, this measures what COLUMN stats are
    worth before trusting a join order to them (equi-depth should win
    on skew — this is the table that proves it on YOUR data).

    Shape: the equi-width counts are one scaled-floor aggregation; the
    equi-depth boundaries are EXACT order statistics (global_rank cut
    ranks — two-pass, no global sort) with exact per-bucket counts from
    consecutive rank differences; the true counts are ONE pass of
    10 conditional sums (no row expansion); every estimate is
    arithmetic on the (32 + 10)-row metadata. Predicate bounds
    are the same double expressions on (lo, hi) everywhere, so the
    audit replays exactly."""
    from .curation import global_rank

    v = F.col(value_col).cast("double")
    src = df.select(v.alias("v"), F.col(tiebreak_col).alias("tb"))
    st = src.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=False)  # 1 row, many consumers

    span = F.col("hi") - F.col("lo")
    g = F.lit(10.0)

    def plo(i):
        return F.col("lo") + span * i / g

    # --- true counts: one conditional-aggregation pass ---
    withst = src.crossJoin(F.broadcast(st))
    true_row = withst.agg(
        *[
            F.sum(
                (
                    (F.col("v") >= plo(F.lit(float(i))))
                    & (F.col("v") < plo(F.lit(float(i + 1))))
                ).cast("long")
            ).alias(f"t{i}")
            for i in range(10)
        ]
    )
    true_counts = true_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), F.col(f"t{i}").alias("true_n")
                    )
                    for i in range(10)
                ]
            )
        ).alias("s")
    ).select(F.col("s.i").alias("i"), F.col("s.true_n").alias("true_n"))

    # --- equi-width histogram: counts + theoretical bucket edges ---
    b = F.least(
        F.floor(
            F.when(span > 0, (F.col("v") - F.col("lo")) / span)
            .otherwise(F.lit(0.0))
            * 32
        ).cast("int"),
        F.lit(31),
    )
    wb = (
        withst.select(b.alias("b"), "lo", "hi")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"), F.min("lo").alias("lo"),
             F.min("hi").alias("hi"))
        .select(
            "c",
            (F.col("lo") + (F.col("hi") - F.col("lo")) * F.col("b")
             / F.lit(32.0)).alias("blo"),
            (F.col("lo") + (F.col("hi") - F.col("lo")) * (F.col("b") + 1)
             / F.lit(32.0)).alias("bhi"),
        )
    )

    # --- equi-depth histogram: exact order-statistic boundaries ---
    ranked = global_rank(src, [F.col("v"), F.col("tb")], rank_col="rk")
    spark = df.sparkSession
    cutr = (
        spark.range(0, 33)
        .select(F.col("id").alias("j"))
        .crossJoin(F.broadcast(st))
        .select(
            "j",
            F.greatest(
                F.ceil(F.col("j") * F.col("n") / 32).cast("long"),
                F.lit(1),
            ).alias("rk"),
        )
        .distinct()
    )
    bounds = ranked.join(F.broadcast(cutr), "rk").select("j", "v")
    wj = Window.orderBy("j")  # 33 metadata rows
    # bucket j holds ranks (ceil((j-1)n/B), ceil(jn/B)] — the count is
    # pure integer arithmetic on n (no rank subtraction across the lag,
    # which would under-count bucket 1 by the rank-1 row)
    db = (
        bounds.select("j", F.lag("v").over(wj).alias("blo"),
                      F.col("v").alias("bhi"))
        .filter(F.col("blo").isNotNull())
        .crossJoin(F.broadcast(st.select("n")))
        .select(
            "blo", "bhi",
            (
                F.ceil(F.col("j") * F.col("n") / 32)
                - F.ceil((F.col("j") - 1) * F.col("n") / 32)
            ).cast("long").alias("c"),
        )
    )

    # --- predicates frame + interpolated estimates ---
    preds = st.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("i"),
        "lo", "hi", "n",
    ).select(
        "i", "n",
        plo(F.col("i").cast("double")).alias("plo"),
        plo((F.col("i") + 1).cast("double")).alias("phi"),
    ).localCheckpoint(eager=False)

    def est(bkts: DataFrame, out: str) -> DataFrame:
        width = F.col("bhi") - F.col("blo")
        inter = F.least(F.col("phi"), F.col("bhi")) - F.greatest(
            F.col("plo"), F.col("blo")
        )
        frac = F.when(
            width > 0, F.greatest(inter, F.lit(0.0)) / width
        ).otherwise(
            F.when(
                (F.col("blo") >= F.col("plo"))
                & (F.col("blo") < F.col("phi")),
                F.lit(1.0),
            ).otherwise(F.lit(0.0))
        )
        return (
            preds.crossJoin(F.broadcast(bkts))
            .groupBy("i")
            .agg(F.sum(frac * F.col("c")).alias(out))
        )

    return (
        preds.join(true_counts, "i")
        .join(est(wb, "est_width"), "i")
        .join(est(db, "est_depth"), "i")
        .select(
            F.col("i").alias("pred_id"),
            F.round("plo", 6).alias("pred_lo"),
            F.round("phi", 6).alias("pred_hi"),
            F.col("true_n").cast("bigint").alias("true_n"),
            F.round("est_width", 6).alias("est_width"),
            F.round("est_depth", 6).alias("est_depth"),
            F.round(
                F.abs(F.col("est_width") - F.col("true_n")) / F.col("n"), 6
            ).alias("err_width"),
            F.round(
                F.abs(F.col("est_depth") - F.col("true_n")) / F.col("n"), 6
            ).alias("err_depth"),
        )
        .orderBy("pred_id")
    )


def retention_decay_fit(events: DataFrame) -> DataFrame:
    """Exponential retention-decay fit per signup cohort: weekly
    retention fractions (exact active-user counts over the cohort
    size), then the log-linear fit ln(retention) ~ week via regr_slope
    — the one-number-per-cohort decay rate and its half-life that a
    plain retention table hides. Cohort = first-event week.

    Shape: first-event assignment is one groupBy-min; the cohort x week
    activity matrix is a distinct count on a bounded (cohorts x 4 weeks)
    frame; the regression is a mergeable moment aggregate over <= 4
    points per cohort (regr_slope — the zipf_fit-proven cross-engine
    pair). ln() only sees fractions > 0 (both engines filter
    identically). ``purchase`` events scope both the cohort anchor and the
    activity signal (repeat-PURCHASE retention — on this
    corpus every user is active every week, so all-event retention is
    a flat 1.0)."""
    events = events.filter(F.col("event_type") == "purchase")
    first = events.groupBy("user_id").agg(F.min("ts").alias("f0"))
    cohorted = (
        events.join(first, "user_id")
        .select(
            F.date_trunc("week", F.col("f0")).alias("cohort"),
            "user_id",
            F.floor(
                (F.unix_timestamp("ts") - F.unix_timestamp(F.date_trunc("week", F.col("f0"))))
                / (7 * 86400)
            ).cast("int").alias("wk"),
        )
        .filter(F.col("wk") < 4)
    )
    sizes = cohorted.filter(F.col("wk") == 0).groupBy("cohort").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    active = cohorted.groupBy("cohort", "wk").agg(
        F.countDistinct("user_id").alias("a")
    )
    fr = (
        active.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "wk", "n_users",
            (F.col("a") / F.col("n_users").cast("double")).alias("frac"),
        )
        .filter(F.col("frac") > 0)
    )
    return (
        fr.groupBy("cohort", "n_users")
        .agg(
            F.count(F.lit(1)).alias("weeks_observed"),
            F.regr_slope(F.log("frac"), F.col("wk").cast("double")).alias("_s"),
        )
        .select(
            F.col("cohort"),
            "n_users",
            "weeks_observed",
            (F.round(-F.col("_s"), 6) + F.lit(0.0)).alias("decay_rate"),
            (
                F.round(
                    F.lit(float(__import__("math").log(2.0)))
                    / F.nullif(-F.col("_s"), F.lit(0.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("half_life_weeks"),
        )
        .orderBy("cohort")
    )


def roc_auc_by_source(docs: DataFrame) -> DataFrame:
    """Per-source ROC AUC of a score column separating a binary label
    (here: does document length discriminate English from everything
    else?) — the standard health check before trusting any quality
    score as a filter: AUC 0.5 means the score is noise for that
    source, and a per-source breakdown catches the source where a
    globally-good score silently inverts.

    Computed by the Mann-Whitney identity with full tie correction:
    AUC = (#concordant + ½·#tied) / (n_pos·n_neg), folded over the
    SCORE DOMAIN rather than pairs — group by (source, score) once,
    then a cumulative negative count over the per-source score domain
    gives every concordant count in one window pass. The window
    partition is the per-source distinct-score domain (bounded by the
    score's value range, NOT by rows), and every sum is exact integer
    arithmetic in DECIMAL(38,0) — the only float op is the final
    single division, identical in any IEEE engine.
    """
    base = docs.select(
        F.col("source").alias("s"),
        F.col("n_chars").cast("long").alias("v"),
        (F.col("lang") == "en").cast("long").alias("p"),
    )
    c = base.groupBy("s", "v").agg(
        F.sum("p").alias("np"),
        F.sum(F.lit(1) - F.col("p")).alias("nn"),
    )
    w = (
        Window.partitionBy("s")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    k = c.select(
        "s",
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cn"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    agg = k.groupBy("s").agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(dec(F.col("np")) * dec(F.col("cn"))).alias("conc"),
        F.sum(dec(F.col("np")) * dec(F.col("nn"))).alias("tied"),
    )
    auc = (
        (F.lit(2) * F.col("conc") + F.col("tied")).cast("double")
        / F.nullif(
            (F.lit(2) * dec(F.col("n_pos")) * dec(F.col("n_neg"))).cast("double"),
            F.lit(0.0),
        )
    )
    return agg.select(
        F.col("s").alias("source"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (F.round(auc, 6) + F.lit(0.0)).alias("auc"),
    ).orderBy("source")


def acf_hourly(events: DataFrame) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at
    lags 1..24 (those shorter than the series) — the seasonality
    detector behind every capacity-planning and anomaly model (a spike
    at lag 24 says the series is daily-periodic; fast decay says
    yesterday predicts nothing). Missing hours count as zero — computing
    ACF on a gap-compressed series aliases the periods.

    Exactness: with integer hourly counts c_t, series length H, sum S,
    and sum of squares Q, the standard full-series-mean estimator
    collapses to an exact integer ratio

        r_k = (H²·X_k − H·S·(A_k + B_k) + (H−k)·S²) / (H²·Q − H·S²)

    where X_k = Σ c_t·c_{t−k}, A_k/B_k the matched current/lagged sums
    — every term accumulates in DECIMAL(38,0) (order-free), the single
    final division is the only float op. Scale shape: the series frame
    is TIME-bounded (hours in the data span, not rows); the lag join is
    an equi-join on integer hour index over that bounded frame.
    """
    # FLOOR, not cast-to-long: cast truncates toward zero, which
    # diverges from the oracle's floor division for pre-1970 epochs
    # (the repo's FLOOR-both-sides rule).
    hrs = events.select(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hi")
    )
    counts = hrs.groupBy("hi").agg(F.count(F.lit(1)).alias("c"))
    st = counts.agg(F.min("hi").alias("mn"), F.max("hi").alias("mx"))
    spine = (
        st.select(F.explode(F.sequence("mn", "mx")).alias("hi"))
        .join(counts, "hi", "left")
        .select("hi", F.coalesce("c", F.lit(0)).alias("c"))
        .localCheckpoint(eager=False)
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    tot = spine.agg(
        F.count(F.lit(1)).alias("h"),
        F.sum(dec(F.col("c"))).alias("s"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("q"),
    )
    spark = events.sparkSession
    lags = spark.range(1, 25).select(F.col("id").alias("lag"))
    cur = spine.crossJoin(lags).select(
        "lag", "hi", "c", (F.col("hi") - F.col("lag")).alias("hj")
    )
    prev = spine.select(F.col("hi").alias("hj"), F.col("c").alias("c2"))
    per = (
        cur.join(prev, "hj")
        .groupBy("lag")
        .agg(
            F.sum(dec(F.col("c")) * dec(F.col("c2"))).alias("x"),
            F.sum(dec(F.col("c"))).alias("a"),
            F.sum(dec(F.col("c2"))).alias("b"),
        )
    )
    j = per.crossJoin(F.broadcast(tot))
    h = F.col("h").cast("decimal(38,0)")
    num = (
        h * h * F.col("x")
        - h * F.col("s") * (F.col("a") + F.col("b"))
        + (h - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = h * h * F.col("q") - h * F.col("s") * F.col("s")
    return j.select(
        F.col("lag").cast("long").alias("lag"),
        (
            F.round(
                num.cast("double")
                / F.nullif(den.cast("double"), F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("acf"),
    ).orderBy("lag")


def shuffle_skew_audit(df: DataFrame) -> DataFrame:
    """Pre-shuffle skew diagnostic: hash-partition the frame's join key
    ``user_id`` into 64 reducers (engine-portable md5 hash, the same
    unit-interval device the samplers use) and report each bucket's row
    count, distinct-key count, and its load relative to the uniform
    ideal — the table you read BEFORE deciding whether a join needs
    salting or AQE skew-split (a bucket at 5× average with one hot key
    says salt; many keys says just raise parallelism).

    All counts are exact integers from one groupBy; ratio_to_avg is
    n_rows·P / N as a single division. Scale shape: two aggregations
    (key→bucket, bucket→stats) with map-side combine; the output is
    buckets-sized.
    """
    b = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 12), 16, 10)
        .cast("long")
        % 64
    )
    per_key = df.select(b.alias("bucket"), F.col("user_id").alias("k")).groupBy(
        "bucket", "k"
    ).agg(F.count(F.lit(1)).alias("kc"))
    per_bucket = per_key.groupBy("bucket").agg(
        F.sum("kc").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("kc").alias("max_key_rows"),
    )
    tot = per_bucket.agg(F.sum("n_rows").alias("n"))
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("max_key_rows").cast("long").alias("max_key_rows"),
            F.round(
                (F.col("n_rows") * F.lit(64)).cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("ratio_to_avg"),
        )
        .orderBy("bucket")
    )


def spearman_user_corr(events: DataFrame) -> DataFrame:
    """Spearman rank correlation between per-user activity (event
    count) and per-user monetary value — the monotone-association
    check run before any engagement-predicts-revenue claim; Spearman
    rather than Pearson because user value is heavy-tailed and one
    whale pins Pearson to itself.

    Exactness: ranks use the tie-averaged convention, computed WITHOUT
    floats — rank by (metric, user_id) with the scale-safe
    ``global_rank`` device (range-partitioned two-pass, no global
    window), then per-tie-group averaging collapses to the integer
    min_rank + max_rank (consecutive ranks), i.e. 2× the average rank.
    The doubled ranks cancel in the correlation ratio, so every
    accumulated sum is exact DECIMAL(38,0); the only float ops are the
    final two sqrts and one division, written identically in the
    oracle. Scale shape: one per-user aggregate, two rank passes, a
    metric-domain-sized tie regroup, one scalar assembly row.
    """
    from .curation import global_rank

    pu = (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.coalesce(
                F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")),
                F.lit(0).cast("decimal(38,6)"),
            ).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    rx = global_rank(pu, [F.col("x"), F.col("user_id")], rank_col="rx")
    gx = rx.groupBy("x").agg((F.min("rx") + F.max("rx")).alias("ix2"))
    ry = global_rank(pu, [F.col("y"), F.col("user_id")], rank_col="ry")
    gy = ry.groupBy("y").agg((F.min("ry") + F.max("ry")).alias("iy2"))
    ranked = pu.join(gx, "x").join(gy, "y")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("ix2"))).alias("sx"),
        F.sum(dec(F.col("iy2"))).alias("sy"),
        F.sum(dec(F.col("ix2")) * dec(F.col("iy2"))).alias("sxy"),
        F.sum(dec(F.col("ix2")) * dec(F.col("ix2"))).alias("sxx"),
        F.sum(dec(F.col("iy2")) * dec(F.col("iy2"))).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    rho = num / F.nullif(F.sqrt(dx) * F.sqrt(dy), F.lit(0.0))
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        (F.round(rho, 6) + F.lit(0.0)).alias("spearman_rho"),
    )


def srm_audit(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch audit for a 50/50 experiment assignment —
    the first thing to check before reading ANY experiment result: if
    the arms' user counts fail a chi-square against the intended 50/50
    split, the assignment pipeline is broken and every downstream
    metric is biased. Per-arm rows carry user count, purchase
    conversion with a Wilson 95% interval (the interval that stays
    inside [0,1] at small n, unlike the normal approximation), and the
    shared chi-square verdict.

    Assignment replays the engine-portable md5 unit interval (the
    deterministic_split device), so the audit is a pure function of
    the ids. Exactness: counts are integers; chi-square for two cells
    collapses to (n_a − n_b)²/N; Wilson terms are a fixed expression
    tree of single IEEE ops on exact integer inputs, written
    identically in the oracle. One per-user aggregate, one 2-row arm
    aggregate, scalar assembly.
    """
    from .curation import hash_unit

    per_user = (
        events.groupBy(F.col("user_id").alias("uid"))
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("conv")
        )
        .select(
            F.when(hash_unit(F.col("uid"), "srm") < 0.5, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("arm"),
            "conv",
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("conv").alias("conversions")
    )
    tot = arms.agg(
        F.sum("n_users").alias("n"),
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
    )
    p = F.col("conversions").cast("double") / F.col("n_users").cast("double")
    zc = F.lit(1.959963985)
    nn = F.col("n_users").cast("double")
    center = p + zc * zc / (F.lit(2.0) * nn)
    margin = zc * F.sqrt(
        p * (F.lit(1.0) - p) / nn + zc * zc / (F.lit(4.0) * nn * nn)
    )
    denom = F.lit(1.0) + zc * zc / nn
    chi2 = (
        (F.col("na") - F.col("nb")).cast("double")
        * (F.col("na") - F.col("nb")).cast("double")
        / F.col("n").cast("double")
    )
    return (
        arms.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("conversions").cast("long").alias("conversions"),
            F.round(p, 6).alias("conv_rate"),
            F.round((center - margin) / denom, 6).alias("wilson_lo"),
            F.round((center + margin) / denom, 6).alias("wilson_hi"),
            F.round(chi2, 6).alias("srm_chi2"),
            (chi2 > F.lit(3.841458821)).alias("srm_flag"),
        )
        .orderBy("arm")
    )


def mann_whitney_matrix(docs: DataFrame) -> DataFrame:
    """Pairwise Mann-Whitney U test across all ``source`` values over
    the document-length (``length(text)``) distribution — the
    nonparametric companion to :func:`source_ks_matrix`: KS asks "same
    distribution?", U asks the directional question "does one source
    systematically produce longer documents?", with a tie-corrected
    normal z for the verdict.

    Shape (identical to the KS matrix): per-source counts aggregate to
    the GLOBAL length domain (sources × |domain| grid — bounded by the
    value range, not rows), exclusive CDFs come from one window pass
    per source, and the pair assembly is a broadcast self-equi-join on
    the domain value. 2U = Σ_v 2·na_v·cb_below(v) + na_v·nb_v and the
    tie term T = Σ_v (t_v³ − t_v) stay exact DECIMAL(38,0) integers;
    z = (2U − n_a·n_b) / (2·sqrt(var)) with the tie-corrected
    var = n_a·n_b·((n+1) − T/(n(n−1)))/12 is a fixed tree of single
    IEEE ops, written identically in the oracle."""
    lens = docs.select(F.col("source").alias("s"), F.length(F.col("text")).alias("v"))
    counts = lens.groupBy("s", "v").agg(F.count(F.lit(1)).alias("c"))
    grid = (
        counts.select("v").distinct()
        .crossJoin(counts.select("s").distinct())
    )
    merged = grid.join(counts, ["s", "v"], "left").na.fill({"c": 0})
    part = Window.partitionBy("s")
    wcum = part.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = part.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = merged.select(
        "s",
        "v",
        F.col("c"),
        (F.sum("c").over(wcum) - F.col("c")).alias("below"),
        F.sum("c").over(wall).alias("n"),
    )
    a = cdf.select(
        F.col("s").alias("source_a"), "v",
        F.col("c").alias("ca"), F.col("n").alias("n_a"),
    )
    b = cdf.select(
        F.col("s").alias("source_b"), "v",
        F.col("c").alias("cb"), F.col("below").alias("bb"),
        F.col("n").alias("n_b"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    t = F.col("ca") + F.col("cb")
    agg = (
        a.join(F.broadcast(b), "v")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "n_a", "n_b")
        .agg(
            F.sum(
                dec(
                    F.lit(2) * F.col("ca") * F.col("bb")
                    + F.col("ca") * F.col("cb")
                )
            ).alias("u2"),
            F.sum(dec(t * t * t - t)).alias("tsum"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    var = (
        na
        * nb
        * (
            (nn + F.lit(1.0))
            - F.col("tsum").cast("double") / (nn * (nn - F.lit(1.0)))
        )
        / F.lit(12.0)
    )
    z = (
        (F.col("u2").cast("double") - na * nb)
        / F.nullif(F.lit(2.0) * F.sqrt(var), F.lit(0.0))
    )
    return agg.select(
        "source_a",
        "source_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.col("u2").cast("double") / F.lit(2.0)).alias("u_stat"),
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    ).orderBy("source_a", "source_b")


def cramers_v_report(docs: DataFrame) -> DataFrame:
    """Chi-square independence test + Cramér's V between two
    categorical columns — the association strength behind every
    "is language confounded with source?" mixing question (V near 0:
    sample freely; V near 1: per-source language quotas are load-
    bearing).

    Exactness: with the algebraic identity χ² = n·Σ o²/(r·c) − n, each
    cell term (o²·n)/(r_i·c_j) is ONE integer-to-double division,
    quantized at 9dp into DECIMAL(38,9) so the grid sum is order-free;
    the identical quantization runs in the oracle. Scale shape: one
    contingency aggregate (bounded levels × levels grid), two marginal
    reductions joined back by level, one scalar row out."""
    o = (
        docs.select(F.col("source").alias("x"), F.col("lang").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rx = o.groupBy("x").agg(F.sum("o").alias("r"))
    cy = o.groupBy("y").agg(F.sum("o").alias("c"))
    tot = o.agg(
        F.sum("o").alias("n"),
        F.countDistinct("x").alias("kx"),
        F.countDistinct("y").alias("ky"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    cells = (
        o.join(rx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (dec(F.col("o")) * dec(F.col("o")) * dec(F.col("n")))
                .cast("double")
                / (dec(F.col("r")) * dec(F.col("c"))).cast("double"),
                9,
            )
            .cast("decimal(38,9)")
            .alias("term")
        )
    )
    s = cells.agg(F.sum("term").alias("ssum"))
    assembled = s.crossJoin(
        F.broadcast(
            tot.select(
                "n",
                F.least(F.col("kx") - 1, F.col("ky") - 1).alias("mindof"),
                "kx",
                "ky",
            )
        )
    )
    chi2 = F.col("ssum").cast("double") - F.col("n").cast("double")
    vsq = chi2 / (F.col("n") * F.col("mindof")).cast("double")
    return assembled.select(
        F.col("n").cast("long").alias("n"),
        F.col("kx").cast("long").alias("levels_x"),
        F.col("ky").cast("long").alias("levels_y"),
        (F.round(chi2, 6) + F.lit(0.0)).alias("chi2"),
        (F.round(F.sqrt(F.greatest(vsq, F.lit(0.0))), 6) + F.lit(0.0)).alias(
            "cramers_v"
        ),
    )


def simpson_event_diversity(events: DataFrame) -> DataFrame:
    """Per-user inverse Simpson index of event-type usage — the
    "effective number of behaviors" metric (1 = a one-trick user, k =
    uniform over k types), reported as the bucket histogram every
    engagement dashboard wants: floor(effective types) → user count +
    average index.

    Exactness: with per-(user, type) counts c_i and user total n_u,
    the inverse Simpson collapses to the exact integer ratio
    n_u² / Σc_i² — ONE division per user, rounded at 6dp into
    DECIMAL(38,6) so the per-bucket averages are order-free sums.
    Scale shape: two map-side-combined aggregates (user×type → user),
    one bucket regroup; output is bounded by the event-type
    universe."""
    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    per_user = ut.groupBy("user_id").agg(
        F.sum(dec(F.col("c"))).alias("n"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("q"),
    )
    inv = (
        (F.col("n") * F.col("n")).cast("double")
        / F.col("q").cast("double")
    )
    pu = per_user.select(
        F.floor(inv).cast("long").alias("bucket"),
        F.round(inv, 6).cast("decimal(38,6)").alias("iv"),
    )
    return (
        pu.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_users"), F.sum("iv").alias("s"))
        .select(
            "bucket",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(
                F.col("s").cast("double") / F.col("n_users").cast("double"), 6
            ).alias("avg_inv_simpson"),
        )
        .orderBy("bucket")
    )


def eb_shrunk_rates(docs: DataFrame) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrunk per-``source`` rates of
    ``lang = 'en'`` hits — the smoothed-CTR device every ranking
    pipeline uses instead of raw fractions: a group with 2/2 hits must
    NOT outrank one with 180/200, so each raw rate shrinks toward the
    cross-group mean with strength learned from the method-of-moments
    beta fit (α+β ≈ m(1−m)/var − 1).

    Exactness: per-group (hits, n) are integers; each raw rate and
    each squared deviation rounds at 9dp into DECIMAL(38,9) before the
    cross-group sums, so the moment estimates are order-free; the
    final shrunk rate (c + α)/(n + α + β) is a fixed scalar expression
    replayed by the oracle. Scale shape: one data aggregate, one
    groups-sized moment reduction, broadcast back. Degenerate guard:
    var = 0 (all groups equal) keeps the raw rate (strength NULL →
    coalesce)."""
    g = docs.select(
        F.col("source").alias("g"), (F.col("lang") == "en").cast("long").alias("hit")
    )
    per = g.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("c")
    )
    r9 = F.round(
        F.col("c").cast("double") / F.col("n").cast("double"), 9
    ).cast("decimal(38,9)")
    rates = per.select("g", "n", "c", r9.alias("r"))
    m1 = rates.agg(
        F.count(F.lit(1)).alias("k"), F.sum("r").alias("sr")
    )
    withm = rates.crossJoin(F.broadcast(m1)).select(
        "g", "n", "c", "r",
        (F.col("sr").cast("double") / F.col("k").cast("double")).alias("m"),
        "k",
    )
    dev = withm.select(
        "g", "n", "c", "r", "m", "k",
        F.round(
            (F.col("r").cast("double") - F.col("m"))
            * (F.col("r").cast("double") - F.col("m")),
            9,
        )
        .cast("decimal(38,9)")
        .alias("d2"),
    )
    mom = dev.groupBy("m", "k").agg(F.sum("d2").alias("sd2"))
    # var over groups; strength = m(1-m)/var - 1, floored at 0
    strength = F.greatest(
        F.col("m")
        * (F.lit(1.0) - F.col("m"))
        / F.nullif(
            F.col("sd2").cast("double")
            / (F.col("k").cast("double") - F.lit(1.0)),
            F.lit(0.0),
        )
        - F.lit(1.0),
        F.lit(0.0),
    )
    params = mom.select(
        "m",
        (F.col("m") * strength).alias("alpha"),
        ((F.lit(1.0) - F.col("m")) * strength).alias("beta"),
    )
    shrunk = (
        F.col("c").cast("double") + F.coalesce(F.col("alpha"), F.lit(0.0))
    ) / (
        F.col("n").cast("double")
        + F.coalesce(F.col("alpha"), F.lit(0.0))
        + F.coalesce(F.col("beta"), F.lit(0.0))
    )
    return (
        dev.select("g", "n", "c", "r")
        .crossJoin(F.broadcast(params))
        .select(
            F.col("g").alias("group_key"),
            F.col("n").cast("long").alias("n"),
            F.col("c").cast("long").alias("hits"),
            F.col("r").cast("double").alias("raw_rate"),
            F.round(shrunk, 6).alias("shrunk_rate"),
        )
        .orderBy("group_key")
    )


def did_lift(events: DataFrame) -> DataFrame:
    """Difference-in-differences readout for a 50/50 experiment: split
    the data span at its midpoint into pre/post periods, and report
    per-(arm, period) purchase rates plus the DiD estimate
    (B_post − B_pre) − (A_post − A_pre) — the design that removes both
    the fixed arm offset and the common time trend, which a naive
    post-only comparison conflates with the treatment effect.

    Assignment replays the md5 unit interval (pure function of the
    id); the period cut is integer epoch-second arithmetic
    ((min+max) div 2). Rates are exact-integer purchases/active-users
    per cell; the DiD is a fixed scalar expression on the four rates.
    Shape: one bounds aggregate broadcast back, one per-cell aggregate
    (4 rows), scalar assembly."""
    from .curation import hash_unit

    bounds = events.agg(
        F.unix_timestamp(F.min("ts")).alias("mn"),
        F.unix_timestamp(F.max("ts")).alias("mx"),
    ).select(F.expr("(mn + mx) div 2").alias("mid"))
    cells = (
        events.crossJoin(F.broadcast(bounds))
        .select(
            F.when(hash_unit(F.col("user_id"), "did") < 0.5, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("arm"),
            F.when(
                F.unix_timestamp(F.col("ts")) < F.col("mid"), F.lit("pre")
            )
            .otherwise(F.lit("post"))
            .alias("period"),
            F.col("user_id").alias("uid"),
            (F.col("event_type") == "purchase").cast("long").alias("pur"),
        )
        .groupBy("arm", "period")
        .agg(
            F.countDistinct("uid").alias("n_users"),
            F.sum("pur").alias("purchases"),
        )
    )
    rate = F.col("purchases").cast("double") / F.col("n_users").cast("double")
    wide = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("arm") == a) & (F.col("period") == p), rate
                )
            ).alias(f"r_{a}_{p}")
            for a in ("A", "B")
            for p in ("pre", "post")
        ]
    )
    did = (F.col("r_B_post") - F.col("r_B_pre")) - (
        F.col("r_A_post") - F.col("r_A_pre")
    )
    return (
        cells.crossJoin(
            F.broadcast(wide.select((F.round(did, 6) + F.lit(0.0)).alias("did")))
        )
        .select(
            "arm",
            "period",
            F.col("n_users").cast("long").alias("n_users"),
            F.col("purchases").cast("long").alias("purchases"),
            F.round(rate, 6).alias("purchase_rate"),
            "did",
        )
        .orderBy("arm", "period")
    )


def lorenz_curve_points(events: DataFrame) -> DataFrame:
    """Lorenz curve of user value concentration in 10 points —
    the picture behind the Gini number (gini_value_concentration):
    users sort ascending by lifetime value, and each decile row reports
    its share of total value plus the cumulative share. A straight
    diagonal is perfect equality; the classic "bottom 80% hold 20%"
    reads directly off the cum_share column.

    Shape: per-user totals are order-free DECIMAL(38,6) sums of
    6dp-rounded values; decile assignment uses the scale-safe
    ``exact_ntile`` (range-partitioned two-pass rank, no global
    window); shares are single divisions on exact decimal sums over
    the deciles-sized frame. Cumulative share accumulates over the
    10-row output — a bounded metadata window."""
    from .curation import exact_ntile

    pu = (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value"), 6).cast("decimal(38,6)")
            ).alias("v")
        )
    )
    tiled = exact_ntile(pu, [F.col("v"), F.col("user_id")], 10,
                        out_col="decile")
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("v").alias("sv")
    )
    tot = per.agg(F.sum("sv").alias("tv"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_users").cast("long").alias("n_users"),
            F.round(
                F.col("sv").cast("double") / F.col("tv").cast("double"), 6
            ).alias("value_share"),
            F.col("sv").alias("_sv"),
            F.col("tv").alias("_tv"),
        )
        .select(
            "decile",
            "n_users",
            "value_share",
            F.round(
                F.sum("_sv").over(w).cast("double")
                / F.col("_tv").cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


def new_vs_returning_mix(events: DataFrame) -> DataFrame:
    """Daily active users split into NEW (first-ever day) vs RETURNING
    — the growth-accounting table every engagement dashboard leads
    with: a product can show flat DAU while silently swapping loyal
    users for drive-by traffic, and this split is how that shows.

    All integer: first-seen day per user (one aggregate), then one
    day × is-new aggregate; the returning share is a single division.
    Output is calendar-bounded (days in span)."""
    days = events.select(
        F.col("user_id").alias("u"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).distinct()
    first = days.groupBy("u").agg(F.min("d").alias("fd"))
    j = days.join(first, "u").select(
        "d", (F.col("d") == F.col("fd")).cast("long").alias("is_new")
    )
    return (
        j.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum("is_new").alias("new_users"),
        )
        .select(
            F.col("d").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("new_users").cast("long").alias("new_users"),
            (F.col("dau") - F.col("new_users")).cast("long").alias(
                "returning_users"
            ),
            F.round(
                (F.col("dau") - F.col("new_users")).cast("double")
                / F.col("dau").cast("double"),
                6,
            ).alias("returning_share"),
        )
        .orderBy("day")
    )


def repeat_purchase_interval(events: DataFrame) -> DataFrame:
    """Distribution of the gap (in whole days) between a user's
    consecutive purchases — the replenishment-cycle table behind
    churn-window and win-back-timing decisions, with exact quantiles
    computed by DOMAIN COUNTING: gaps aggregate to their day-valued
    domain (bounded by the data span, not by purchase count), the
    exact p25/p50/p90 order statistics read off the cumulative counts,
    and no per-user window survives to the output.

    The per-user ordering window partitions by user (the standard
    sessionize shape); everything after is integer arithmetic on the
    gap-domain frame."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pur = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    gaps = (
        pur.select(
            "user_id",
            (
                (
                    F.unix_timestamp("ts")
                    - F.unix_timestamp(F.lag("ts").over(w))
                )
                / F.lit(86400)
            )
            .cast("long")
            .alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    dom = gaps.groupBy("gap_days").agg(F.count(F.lit(1)).alias("c"))
    wd = Window.orderBy("gap_days").rowsBetween(Window.unboundedPreceding, 0)
    cum = dom.select(
        "gap_days", "c", F.sum("c").over(wd).alias("cum")
    ).crossJoin(F.broadcast(dom.agg(F.sum("c").alias("n"))))

    def q(p: float):
        # smallest gap whose cumulative count reaches ceil(p*n)
        target = F.ceil(F.col("n") * F.lit(p))
        return F.min(F.when(F.col("cum") >= target, F.col("gap_days")))

    return cum.agg(
        F.max("n").cast("long").alias("n_gaps"),
        q(0.25).cast("long").alias("p25_days"),
        q(0.50).cast("long").alias("p50_days"),
        q(0.90).cast("long").alias("p90_days"),
        F.max("gap_days").cast("long").alias("max_days"),
    )


def negbin_overdispersion(events: DataFrame) -> DataFrame:
    """Overdispersion diagnostic of per-user event counts with a
    method-of-moments negative-binomial fit — the test that says
    whether "events per user" is Poisson-ish (dispersion ≈ 1: one
    homogeneous population) or heavy-tailed (dispersion ≫ 1: model
    per-user rates, or a mean-based capacity plan will be wrong).
    MoM: r = m²/(v−m), p = m/v.

    Exactness: per-user counts are integers; m and v derive from the
    exact integer Σc and Σc² (sample variance via (n·Σc² − S²)/
    (n·(n−1))); the fit parameters are fixed single-op scalar chains.
    One data aggregate, one users-sized reduction, one row out."""
    pu = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = pu.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("c"))).alias("sc"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("sq"),
    )
    n = F.col("n").cast("double")
    m = F.col("sc").cast("double") / n
    v = (
        F.col("n").cast("decimal(38,0)") * F.col("sq")
        - F.col("sc") * F.col("sc")
    ).cast("double") / (n * (n - F.lit(1.0)))
    disp = v / m
    r = m * m / F.nullif(v - m, F.lit(0.0))
    p = m / F.nullif(v, F.lit(0.0))
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(m, 6).alias("mean_events"),
        F.round(v, 6).alias("var_events"),
        F.round(disp, 6).alias("dispersion"),
        (F.round(r, 6) + F.lit(0.0)).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
    )


def price_elasticity(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Log-log price elasticity of demand per brand with at least 10
    parts: the OLS slope of ln(quantity sold) on ln(retail price)
    across a brand's parts — the
    classic price-sensitivity readout (≈ −1: revenue-neutral pricing;
    < −1: price cuts pay for themselves; ≈ 0: captive demand).

    Exactness: the regression never touches float aggregation — both
    logs quantize to 1e−6 (integer micro-nats, exact BIGINT/DECIMAL
    sums), and the OLS slope (nΣxy − ΣxΣy)/(nΣxx − Σx²) is an exact
    integer ratio whose 1e6 scalings cancel; the single final division
    is the only float op. Shape: one fact aggregate (qty per part),
    one broadcast dim join, one brand aggregate."""
    qty = lineitem.groupBy(F.col("l_partkey").alias("k")).agg(
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q")
    )
    base = qty.join(
        F.broadcast(
            part.select(
                F.col("p_partkey").alias("k"),
                F.col("p_brand").alias("brand"),
                F.col("p_retailprice").alias("price"),
            )
        ),
        "k",
    ).filter((F.col("q") > 0) & (F.col("price") > 0))
    xi = F.round(F.log(F.col("price")) * F.lit(1e6)).cast("long")
    yi = F.round(F.log(F.col("q").cast("double")) * F.lit(1e6)).cast("long")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    g = base.select("brand", xi.alias("x"), yi.alias("y")).groupBy(
        "brand"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
    )
    n = F.col("n").cast("decimal(38,0)")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / F.nullif(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    return (
        g.filter(F.col("n") >= 10)
        .select(
            "brand",
            F.col("n").cast("long").alias("n_parts"),
            (F.round(slope, 6) + F.lit(0.0)).alias("elasticity"),
        )
        .orderBy("brand")
    )


def runs_test_daily(events: DataFrame) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily purchase-count series:
    are above-median and below-median days randomly interleaved, or
    does the series trend/cluster? Too FEW runs says regimes (weeks of
    high then weeks of low — watch for drift); too MANY says
    oscillation (day-of-week aliasing). The z-statistic uses the exact
    run count against the random-arrangement moments.

    Exactness: daily counts are integers; the median is an exact order
    statistic read from the cumulative count over the bounded
    day-domain; runs/n1/n2 are integers from one lag pass over the
    calendar-bounded series; μ_R and σ_R are fixed single-op chains.
    Ties with the median count as 'below' (the <= convention, stated
    so the oracle replays it)."""
    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    # exact median of the day-domain counts: value at cum >= ceil(n/2)
    dom = daily.groupBy("c").agg(F.count(F.lit(1)).alias("k"))
    wd = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        dom.select("c", F.sum("k").over(wd).alias("cum"))
        .crossJoin(F.broadcast(dom.agg(F.sum("k").alias("nd"))))
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("nd") / 2), F.col("c")
                )
            ).alias("med")
        )
    )
    signed = daily.crossJoin(F.broadcast(med)).select(
        "d", (F.col("c") > F.col("med")).cast("long").alias("s")
    )
    wl = Window.orderBy("d")
    flips = signed.select(
        "s", F.lag("s").over(wl).alias("ps")
    )
    agg = flips.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                (F.col("ps").isNotNull() & (F.col("s") != F.col("ps")))
                .cast("long")
            )
        ).alias("r"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    nn = F.col("n").cast("double")
    mu = F.lit(2.0) * n1 * n2 / nn + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n1
        * n2
        * (F.lit(2.0) * n1 * n2 - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    z = (F.col("r").cast("double") - mu) / F.nullif(
        F.sqrt(var), F.lit(0.0)
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("n1").cast("long").alias("days_above"),
        F.col("n2").cast("long").alias("days_at_or_below"),
        F.col("r").cast("long").alias("runs"),
        F.round(mu, 6).alias("expected_runs"),
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


def join_order_cost_audit(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Optimizer cardinality audit for the canonical 3-table join
    chain customer⋈orders⋈lineitem: the TRUE join sizes next to the
    textbook independence estimate |A⋈B| ≈ |A|·|B| / max(ndv_A(k),
    ndv_B(k)) — the formula every cost-based optimizer starts from.
    The rel_error column is the number to distrust a join order by:
    FK joins land near 1.0; skew and correlation are exactly where it
    drifts. Companion to selectivity_estimate_audit (single-column
    stats) — this one audits the JOIN-size model.

    All inputs are exact integers (row counts + exact NDVs, one
    aggregate per table + one count per true join); each estimate is
    one multiply-divide on DECIMAL(38,0); rel_error is a single
    division. Output: 3 rows (c⋈o, o⋈l, c⋈o⋈l)."""
    spark = customer.sparkSession
    c = customer.select(F.col("c_custkey").alias("ck"))
    o = orders.select(
        F.col("o_custkey").alias("ck"), F.col("o_orderkey").alias("ok")
    )
    l = lineitem.select(F.col("l_orderkey").alias("ok"))
    stats = (
        c.agg(
            F.count(F.lit(1)).alias("c_rows"),
            F.countDistinct("ck").alias("c_ndv"),
        )
        .crossJoin(
            o.agg(
                F.count(F.lit(1)).alias("o_rows"),
                F.countDistinct("ck").alias("o_ndv_ck"),
                F.countDistinct("ok").alias("o_ndv_ok"),
            )
        )
        .crossJoin(
            l.agg(
                F.count(F.lit(1)).alias("l_rows"),
                F.countDistinct("ok").alias("l_ndv"),
            )
        )
        .localCheckpoint(eager=True)
    )
    t_co = c.join(o, "ck").agg(F.count(F.lit(1)).alias("t")).select(
        F.lit("customer_orders").alias("join_step"), "t"
    )
    t_ol = o.join(l, "ok").agg(F.count(F.lit(1)).alias("t")).select(
        F.lit("orders_lineitem").alias("join_step"), "t"
    )
    t_col = (
        c.join(o, "ck")
        .join(l, "ok")
        .agg(F.count(F.lit(1)).alias("t"))
        .select(F.lit("customer_orders_lineitem").alias("join_step"), "t")
    )
    true_sizes = t_co.unionByName(t_ol).unionByName(t_col)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    est_co = (dec(F.col("c_rows")) * dec(F.col("o_rows"))).cast(
        "double"
    ) / F.greatest(F.col("c_ndv"), F.col("o_ndv_ck")).cast("double")
    est_ol = (dec(F.col("o_rows")) * dec(F.col("l_rows"))).cast(
        "double"
    ) / F.greatest(F.col("o_ndv_ok"), F.col("l_ndv")).cast("double")
    est_col = est_co * F.col("l_rows").cast("double") / F.greatest(
        F.col("o_ndv_ok"), F.col("l_ndv")
    ).cast("double")
    ests = stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("customer_orders").alias("join_step"),
                    F.round(est_co, 6).alias("est_rows"),
                ),
                F.struct(
                    F.lit("orders_lineitem").alias("join_step"),
                    F.round(est_ol, 6).alias("est_rows"),
                ),
                F.struct(
                    F.lit("customer_orders_lineitem").alias("join_step"),
                    F.round(est_col, 6).alias("est_rows"),
                ),
            )
        ).alias("s")
    ).select(F.col("s.join_step").alias("join_step"), F.col("s.est_rows"))
    return (
        true_sizes.join(F.broadcast(ests), "join_step")
        .select(
            "join_step",
            F.col("t").cast("long").alias("true_rows"),
            "est_rows",
            F.round(
                F.abs(F.col("est_rows") - F.col("t").cast("double"))
                / F.col("t").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("join_step")
    )


def mad_outlier_days(events: DataFrame) -> DataFrame:
    """Robust daily-volume anomaly summary via median absolute
    deviation: the modified z-score 0.6745·(c − median)/MAD flags
    outlier days without the masking problem mean/std anomaly
    detection has (one huge day inflates σ and hides the others —
    the reason ops dashboards use MAD).

    Both medians are EXACT order statistics read from cumulative
    counts over the bounded count-domain (the twopass_median device) —
    no sort of data rows, no percentile approximation; the z per day
    is a single-op chain on integers. One row out."""
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )

    def exact_median(df: DataFrame, col: str) -> DataFrame:
        dom = df.groupBy(col).agg(F.count(F.lit(1)).alias("k"))
        wd = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return (
            dom.select(F.col(col).alias("v"), F.sum("k").over(wd).alias("cum"))
            .crossJoin(F.broadcast(dom.agg(F.sum("k").alias("nd"))))
            .agg(
                F.min(
                    F.when(F.col("cum") >= F.ceil(F.col("nd") / 2), F.col("v"))
                ).alias("med")
            )
        )
    med = exact_median(daily, "c")
    dev = daily.crossJoin(F.broadcast(med)).select(
        "d", "c", F.abs(F.col("c") - F.col("med")).alias("ad"), "med"
    )
    mad = exact_median(dev, "ad").withColumnRenamed("med", "mad")
    z = (
        F.lit(0.6745)
        * (F.col("c") - F.col("med")).cast("double")
        / F.nullif(F.col("mad").cast("double"), F.lit(0.0))
    )
    scored = dev.crossJoin(F.broadcast(mad)).select(
        "d", "c", "med", "mad", z.alias("z")
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("med").cast("long").alias("median_daily"),
        F.max("mad").cast("long").alias("mad"),
        # when/otherwise (not a bare cast): a NULL z (mad = 0) must
        # count as 0, matching the oracle's CASE, not poison the sum
        F.sum(
            F.when(F.abs(F.col("z")) > F.lit(3.5), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_outlier_days"),
        (F.round(F.max(F.abs(F.col("z"))), 6) + F.lit(0.0)).alias("max_abs_z"),
    ).select(
        F.col("n_days").cast("long").alias("n_days"),
        "median_daily",
        "mad",
        "n_outlier_days",
        "max_abs_z",
    )


def markov_removal_attribution(events: DataFrame) -> DataFrame:
    """Markov removal-effect multi-touch attribution (Anderl et al.
    2016) — the data-driven alternative to position rules: build the
    START → channel → … → CONV/NULL journey chain from every user's
    events up to their first conversion, compute the absorption
    probability of CONV by fixed-point iteration, then re-compute it
    with each channel REMOVED (its inbound edges redirected to NULL);
    a channel's credit is its removal effect 1 − B_c/B, normalized.

    Scale shape: ONE per-user lag pass builds transitions (the
    sessionize window shape); everything after lives on the bounded
    (variants × states²) chain frame — the 5-variant removal grid
    iterates JOINTLY, 8 fixed join+aggregate steps on a
    checkpointed tiny frame (the markov_stationary discipline), so the
    oracle unrolls the identical recursion. Absorption sums are over
    ≤|states| float terms — the pagerank-proven class."""
    # Cut the journey at the conversion EVENT's position in the
    # (ts, event_id) total order, not at its raw ts: a ts-only cut
    # keeps timestamp-tied events that sort AFTER the conversion,
    # injecting transitions out of the absorbing CONV step. The row
    # index i is that total order, so `i <= conv_i` is tie-exact and
    # engine-portable (ROW_NUMBER is identical both sides).
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    idx = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("i")
    )
    seq = idx.select(
        "user_id",
        "event_type",
        "i",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("i"))
        ).over(Window.partitionBy("user_id")).alias("conv_i"),
    ).filter(F.col("conv_i").isNull() | (F.col("i") <= F.col("conv_i")))
    wj = Window.partitionBy("user_id").orderBy("i")
    steps = seq.select(
        "user_id",
        F.coalesce(F.lag("event_type").over(wj), F.lit("START")).alias("s"),
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("d"),
        "i",
        F.max("i").over(Window.partitionBy("user_id")).alias("last_i"),
        F.col("conv_i").isNotNull().alias("converted"),
    )
    # each step row emits its (s, d) edge plus — for the last step of a
    # non-converted path — the tail edge (d, NULL), in ONE pass: the
    # former union's tail branch re-ran the whole window pipeline
    tail_edge = F.when(
        (F.col("i") == F.col("last_i")) & ~F.col("converted"),
        F.array(F.struct(F.col("d").alias("s"), F.lit("NULL").alias("d"))),
    ).otherwise(F.array().cast("array<struct<s:string,d:string>>"))
    trans = (
        steps.select(
            F.explode(
                F.concat(F.array(F.struct("s", "d")), tail_edge)
            ).alias("e")
        )
        .select("e.s", "e.d")
        .groupBy("s", "d")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # states²-bounded
    )
    channels = (
        trans.select(F.col("s").alias("ch"))
        .filter(F.col("ch") != "START")
        .distinct()
    )
    variants = channels.select(F.col("ch").alias("removed")).unionByName(
        trans.sparkSession.createDataFrame([("none",)], "removed STRING")
    )
    # removal: edges INTO the removed channel go to NULL instead
    grid = trans.crossJoin(F.broadcast(variants)).select(
        "removed",
        "s",
        F.when(F.col("d") == F.col("removed"), F.lit("NULL"))
        .otherwise(F.col("d"))
        .alias("d"),
        "n",
    )
    tot = grid.groupBy("removed", "s").agg(F.sum("n").alias("tn"))
    tp = (
        grid.groupBy("removed", "s", "d")
        .agg(F.sum("n").alias("n"))
        .join(tot, ["removed", "s"])
        .select(
            "removed",
            "s",
            "d",
            (F.col("n").cast("double") / F.col("tn").cast("double")).alias(
                "p"
            ),
        )
        .localCheckpoint(eager=True)
    )
    pc = tp.filter(F.col("d") == "CONV").select(
        "removed", "s", F.col("p").alias("pconv")
    )
    tpt = tp.filter(~F.col("d").isin("CONV", "NULL")).localCheckpoint(
        eager=True
    )
    states = tp.select("removed", "s").distinct().localCheckpoint(eager=True)
    a = states.join(F.broadcast(pc), ["removed", "s"], "left").select(
        "removed", "s", F.coalesce("pconv", F.lit(0.0)).alias("a")
    )
    pins = RoundPins()
    for r in range(8):
        # every frame here is (variants x states)-bounded -> broadcast
        # hints keep the per-round joins exchange-free
        contrib = (
            tpt.join(
                F.broadcast(
                    a.select(
                        "removed",
                        F.col("s").alias("d"),
                        F.col("a").alias("ad"),
                    )
                ),
                ["removed", "d"],
            )
            .groupBy("removed", "s")
            .agg(F.sum(F.col("p") * F.col("ad")).alias("c"))
        )
        a = (
            states.join(F.broadcast(pc), ["removed", "s"], "left")
            .join(F.broadcast(contrib), ["removed", "s"], "left")
            .select(
                "removed",
                "s",
                (
                    F.coalesce("pconv", F.lit(0.0))
                    + F.coalesce("c", F.lit(0.0))
                ).alias("a"),
            )
        )
        if r < 7:
            a = pins.pin(a, eager=True)
            pins.materialized()
    b = a.filter(F.col("s") == "START").select(
        F.col("removed"), F.col("a").alias("b")
    )
    base = b.filter(F.col("removed") == "none").select(
        F.col("b").alias("b0")
    )
    eff = (
        b.filter(F.col("removed") != "none")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("removed").alias("channel"),
            "b",
            "b0",
            F.greatest(
                F.lit(1.0) - F.col("b") / F.nullif(F.col("b0"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("re"),
        )
    )
    tot_re = eff.agg(
        F.sum(F.round(F.col("re"), 9).cast("decimal(38,9)")).alias("sre")
    )
    return (
        eff.crossJoin(F.broadcast(tot_re))
        .select(
            "channel",
            F.round("b0", 6).alias("base_conv"),
            F.round("b", 6).alias("removal_conv"),
            F.round("re", 6).alias("removal_effect"),
            F.round(
                F.round(F.col("re"), 9)
                / F.nullif(F.col("sre").cast("double"), F.lit(0.0)),
                6,
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )


def sequence_pattern_support(events: DataFrame) -> DataFrame:
    """Frequent 2-sequence mining over user event histories (the GSP /
    PrefixSpan first level): for every ordered type pair a→b with
    support >= 0.05, the
    number of users whose FIRST a precedes their FIRST b, its support,
    and the lift against independence P(a→b)/(P(a in history)·
    P(b after a's median?)) simplified to support/(p_a·p_b) — the
    navigation-pattern table that seeds funnel definitions and
    curriculum orderings.

    Shape: one per-(user, type) first-occurrence aggregate (types are
    schema-bounded), the ordered-pair test is an in-row comparison
    after a user-keyed self-join on the bounded type set, and supports
    are exact integer counts over users; lift is one multiply-divide.
    The 'first occurrence' convention makes a→b and b→a disjoint for
    a ≠ b (strict timestamp order, event_id tiebreak)."""
    # first-occurrence key as a zero-padded sortable STRING (epoch
    # seconds + event_id): string MIN and string < compare identically
    # in any engine, unlike struct ordering
    fk = F.concat(
        F.lpad(F.unix_timestamp("ts").cast("string"), 12, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    first = events.groupBy("user_id", "event_type").agg(
        F.min(fk).alias("fk")
    )
    n_users = events.select("user_id").distinct().count()
    a = first.select(
        "user_id", F.col("event_type").alias("a"), F.col("fk").alias("ka")
    )
    b = first.select(
        "user_id", F.col("event_type").alias("b"), F.col("fk").alias("kb")
    )
    pairs = (
        a.join(b, "user_id")
        .filter(
            (F.col("a") != F.col("b")) & (F.col("ka") < F.col("kb"))
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_seq"))
    )
    per_type = first.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    out = (
        pairs.join(
            F.broadcast(
                per_type.select(F.col("event_type").alias("a"),
                                F.col("n_t").alias("na"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                per_type.select(F.col("event_type").alias("b"),
                                F.col("n_t").alias("nb"))
            ),
            "b",
        )
        .select(
            F.col("a").alias("first_type"),
            F.col("b").alias("then_type"),
            F.col("n_seq").cast("long").alias("n_users"),
            F.round(
                F.col("n_seq").cast("double") / F.lit(float(n_users)), 6
            ).alias("support"),
            F.round(
                (dec(F.col("n_seq")) * F.lit(n_users).cast("decimal(38,0)"))
                .cast("double")
                / (dec(F.col("na")) * dec(F.col("nb"))).cast("double"),
                6,
            ).alias("lift"),
        )
        .filter(F.col("support") >= F.lit(0.05))
        .orderBy(F.desc("support"), "first_type", "then_type")
    )
    return out


def referential_coverage_report(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Referential-integrity and coverage audit across the star schema:
    for each FK relationship, the orphan count (children whose parent
    key is missing — broken ingestion) and the unused-parent count
    (dimension rows no fact ever references — wasted broadcast bytes
    and a hint the dim is stale). The first data-quality table a
    warehouse runs after every load.

    Shape: each row is one left-anti-join count — Spark compiles these
    to broadcast/shuffled anti-joins with no row materialization; all
    outputs are exact integers."""
    def anti_count(child: DataFrame, ck: str, parent: DataFrame, pk: str):
        return child.join(
            parent.select(F.col(pk).alias(ck)).distinct(), ck, "left_anti"
        ).agg(F.count(F.lit(1)).alias("n"))

    spark = customer.sparkSession

    def rowf(rel: str, cnt: DataFrame, total: DataFrame):
        return (
            cnt.crossJoin(F.broadcast(total.withColumnRenamed("t", "tot")))
            .select(
                F.lit(rel).alias("relationship"),
                F.col("n").cast("long").alias("violations"),
                F.col("tot").cast("long").alias("total_rows"),
                F.round(
                    F.col("n").cast("double") / F.col("tot").cast("double"),
                    6,
                ).alias("violation_rate"),
            )
        )

    t_o = orders.agg(F.count(F.lit(1)).alias("t"))
    t_l = lineitem.agg(F.count(F.lit(1)).alias("t"))
    t_c = customer.agg(F.count(F.lit(1)).alias("t"))
    t_p = part.agg(F.count(F.lit(1)).alias("t"))
    t_s = supplier.agg(F.count(F.lit(1)).alias("t"))
    rows = [
        rowf("orders_without_customer",
             anti_count(orders, "o_custkey", customer, "c_custkey"), t_o),
        rowf("lineitem_without_order",
             anti_count(lineitem, "l_orderkey", orders, "o_orderkey"), t_l),
        rowf("lineitem_without_part",
             anti_count(lineitem, "l_partkey", part, "p_partkey"), t_l),
        rowf("lineitem_without_supplier",
             anti_count(lineitem, "l_suppkey", supplier, "s_suppkey"), t_l),
        rowf("customers_never_ordered",
             anti_count(customer, "c_custkey", orders, "o_custkey"), t_c),
        rowf("parts_never_sold",
             anti_count(part, "p_partkey", lineitem, "l_partkey"), t_p),
        rowf("suppliers_never_used",
             anti_count(supplier, "s_suppkey", lineitem, "l_suppkey"), t_s),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("relationship")


def power_analysis_report(events: DataFrame) -> DataFrame:
    """Experiment sample-size planner anchored on the MEASURED baseline:
    from the data's purchase conversion rate, the required users per
    arm to detect each of a grid of relative lifts at α = 5% (two-
    sided) and 80% power — the two-proportion formula
    n = (z_α·√(2·p̄·q̄) + z_β·√(p₁q₁ + p₂q₂))² / (p₁ − p₂)². The table
    that answers "can this experiment even conclude in a week?".

    Exactness: the baseline is an exact integer ratio; each grid row is
    a fixed chain of single IEEE ops on that one double (the oracle
    replays the identical expression); the grid is a literal array.
    Conversion is "purchased within the first hour of activity" (the
    ab_conversion_ztest definition) — 'ever purchased' saturates on an
    active-user stream and pushes p₂ = p₁(1+lift) past 1."""
    base = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    ).select(
        (
            F.col("first_purchase").isNotNull()
            & F.expr("first_purchase <= first_ts + INTERVAL 1 HOUR")
        ).cast("long").alias("c")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("conv")
    )
    p1 = F.col("conv").cast("double") / F.col("n").cast("double")
    grid = base.select(
        p1.alias("p1"),
        F.col("n").cast("long").alias("n_users_observed"),
        F.explode(
            F.array(*[F.lit(x) for x in (0.01, 0.02, 0.05, 0.10, 0.20)])
        ).alias("rel_lift"),
    )
    p2 = F.col("p1") * (F.lit(1.0) + F.col("rel_lift"))
    pbar = (F.col("p1") + p2) / F.lit(2.0)
    num = (
        F.lit(1.959963985) * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
        + F.lit(0.841621234)
        * F.sqrt(
            F.col("p1") * (F.lit(1.0) - F.col("p1"))
            + p2 * (F.lit(1.0) - p2)
        )
    )
    n_req = (num * num) / ((p2 - F.col("p1")) * (p2 - F.col("p1")))
    return grid.select(
        "rel_lift",
        F.round(F.col("p1"), 6).alias("baseline_rate"),
        F.round(p2, 6).alias("target_rate"),
        F.ceil(n_req).cast("long").alias("users_per_arm"),
        "n_users_observed",
        (F.ceil(n_req) * 2 <= F.col("n_users_observed")).alias(
            "feasible_on_current_traffic"
        ),
    ).orderBy("rel_lift")


def dim_broadcast_audit(tables: "dict[str, DataFrame]") -> DataFrame:
    """Broadcast-feasibility audit for the dimension tables: estimated
    in-memory size (fixed 8 bytes per numeric/temporal column, exact
    summed byte-lengths for strings, 16 bytes row overhead) against
    the auto-broadcast threshold — the planning table that says which
    join sides are safely `broadcast()`-hintable before a 100× scale-up
    flips one of them silently into a shuffle join.

    The size model is deliberately simple and DOCUMENTED (it is an
    audit heuristic, not JVM-exact); every term is an exact integer
    aggregate, so the oracle replays it bit-for-bit."""
    from pyspark.sql.types import NumericType, StringType, TimestampType

    spark = next(iter(tables.values())).sparkSession
    outs = []
    for name, df in sorted(tables.items()):
        fixed = 0
        str_cols = []
        for f in df.schema.fields:
            if isinstance(f.dataType, StringType):
                str_cols.append(f.name)
            elif isinstance(f.dataType, (NumericType, TimestampType)):
                fixed += 8
            else:
                fixed += 8
        size_expr = F.lit(16 + fixed)
        for c in str_cols:
            size_expr = size_expr + F.coalesce(
                F.length(F.col(c)), F.lit(0)
            )
        outs.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(size_expr).alias("est_bytes"),
            ).select(
                F.lit(name).alias("table_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("est_bytes").cast("long").alias("est_bytes"),
                (F.col("est_bytes") <= F.lit(10 * 1024 * 1024)).alias(
                    "auto_broadcastable"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("table_name")


def session_bounce_report(events: DataFrame) -> DataFrame:
    """Per-entry-type session bounce rates: sessionize each user's
    stream at 30-minute gaps, key every session by its FIRST
    event type, and report how many sessions of each entry type end
    after that single event — the landing-quality table (a high-bounce
    entry type is where engagement dies).

    Shape: the lag/cumsum sessionization window partitions by user
    (the standard shape), session aggregates are one groupBy, all
    counts exact integers."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lit(30 * 60)
    sess = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
                > gap,
                1,
            )
            .otherwise(0)
            .cast("long")
        )
        .over(w)
        .alias("sid"),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(
            F.concat(
                F.lpad(F.unix_timestamp("ts").cast("string"), 12, "0"),
                F.lit(":"),
                F.lpad(F.col("event_id").cast("string"), 20, "0"),
                F.lit(":"),
                F.col("event_type"),
            )
        ).alias("first_key"),
    )
    typed = per_sess.select(
        F.element_at(F.split("first_key", ":"), 3).alias("entry_type"),
        "n_events",
    )
    return (
        typed.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("bounces"),
            F.max("n_events").alias("max_session_events"),
        )
        .select(
            "entry_type",
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.col("bounces").cast("long").alias("bounces"),
            F.round(
                F.col("bounces").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("bounce_rate"),
            F.col("max_session_events").cast("long").alias(
                "max_session_events"
            ),
        )
        .orderBy("entry_type")
    )


def neyman_allocation(docs: DataFrame) -> DataFrame:
    """Neyman-optimal stratified sampling design for estimating the
    corpus mean of a value column: each stratum's share of a 1000-row
    sample budget is proportional to N_h·S_h (size × within-stratum std) —
    the allocation that minimizes estimator variance, and the reason
    high-variance strata deserve more than proportional sampling.

    Exactness: per-stratum N and S come from exact integer Σx, Σx²
    (sample variance (n·Σx² − S²)/(n(n−1)), one sqrt); each weight
    term N_h·S_h quantizes at 6dp into DECIMAL(38,6) so the
    normalizing sum is order-free; allocations are ceil(1000·w)."""
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    per = docs.groupBy(F.col("source").alias("g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("n_chars"))).alias("sx"),
        F.sum(dec(F.col("n_chars")) * dec(F.col("n_chars"))).alias("sq"),
    )
    n = F.col("n").cast("double")
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("sq")
        - F.col("sx") * F.col("sx")
    ).cast("double") / (n * (n - F.lit(1.0)))
    term = F.round(n * F.sqrt(F.greatest(var, F.lit(0.0))), 6).cast(
        "decimal(38,6)"
    )
    scored = per.select(
        "g", "n", var.alias("v"), term.alias("t")
    )
    tot = scored.agg(F.sum("t").alias("tt"))
    w = F.col("t").cast("double") / F.nullif(
        F.col("tt").cast("double"), F.lit(0.0)
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            F.col("g").alias("stratum"),
            F.col("n").cast("long").alias("n_rows"),
            F.round(F.sqrt(F.greatest(F.col("v"), F.lit(0.0))), 6).alias(
                "stddev"
            ),
            F.round(w, 6).alias("neyman_share"),
            F.ceil(w * F.lit(1000.0)).cast("long").alias(
                "allocated_n"
            ),
        )
        .orderBy("stratum")
    )


def tail_index_user_value(events: DataFrame) -> DataFrame:
    """Hill tail-index estimate over the top k = 100 user lifetime
    values — the heavy-tail exponent of revenue concentration (α ≤ 1:
    the mean is dominated by whales and capacity plans built on averages
    are fiction; α > 2: finite variance, normal statistics apply), plus
    the top-k value share.

    Scale shape: per-user totals are order-free DECIMAL sums; the
    top-k selection is orderBy+limit = TakeOrdered (map-side top-k, no
    global sort); every ln(x_i/x_k) quantizes at 9dp into
    DECIMAL(38,9) over the k-row frame. α = k_eff/Σ is one division."""
    pu = (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(
                F.round(F.col("value"), 6).cast("decimal(38,6)")
            ).alias("v")
        )
        .filter(F.col("v") > 0)
        .localCheckpoint(eager=True)
    )
    top = pu.orderBy(F.desc("v"), F.asc("user_id")).limit(100).localCheckpoint(
        eager=True
    )
    thr = top.agg(F.min("v").alias("xk"), F.count(F.lit(1)).alias("ke"))
    term = F.round(
        F.log(F.col("v").cast("double") / F.col("xk").cast("double")), 9
    ).cast("decimal(38,9)")
    s = (
        top.crossJoin(F.broadcast(thr))
        .agg(
            F.max("ke").alias("ke"),
            F.max("xk").alias("xk"),
            F.sum(term).alias("slog"),
            F.sum("v").alias("topv"),
        )
    )
    tot = pu.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("v").alias("allv")
    )
    alpha = F.col("ke").cast("double") / F.nullif(
        F.col("slog").cast("double"), F.lit(0.0)
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            F.col("ke").cast("long").alias("k_used"),
            F.round(F.col("xk").cast("double"), 6).alias("threshold_value"),
            F.round(alpha, 6).alias("hill_alpha"),
            F.round(
                F.col("topv").cast("double") / F.col("allv").cast("double"),
                6,
            ).alias("topk_value_share"),
        )
    )


def lm_interpolation_weights(docs: DataFrame) -> DataFrame:
    """Jelinek-Mercer interpolation weight λ for
    P(w|v) = λ·P_bigram(w|v) + (1−λ)·P_unigram(w), fit by 3
    EM steps on a held-out md5 split — the classic LM smoothing
    calibration (Jelinek & Mercer 1980): high λ says bigram context
    generalizes to held-out text; low λ says the bigram table is
    memorizing.

    Train/held split is the deterministic md5 unit interval (80/20);
    P_unigram is add-1 smoothed over the train vocab, P_bigram is the
    MLE with unseen (context, word) contributing 0, and every EM
    responsibility quantizes at 9dp into DECIMAL(38,9) so the per-round
    averages are order-free — each round is ONE aggregate over the
    checkpointed held-out bigram frame, and the λ recursion is a fixed
    scalar chain the oracle unrolls."""
    from ..functions.text import word_tokens
    from .curation import hash_unit

    base = docs.select(
        F.col("doc_id").alias("d"),
        word_tokens(F.col("text")).alias("tk"),
        (hash_unit(F.col("doc_id"), "lmmix") < 0.8).alias("is_train"),
    ).filter(F.size("tk") >= 2)
    pairs = base.select(
        "is_train",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tk"), i).alias("wa"),
                    F.element_at(F.col("tk"), i + 1).alias("wb"),
                ),
            )
        ).alias("p"),
    ).select(
        "is_train", F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb")
    )
    train = pairs.filter(F.col("is_train"))
    held = pairs.filter(~F.col("is_train"))
    big = train.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("cvw"))
    ctx = big.groupBy("wa").agg(F.sum("cvw").alias("cv"))
    uni = (
        train.select(F.col("wb").alias("w"))
        .unionAll(train.select(F.col("wa").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    un = uni.agg(
        F.sum("cw").alias("nt"), F.count(F.lit(1)).alias("vocab")
    )
    scored = (
        held.join(big, ["wa", "wb"], "left")
        .join(ctx, "wa", "left")
        .join(uni.withColumnRenamed("w", "wb"), "wb", "left")
        .crossJoin(F.broadcast(un))
        .select(
            F.when(
                F.col("cvw").isNotNull() & F.col("cv").isNotNull(),
                F.col("cvw").cast("double") / F.col("cv").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("pb"),
            (
                (F.coalesce(F.col("cw"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("nt") + F.col("vocab")).cast("double")
            ).alias("pu"),
        )
        .localCheckpoint(eager=True)
    )
    n_held = scored.count()
    lam = 0.5
    lams = []
    for _ in range(3):
        lam_col = F.lit(lam)
        resp = F.round(
            (lam_col * F.col("pb"))
            / (lam_col * F.col("pb") + (F.lit(1.0) - lam_col) * F.col("pu")),
            9,
        ).cast("decimal(38,9)")
        row = scored.agg(F.sum(resp).alias("sr")).collect()[0]
        lam = float(row["sr"]) / n_held if n_held else 0.0
        lams.append(lam)
    spark = docs.sparkSession
    # F.round (HALF_UP) — not Python round (half-even) — so the output
    # quantization matches the oracle's SQL ROUND exactly
    return spark.range(1).select(
        F.lit(int(n_held)).cast("long").alias("n_held_bigrams"),
        *[
            F.round(F.lit(x), 6).alias(f"lambda_round{i + 1}")
            for i, x in enumerate(lams)
        ],
    )


def attribution_window_sensitivity(events: DataFrame) -> DataFrame:
    """Conversion-rate sensitivity to the attribution window: the share
    of users whose first purchase lands within 1h / 6h / 24h / 7d of
    their first activity — the table that shows how much of a
    'conversion lift' is really just window choice (the classic
    attribution knob fight, settled with data).

    One per-user aggregate, then four conditional sums over exact
    integer second-differences; rates are single divisions."""
    pu = events.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("t0"),
        F.unix_timestamp(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("tp"),
    )
    lag = F.col("tp") - F.col("t0")
    agg = pu.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.when(
                    F.col("tp").isNotNull() & (lag <= F.lit(w)), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias(f"c{w}")
            for w in (3600, 21600, 86400, 604800)
        ],
    )
    spark = events.sparkSession
    labels = [("1h", 3600), ("6h", 21600), ("24h", 86400), ("7d", 604800)]
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lbl).alias("window"),
                            F.lit(w).cast("long").alias("window_seconds"),
                            F.col(f"c{w}").cast("long").alias("conversions"),
                            F.col("n").cast("long").alias("n_users"),
                        )
                        for lbl, w in labels
                    ]
                )
            ).alias("s")
        )
        .select(
            F.col("s.window").alias("window"),
            F.col("s.window_seconds").alias("window_seconds"),
            F.col("s.conversions").alias("conversions"),
            F.col("s.n_users").alias("n_users"),
            F.round(
                F.col("s.conversions").cast("double")
                / F.col("s.n_users").cast("double"),
                6,
            ).alias("conv_rate"),
        )
        .orderBy("window_seconds")
    )


def quantile_treatment_effect(events: DataFrame) -> DataFrame:
    """Quantile treatment effect: per-arm deciles of user lifetime
    value and their differences — the distributional readout an
    average lift hides (a treatment can leave the mean flat while
    shifting only the top decile, or lift the median while hurting
    whales; QTE is how you see which).

    Assignment replays the md5 unit interval; per-user totals are
    order-free DECIMAL sums; each arm's decile boundaries come from
    the scale-safe ``exact_ntile`` (range-partitioned, no global
    window) as the MAX value in each tile — exact order statistics.
    The arms join on decile; the effect is one subtraction."""
    from .curation import exact_ntile, hash_unit

    pu = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.col("user_id").alias("uid"))
        .agg(
            F.sum(
                F.round(F.col("value"), 6).cast("decimal(38,6)")
            ).alias("v")
        )
        .select(
            F.when(hash_unit(F.col("uid"), "qte") < 0.5, F.lit("A"))
            .otherwise(F.lit("B"))
            .alias("arm"),
            "uid",
            "v",
        )
        .localCheckpoint(eager=True)
    )

    def arm_deciles(arm: str) -> DataFrame:
        part = pu.filter(F.col("arm") == arm)
        tiled = exact_ntile(
            part, [F.col("v"), F.col("uid")], 10, out_col="decile"
        )
        return tiled.groupBy("decile").agg(
            F.max("v").alias(f"v_{arm.lower()}"),
            F.count(F.lit(1)).alias(f"n_{arm.lower()}"),
        )

    a = arm_deciles("A")
    b = arm_deciles("B")
    return (
        a.join(b, "decile")
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("v_a").cast("double"), 6).alias("value_a"),
            F.round(F.col("v_b").cast("double"), 6).alias("value_b"),
            (
                F.round(
                    F.col("v_b").cast("double") - F.col("v_a").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("qte_b_minus_a"),
        )
        .orderBy("decile")
    )


def poisson_bootstrap_ci(events: DataFrame) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean
    value (Chamandy et al. 2012, "Estimating Uncertainty for Massive
    Data Streams" — the Google large-scale bootstrap): instead of
    resampling n rows WITH replacement (which needs a global pass per
    replicate), each row independently draws a Poisson(1) multiplicity
    per replicate, which converges to the multinomial bootstrap at
    large n and makes every replicate a ROW-LOCAL weight. All
    32 replicate sums accumulate in ONE aggregation
    (map-side combined — the explode inflates rows only inside the
    scan stage; the shuffle carries groups x replicates partials).

    Determinism: the multiplicity comes from the engine-portable md5
    unit interval keyed by (event_id, replicate), inverted through the
    exact Poisson(1) CDF thresholds (truncated at 6, CDF 0.99999); the
    oracle replays the identical CASE ladder. Replicate means quantize
    at 9 dp before ranking so the order statistic picks identical rows
    in both engines. The interval is the 2nd..31st order statistic of
    32 replicate means (~93.75% coverage), reported beside the full-
    sample point estimate. Exactness: weighted sums are
    DECIMAL(38,0)-weight x DECIMAL(38,6)-value products (order-free);
    the mean division is the only float op per replicate."""
    ev = events.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        "event_id",
        F.round(F.col("value"), 6).cast("decimal(38,6)").alias("qv"),
    )
    base = ev.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("qv").alias("sv")
    )
    from .curation import hash_unit
    from ._scan import spread

    # placement cannot change the result: the draws are keyed on
    # (event_id, b) and the replicate sums are order-free decimals
    reps = spread(ev).withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(31)))
    )
    u = hash_unit(F.concat_ws(":", F.col("event_id"), F.col("b")), "boot")
    # exact Poisson(1) CDF ladder: P(X<=k) = e^-1 * sum 1/j!
    w = (
        F.when(u < F.lit(0.36787944117144233), F.lit(0))
        .when(u < F.lit(0.7357588823428847), F.lit(1))
        .when(u < F.lit(0.9196986029286058), F.lit(2))
        .when(u < F.lit(0.9810118431238462), F.lit(3))
        .when(u < F.lit(0.9963401531726563), F.lit(4))
        .when(u < F.lit(0.9994058151824183), F.lit(5))
        .otherwise(F.lit(6))
    )
    per = (
        reps.select("g", "b", F.col("qv"), w.alias("w"))
        .groupBy("g", "b")
        .agg(
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("qv")).alias(
                "sw"
            ),
            F.sum("w").cast("long").alias("nw"),
        )
    )
    mean_b = (
        F.round(
            F.col("sw").cast("double")
            / F.nullif(F.col("nw").cast("double"), F.lit(0.0)),
            9,
        )
        + F.lit(0.0)
    )
    # NULL means (a replicate whose Poisson weights were all zero --
    # only possible for tiny groups) are EXCLUDED before ranking:
    # Spark orders NULLS FIRST, DuckDB NULLS LAST, so a NULL in the
    # rank frame would silently diverge the order statistics.
    ranked = (
        per.select("g", "b", mean_b.alias("m"))
        .filter(F.col("m").isNotNull())
        .select(
            "g",
            "m",
            F.row_number()
            .over(Window.partitionBy("g").orderBy("m", "b"))
            .alias("r"),
        )
    )
    ci = ranked.groupBy("g").agg(
        F.max(F.when(F.col("r") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("r") == 31, F.col("m"))).alias(
            "hi"
        ),
    )
    return (
        base.join(ci, "g")
        .select(
            F.col("g").alias("group_key"),
            F.col("n_events").cast("long").alias("n_events"),
            (
                F.round(
                    F.col("sv").cast("double")
                    / F.col("n_events").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("point_mean"),
            (F.round(F.col("lo"), 6) + F.lit(0.0)).alias("boot_lo"),
            (F.round(F.col("hi"), 6) + F.lit(0.0)).alias("boot_hi"),
        )
        .orderBy("group_key")
    )


def bh_fdr_report(events: DataFrame) -> DataFrame:
    """Benjamini-Hochberg FDR correction across the per-event-type A/B
    mean-value comparisons (Benjamini & Hochberg 1995) — the guard a
    metrics platform applies when ONE experiment readout fans out into
    many simultaneous tests: raw p < 0.05 on 20 metrics yields ~1 false
    positive by construction; BH bounds the expected false-discovery
    rate at q = 0.10 by the step-up rule (reject the k smallest p-values
    where p_(k) <= k*q/m).

    Per type: Welch z on per-event values between md5-assigned arms,
    p from the normal CDF via the Bowling et al. 2009 logistic
    approximation Phi(x) ~ 1/(1+exp(-(0.07056x^3+1.5976x))) (|err| <
    1.4e-4; a closed form of single IEEE ops, so both engines compute
    the identical double — Spark and DuckDB share no erf builtin).
    Exactness: per-arm sums/squares accumulate in DECIMAL (values
    quantized at 6 dp; squares exact at scale 12); p quantizes at 9 dp
    before the rank so the step-up compares identical doubles. Scale
    shape: one per-(type, arm) aggregate; everything after lives on
    the TYPES-sized frame — the two unpartitioned windows (p-rank and
    the step-up max) are bounded by the type-domain cardinality, never
    row count."""
    from .curation import hash_unit

    dec6 = lambda col: col.cast("decimal(38,6)")  # noqa: E731
    ev = events.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.when(hash_unit(F.col("user_id"), "bh") < 0.5, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.round(F.col("value"), 6).cast("decimal(38,6)").alias("qv"),
    )
    per = ev.groupBy("g", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s"),
        F.sum(dec6(F.col("qv")) * dec6(F.col("qv"))).alias("ss"),
    )
    a = per.filter(F.col("arm") == "A").select(
        "g",
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    b = per.filter(F.col("arm") == "B").select(
        "g",
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
    )
    # arms with a single event make the sample variance 0/0 (NaN with
    # engine-specific payload bits); require n >= 2 per arm (mirrored
    # in the oracle's WHERE)
    j = a.join(b, "g").filter((F.col("na") > 1) & (F.col("nb") > 1))
    dn = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # sample variance via exact decimal (n*ss - s^2) / (n*(n-1))
    var_a = (dn("na") * F.col("ssa") - F.col("sa") * F.col("sa")).cast(
        "double"
    ) / (
        F.col("na").cast("double") * (F.col("na") - F.lit(1)).cast("double")
    )
    var_b = (dn("nb") * F.col("ssb") - F.col("sb") * F.col("sb")).cast(
        "double"
    ) / (
        F.col("nb").cast("double") * (F.col("nb") - F.lit(1)).cast("double")
    )
    z = (
        F.col("sa").cast("double") / F.col("na").cast("double")
        - F.col("sb").cast("double") / F.col("nb").cast("double")
    ) / F.nullif(
        F.sqrt(
            var_a / F.col("na").cast("double")
            + var_b / F.col("nb").cast("double")
        ),
        F.lit(0.0),
    )
    az = F.abs(z)
    phi = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(F.lit(0.07056) * az * az * az + F.lit(1.5976) * az)
        )
    )
    p9 = F.round(F.lit(2.0) * (F.lit(1.0) - phi), 9) + F.lit(0.0)
    # a zero-variance pair of arms (constant value in both, n > 1) makes
    # the Welch SE 0, so nullif yields NULL z / NULL p; NULL p must not
    # reach the rank (Spark orders NULLs first, DuckDB last — the exact
    # divergence class fixed in poisson_bootstrap_ci) nor count into m
    scored = j.select(
        "g", "na", "nb", F.round(z, 6).alias("z6"), p9.alias("p")
    ).filter(F.col("p").isNotNull())
    wr = Window.orderBy("p", "g")
    ranked = scored.select(
        "*",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k = F.max(
        F.when(
            F.col("p")
            <= F.col("r").cast("double") * F.lit(0.10) / F.col("m").cast("double"),
            F.col("r"),
        ).otherwise(F.lit(0))
    ).over(wall)
    return ranked.select(
        F.col("g").alias("event_type"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (F.col("z6") + F.lit(0.0)).alias("z"),
        F.col("p").alias("p_value"),
        F.col("r").cast("long").alias("p_rank"),
        (F.col("r") <= k).alias("rejected"),
    ).orderBy("p_rank")


def psi_drift_report(events: DataFrame) -> DataFrame:
    """Population-stability-index drift report for the event value
    distribution between the first and second half of the data span —
    the standard model-monitoring drift metric (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 retrain): bucket the metric into
    equal-depth deciles over the FULL period, then
    PSI = sum (p_i - q_i) * ln(p_i / q_i) over the halves' bucket
    shares. Equal-depth (not fixed-width) buckets make the report
    scale-free and heavy-tail-proof.

    Bucket assignment is :func:`avro_sql_spark.operators.curation.
    exact_ntile` over (value, event_id) — the two-pass
    range-partitioned rank, no single-partition window — mirrored by
    the oracle's NTILE over the identical total order. The period cut
    is integer epoch-second arithmetic ((min+max) div 2, the did_lift
    device). Exactness: cell counts are exact integers; each PSI term
    is one closed-form float expression quantized at 9 dp into
    DECIMAL(38,9) so the 10-term total is order-free; buckets empty in
    either half contribute NULL (excluded from the sum — the
    standard epsilon-free convention, stated in the output). Scale
    shape: two rank passes + one 2x10 aggregate; the
    decile frame is localCheckpoint-ed (it forks into per-bucket rows
    and the total)."""
    from .curation import exact_ntile

    bounds = events.agg(
        F.unix_timestamp(F.min("ts")).alias("mn"),
        F.unix_timestamp(F.max("ts")).alias("mx"),
    ).select(F.expr("(mn + mx) div 2").alias("mid"))
    ev = (
        events.filter(F.col("value").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            "value",
            F.when(
                F.unix_timestamp(F.col("ts")) < F.col("mid"), F.lit(1)
            )
            .otherwise(F.lit(2))
            .alias("half"),
        )
    )
    tiled = exact_ntile(
        ev, [F.asc("value"), F.asc("event_id")], 10, out_col="decile"
    )
    cells = (
        tiled.groupBy("decile")
        .agg(
            F.sum(
                F.when(F.col("half") == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_h1"),
            F.sum(
                F.when(F.col("half") == 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_h2"),
        )
        .localCheckpoint(eager=True)  # n_buckets-sized frame, forked
    )
    tot = cells.agg(
        F.sum("n_h1").alias("t1"), F.sum("n_h2").alias("t2")
    )
    j = cells.crossJoin(F.broadcast(tot))
    p = F.col("n_h1").cast("double") / F.col("t1").cast("double")
    qq = F.col("n_h2").cast("double") / F.col("t2").cast("double")
    term = F.when(
        (F.col("n_h1") > 0) & (F.col("n_h2") > 0),
        F.round((p - qq) * F.log(p / qq), 9) + F.lit(0.0),
    )
    terms = j.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n_h1").cast("long").alias("n_h1"),
        F.col("n_h2").cast("long").alias("n_h2"),
        term.alias("psi_term"),
    ).localCheckpoint(eager=True)  # forks into rows + total
    total = terms.agg(
        F.round(
            F.coalesce(
                F.sum(F.col("psi_term").cast("decimal(38,9)")),
                F.lit(0).cast("decimal(38,9)"),
            ).cast("double"),
            6,
        ).alias("pt")
    )
    return (
        terms.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_h1",
            "n_h2",
            "psi_term",
            (F.col("pt") + F.lit(0.0)).alias("psi_total"),
        )
        .orderBy("decile")
    )


def salt_plan_report(df: DataFrame) -> DataFrame:
    """Skew-salting planner: from the key histogram, recommend a
    per-key salt factor that splits each hot key into enough sub-keys
    that no single task holds more than one partition-target of rows —
    the audit a pipeline runs BEFORE a shuffle on a suspected-skewed
    key (the prescriptive counterpart of shuffle_skew_audit, which
    only diagnoses). salt_n = ceil(key_rows / target) capped at
    16, target = ceil(total / 32); the report
    shows the 20 heaviest keys with their before/after
    max-task-rows so the win is visible next to the cost (salt_n-way
    duplicate of the build side in a salted join).

    All-integer arithmetic (ceil(a/b) as (a+b-1) div b, the
    exact_ntile device) — bit-identical in any engine. Scale shape:
    one map-side-combined count per key, one scalar total broadcast
    back, top-k via orderBy+limit (TakeOrdered, no global sort)."""
    per = df.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = per.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("nk"))
    j = per.crossJoin(F.broadcast(tot))
    target = F.expr("(total + 32 - 1) div 32")
    out = (
        j.select("k", "n", target.alias("t"))
        .select(
            F.col("k").alias("key"),
            F.col("n").cast("long").alias("n_rows"),
            F.col("t").cast("long").alias("target_rows"),
            F.greatest(
                F.lit(1).cast("long"),
                F.least(
                    F.lit(16).cast("long"),
                    F.expr("(n + t - 1) div t"),
                ),
            ).alias("salt_n"),
        )
        .select(
            "key",
            "n_rows",
            "target_rows",
            "salt_n",
            F.expr("(n_rows + salt_n - 1) div salt_n").alias(
                "rows_per_task_after"
            ),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(20)
    )
    return out


def jackknife_ratio_ci(events: DataFrame) -> DataFrame:
    """Delete-one-day jackknife confidence interval for the
    conversions-per-event ratio (Quenouille 1956 / Tukey 1958; the
    delete-a-GROUP variant Google's experiment platform applies to
    ratio metrics, where rows within a day are correlated so the IID
    bootstrap understates variance): recompute the ratio with each day
    removed, r_i = (P - p_i)/(E - e_i), and
    SE^2 = (D-1)/D * sum (r_i - rbar)^2.

    Exactness: per-day counts are exact integers; each leave-one-out
    ratio is held as the INTEGER round(r * 1e9) — not DECIMAL(38,9),
    whose square needs scale 18 and precision 76, where Spark silently
    reduces scale and DuckDB falls back to DOUBLE, diverging — so the
    deviation sum (D*sum ri^2 - (sum ri)^2) is exact DECIMAL(38,0)
    integer arithmetic, descaled by 1e9 only inside the final sqrt;
    that sqrt and the +/- z*SE assembly are the only float ops,
    written identically in the oracle. Scale
    shape: one map-side-combined day aggregate; everything after lives
    on the day-domain-sized frame (localCheckpoint-ed — it forks into
    totals and the leave-one-out pass)."""
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("e"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("p"),
        )
        .localCheckpoint(eager=True)  # day-domain frame, forked
    )
    tot = daily.agg(
        F.sum("e").alias("te"),
        F.sum("p").alias("tp"),
        F.count(F.lit(1)).alias("nd"),
    )
    loo = daily.crossJoin(F.broadcast(tot)).select(
        "te",
        "tp",
        "nd",
        F.round(
            (F.col("tp") - F.col("p")).cast("double")
            / F.nullif(
                (F.col("te") - F.col("e")).cast("double"), F.lit(0.0)
            )
            * F.lit(1000000000.0),
            0,
        )
        .cast("long")
        .alias("ri"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = loo.groupBy("te", "tp", "nd").agg(
        F.sum(dec(F.col("ri"))).alias("sr"),
        F.sum(dec(F.col("ri")) * dec(F.col("ri"))).alias("srr"),
    )
    d = F.col("nd").cast("double")
    num = (
        F.col("nd").cast("decimal(38,0)") * F.col("srr")
        - F.col("sr") * F.col("sr")
    ).cast("double")
    se = (
        F.sqrt(F.greatest((d - F.lit(1.0)) * num / (d * d), F.lit(0.0)))
        / F.lit(1000000000.0)
    )
    ratio = F.col("tp").cast("double") / F.col("te").cast("double")
    return s.select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("te").cast("long").alias("n_events"),
        F.col("tp").cast("long").alias("n_conversions"),
        (F.round(ratio, 6) + F.lit(0.0)).alias("ratio"),
        (F.round(se, 6) + F.lit(0.0)).alias("jk_se"),
        (F.round(ratio - F.lit(1.959963985) * se, 6) + F.lit(0.0)).alias("ci_lo"),
        (F.round(ratio + F.lit(1.959963985) * se, 6) + F.lit(0.0)).alias("ci_hi"),
    )


def cochran_armitage_trend(events: DataFrame) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954; Armitage 1955) for
    "does conversion propensity RISE with user value?" — the ordered
    alternative a plain chi-square cannot see: users are ranked into
    3 value tiers (exact_ntile over per-user quantized spend), each
    tier scored 1..3, and the statistic tests a linear
    trend in per-tier conversion rates. One row: per-tier user/convert
    counts plus z and its two-sided p.

    Exactness: with integer tier counts n_i, converts c_i, scores s_i,
    totals N, R: z = (N*Sc - R*Sn) / sqrt(R*(N-R)*(N*Snn - Sn^2)/N)
    where Sc, Sn, Snn are integer score-weighted sums — every product
    accumulates in DECIMAL(38,0) (operands cast BEFORE multiplying),
    the sqrt/division are the only float ops, and p comes from the
    same Bowling-approximation normal CDF as bh_fdr_report (identical
    closed form both engines). Scale shape: one per-user aggregate,
    two rank passes (the exact_ntile device), one 3-row cell
    aggregate, scalar assembly."""
    from .curation import exact_ntile

    pu = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")),
                F.lit(0).cast("decimal(38,6)"),
            ).alias("v"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("conv"),
        )
        .localCheckpoint(eager=False)
    )
    tiled = exact_ntile(
        pu, [F.asc("v"), F.asc("user_id")], 3, out_col="tier"
    )
    cells = tiled.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("c").alias("r"),
        F.sum(dec(F.col("tier")) * dec(F.col("c"))).alias("sc"),
        F.sum(dec(F.col("tier")) * dec(F.col("n"))).alias("sn"),
        F.sum(
            dec(F.col("tier")) * dec(F.col("tier")) * dec(F.col("n"))
        ).alias("snn"),
        F.max(F.when(F.col("tier") == 1, F.col("c"))).alias("c1"),
        F.max(F.when(F.col("tier") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("tier") == 2, F.col("c"))).alias("c2"),
        F.max(F.when(F.col("tier") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("tier") == 3, F.col("c"))).alias("ck"),
        F.max(F.when(F.col("tier") == 3, F.col("n"))).alias("nk"),
    )
    num = (dec(F.col("nn")) * F.col("sc") - dec(F.col("r")) * F.col("sn")).cast(
        "double"
    )
    den_i = (
        dec(F.col("r"))
        * dec(F.col("nn") - F.col("r"))
        * (dec(F.col("nn")) * F.col("snn") - F.col("sn") * F.col("sn"))
    ).cast("double")
    z = num / F.nullif(
        F.sqrt(den_i / F.col("nn").cast("double")), F.lit(0.0)
    )
    az = F.abs(z)
    phi = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.lit(0.07056) * az * az * az + F.lit(1.5976) * az))
    )
    return s.select(
        F.col("nn").cast("long").alias("n_users"),
        F.col("n1").cast("long").alias("n_low"),
        F.col("c1").cast("long").alias("conv_low"),
        F.col("n2").cast("long").alias("n_mid"),
        F.col("c2").cast("long").alias("conv_mid"),
        F.col("nk").cast("long").alias("n_high"),
        F.col("ck").cast("long").alias("conv_high"),
        (F.round(z, 6) + F.lit(0.0)).alias("trend_z"),
        (
            F.round(F.lit(2.0) * (F.lit(1.0) - phi), 9) + F.lit(0.0)
        ).alias("p_value"),
    )


def split_half_reliability(events: DataFrame) -> DataFrame:
    """Split-half reliability of per-user event counts with the
    Spearman-Brown step-up (Spearman 1910; Brown 1910) — the metric-
    quality audit an experimentation platform runs before trusting a
    per-user engagement metric: split each user's events into two
    deterministic halves (md5 on event_id), correlate the half-counts
    across users, and correct the half-length correlation to full
    length via 2r/(1+r). Low reliability means the metric is mostly
    within-user noise and experiments on it are underpowered.

    Exactness: half-counts are integers; the correlation's five sums
    accumulate in DECIMAL(38,0) with operands cast before every
    product; the two sqrts and the final ratios are the only float
    ops, identical in the oracle. Scale shape: one per-(user, half)
    countable aggregate, one scalar assembly row."""
    from .curation import hash_unit

    halves = events.groupBy("user_id").agg(
        F.sum(
            F.when(
                hash_unit(F.col("event_id"), "shr") < 0.5, F.lit(1)
            ).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(
                hash_unit(F.col("event_id"), "shr") < 0.5, F.lit(0)
            ).otherwise(F.lit(1))
        ).alias("y"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = halves.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    r = num / F.nullif(F.sqrt(dx) * F.sqrt(dy), F.lit(0.0))
    sb = F.lit(2.0) * r / (F.lit(1.0) + r)
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        (F.round(r, 6) + F.lit(0.0)).alias("half_corr"),
        (F.round(sb, 6) + F.lit(0.0)).alias("sb_reliability"),
    )


def partition_layout_advisor(events: DataFrame) -> DataFrame:
    """Partition-column advisor: for each candidate partition key of
    the events table (event_type, event day, a 256-way user bucket),
    report the partition-count/skew/small-file profile a writer would
    produce — the decision table behind ``partitionBy(...)``: too few
    partitions loses pruning, too many drowns the table in small
    files, a skewed key does both. ``est_files`` is the file count at
    50,000 rows per file (ceil per partition, the writer's
    behavior); ``frac_small`` the fraction of partitions under a
    quarter-target (the small-file-problem share).

    All-integer arithmetic except the two reported ratios (skew =
    max/avg, frac_small); ceil(a/b) is the (a+b-1) div b device.
    Scale shape: three map-side-combined key counts (one per
    candidate), each reduced to a one-row profile."""
    spark = events.sparkSession

    def profile(keyed: DataFrame, label: str) -> DataFrame:
        per = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        return per.agg(
            F.lit(label).alias("candidate"),
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("n").cast("long").alias("n_rows"),
            F.min("n").cast("long").alias("min_rows"),
            F.max("n").cast("long").alias("max_rows"),
            (
                F.round(
                    F.max("n").cast("double")
                    * F.count(F.lit(1)).cast("double")
                    / F.sum("n").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("skew"),
            (
                F.round(
                    F.sum(
                        F.when(
                            F.col("n") < F.lit(12500), F.lit(1)
                        ).otherwise(F.lit(0))
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("frac_small"),
            F.sum(
                F.expr("(n + 50000 - 1) div 50000")
            )
            .cast("long")
            .alias("est_files"),
        )

    by_type = events.select(F.col("event_type").alias("k"))
    by_day = events.select(
        F.date_trunc("day", F.col("ts")).cast("string").alias("k")
    )
    by_bucket = events.select(
        (F.col("user_id") % F.lit(256)).cast("string").alias("k")
    )
    return (
        profile(by_type, "event_type")
        .unionByName(profile(by_day, "day"))
        .unionByName(profile(by_bucket, "user_bucket_256"))
        .orderBy("candidate")
    )


def max_drawdown_daily(events: DataFrame) -> DataFrame:
    """Maximum drawdown of the cumulative daily event value — the
    worst peak-to-trough drop a running revenue/engagement total has
    seen, the stress metric behind "how bad did the worst regression
    get before recovery": running cumulative sum over the day series,
    running max of that, drawdown = running max - cumulative; report
    the deepest one and the (first) day it bottomed.

    Exactness: ZERO float ops before the output rounding — daily sums
    quantize values at 6 dp into DECIMAL(38,6), the cumulative sum,
    running max, and their difference stay in decimal, and the argmax
    day is picked by a deterministic (drawdown desc, day asc) rank on
    the exact decimals. Scale shape: one map-side-combined day
    aggregate; the two windows run over the DAY-DOMAIN frame (time-
    bounded, never row count — the audited bounded-frame class)."""
    daily = events.filter(F.col("value").isNotNull()).groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias("r")
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "d",
        "r",
        F.sum("r").over(wcum).alias("cum"),
    ).select(
        "d", "cum", F.max("cum").over(wcum).alias("peak")
    )
    dd = cum.select(
        "d", (F.col("peak") - F.col("cum")).alias("dd"), "cum", "peak"
    )
    ranked = dd.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("dd"), F.asc("d")))
        .alias("rk"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("nd"),
    ).filter(F.col("rk") == 1)
    return ranked.select(
        F.col("nd").cast("long").alias("n_days"),
        (F.round(F.col("peak").cast("double"), 6) + F.lit(0.0)).alias(
            "peak_value"
        ),
        (F.round(F.col("dd").cast("double"), 6) + F.lit(0.0)).alias(
            "max_drawdown"
        ),
        F.col("d").cast("date").cast("string").alias("trough_day"),
    )


def ljung_box_hourly(events: DataFrame) -> DataFrame:
    """Ljung-Box portmanteau test on the hourly event-count series
    (Ljung & Box 1978): Q = H(H+2) * sum_k r_k^2/(H-k) over the first 24
    autocorrelations (fewer on a series of at most 24 hours) — the
    one-number answer to "is this series white noise, or is there
    structure worth a seasonal model?" Builds directly on
    :func:`acf_hourly`'s exact integer-ratio autocorrelations (already 6
    dp-quantized and engine-identical); each Q term quantizes at 12 dp
    into DECIMAL(38,12) so the 24-term sum is order-free. The 5% verdict
    compares against the chi-square 0.95 quantile at the REALIZED df via
    the Wilson-Hilferty cube approximation (Wilson & Hilferty 1931):
    chi2_q(df, .95) ~= df * (1 - 2/(9 df) + z_.95 * sqrt(2/(9 df)))^3
    with z_.95 = 1.6448536269514722 (|err| < 0.05 for df >= 3; df=24
    gives 36.404 vs exact 36.415). Neither engine ships a chi-square
    CDF, so the quantile is assembled from sqrt/div/mul only — each IEEE
    correctly-rounded, so both engines compute the identical double (pow
    is deliberately avoided: libm pow may differ in the last ulp between
    the JVM and DuckDB).

    Scale shape: acf_hourly's time-bounded spine + one 24-row
    aggregate and a scalar assembly."""
    acf = acf_hourly(events)
    hrs = events.select(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hi")
    ).agg((F.max("hi") - F.min("hi") + F.lit(1)).alias("h"))
    j = acf.crossJoin(F.broadcast(hrs))
    # lag >= h would divide by <= 0 (Inf; CAST(Inf AS DECIMAL) is NULL
    # in Spark but an ERROR in DuckDB) -- only defined lags contribute
    term = F.when(
        F.col("lag") < F.col("h"),
        F.round(
            F.col("acf") * F.col("acf")
            / (F.col("h") - F.col("lag")).cast("double"),
            12,
        ),
    ).cast("decimal(38,12)")
    s = j.agg(
        F.max("h").alias("h"),
        F.count(F.lit(1)).alias("df"),
        F.sum(term).alias("tsum"),
    )
    q = (
        F.col("h").cast("double")
        * (F.col("h") + F.lit(2)).cast("double")
        * F.col("tsum").cast("double")
    )
    # Wilson-Hilferty chi-square 0.95 quantile at the realized df;
    # cube by multiplication (not pow) for cross-engine bit-identity
    dfd = F.col("df").cast("double")
    wh_base = (
        F.lit(1.0)
        - F.lit(2.0) / (F.lit(9.0) * dfd)
        + F.lit(1.6448536269514722)
        * F.sqrt(F.lit(2.0) / (F.lit(9.0) * dfd))
    )
    crit = dfd * wh_base * wh_base * wh_base
    return s.select(
        F.col("h").cast("long").alias("n_hours"),
        F.col("df").cast("long").alias("df"),
        (F.round(q, 6) + F.lit(0.0)).alias("q_stat"),
        (q > crit).alias("reject_white_noise_5pct"),
    )


def lift_curve_points(docs: DataFrame) -> DataFrame:
    """Cumulative-gains / lift curve of the heuristic quality score
    against a target label (the src1* source family, the same in-domain
    definition dsir_importance steers toward) — the
    classifier-triage readout "if I keep only the top-k score deciles,
    what share of the in-domain documents do I capture?": rank by
    (score desc, id), bucket into deciles, report per-decile counts
    and the cumulative capture share + lift over random.

    Ranking is :func:`avro_sql_spark.operators.curation.exact_ntile`
    (two-pass range-partitioned, no single-partition sort), mirrored
    by the oracle's NTILE over the identical (score desc, id) total
    order; the score compared is the ROUNDED 6 dp quality (the
    filters-on-rounded-values rule). Counts are exact integers; the
    cumulative window runs over the n_buckets-sized frame; the three
    ratios are the only float ops. Scale shape: one scan + two rank
    passes + a deciles-sized assembly."""
    from ..functions.text import quality_score
    from .curation import exact_ntile

    scored = docs.select(
        "doc_id",
        (F.round(quality_score(F.col("text")), 6) + F.lit(0.0)).alias("q"),
        F.col("source").like("src1%").cast("int").alias("pos"),
    )
    tiled = exact_ntile(
        scored, [F.desc("q"), F.asc("doc_id")], 10, out_col="decile"
    )
    cells = (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("n_pos"),
        )
        .localCheckpoint(eager=True)  # deciles-sized, forked below
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = cells.agg(
        F.sum("n_docs").alias("td"), F.sum("n_pos").alias("tp")
    )
    cum = cells.select(
        "decile",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wcum).alias("cd"),
        F.sum("n_pos").over(wcum).alias("cp"),
    ).crossJoin(F.broadcast(tot))
    docs_share = F.col("cd").cast("double") / F.col("td").cast("double")
    pos_share = F.col("cp").cast("double") / F.nullif(
        F.col("tp").cast("double"), F.lit(0.0)
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.round(docs_share, 6) + F.lit(0.0)).alias("cum_docs_share"),
        (F.round(pos_share, 6) + F.lit(0.0)).alias("cum_pos_share"),
        (F.round(pos_share / docs_share, 6) + F.lit(0.0)).alias("lift"),
    ).orderBy("decile")


def kendall_tau_daily(events: DataFrame) -> DataFrame:
    """Kendall tau-b rank correlation between the daily event COUNT and
    the daily VALUE total (Kendall 1938; tau-b tie correction per
    Agresti 2010) — the monotone-association check behind "do busy days
    also move more value, or is volume decoupled from spend?": count
    concordant/discordant day pairs and correct for ties on either
    margin, tau_b = (C - D) / sqrt((n0 - t_x)(n0 - t_y)).

    Exactness: counts are integers and value totals accumulate in
    DECIMAL(38,6) (6 dp-quantized terms), so every pair comparison is
    exact; C/D/tie counts are integers; the two sqrts and one division
    are the only float ops, written identically in the oracle. Scale
    shape: one per-day aggregate (map-side combined); the pair join
    lives on the bounded DAY frame (a broadcast nested-loop over
    days^2, never data rows)."""
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(
                F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")),
                F.lit(0).cast("decimal(38,6)"),
            ).alias("v"),
        )
        .localCheckpoint(eager=True)  # day frame, forked into both join sides
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("c").alias("ca"), F.col("v").alias("va")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("c").alias("cb"), F.col("v").alias("vb")
    )
    pairs = F.broadcast(a).join(b, F.col("da") < F.col("db"))
    dc = F.when(F.col("cb") > F.col("ca"), 1).when(
        F.col("cb") < F.col("ca"), -1
    ).otherwise(0)
    dv = F.when(F.col("vb") > F.col("va"), 1).when(
        F.col("vb") < F.col("va"), -1
    ).otherwise(0)
    s = pairs.select(dc.alias("dc"), dv.alias("dv")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when((F.col("dc") * F.col("dv")) > 0, 1).otherwise(0)
        ).alias("conc"),
        F.sum(
            F.when((F.col("dc") * F.col("dv")) < 0, 1).otherwise(0)
        ).alias("disc"),
        F.sum(F.when(F.col("dc") == 0, 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("dv") == 0, 1).otherwise(0)).alias("ty"),
    )
    tau = (F.col("conc") - F.col("disc")).cast("double") / F.nullif(
        F.sqrt((F.col("n_pairs") - F.col("tx")).cast("double"))
        * F.sqrt((F.col("n_pairs") - F.col("ty")).cast("double")),
        F.lit(0.0),
    )
    return s.select(
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        (F.round(tau, 6) + F.lit(0.0)).alias("tau_b"),
    )


def page_hinkley_drift(events: DataFrame) -> DataFrame:
    """Page-Hinkley change detection on the daily mean event value
    (Page 1954; the streaming-drift form in Gama et al. 2014): track
    the cumulative deviation m_t = sum_{i<=t} (x_i - xbar) of the daily
    mean from the whole-period mean; the PH statistic is
    max_t (m_t - min_{i<=t} m_i) — a sustained upward shift in the
    metric makes the cumulative walk climb away from its running
    minimum. Reports the statistic and the day it peaks (the drift's
    most-likely end point).

    Exactness: daily means come from DECIMAL(38,6) sums over quantized
    values; each deviation term is 9 dp-quantized into DECIMAL(38,9)
    before the cumulative window, so the running sum is order-free and
    exact; the running min / final max compare exact decimals. Scale
    shape: one per-day aggregate; every window runs on the bounded DAY
    frame."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias(
                "s"
            ),
        )
        .localCheckpoint(eager=True)  # day frame, forked (mean + walk)
    )
    x = F.col("s").cast("double") / F.col("n").cast("double")
    tot = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.round(x, 9).cast("decimal(38,9)")).alias("sx"),
    )
    xbar = F.col("sx").cast("double") / F.col("n_days").cast("double")
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n_days",
        F.round(x - xbar, 9).cast("decimal(38,9)").alias("dev"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = dev.select(
        "d", "n_days", F.sum("dev").over(wcum).alias("m")
    ).select(
        "d", "n_days", "m", F.min("m").over(wcum).alias("runmin")
    )
    ranked = walk.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc(F.col("m") - F.col("runmin")), F.asc("d")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return ranked.select(
        F.col("n_days").cast("long").alias("n_days"),
        (
            F.round((F.col("m") - F.col("runmin")).cast("double"), 6)
            + F.lit(0.0)
        ).alias("ph_stat"),
        F.col("d").cast("date").cast("string").alias("peak_day"),
    )


def gumbel_daily_max_fit(events: DataFrame) -> DataFrame:
    """Gumbel (extreme-value type I) fit to the daily MAXIMUM event
    value by the method of moments (Gumbel 1958): beta =
    s * sqrt(6)/pi, mu = mean - gamma * beta (Euler-Mascheroni gamma),
    plus the implied 99th-percentile daily max mu + beta * 4.6001... =
    mu - beta * ln(-ln 0.99) — the capacity-planning question "what
    single-event spike should one day in a hundred reach?".

    Exactness: per-day max is a comparison (no accumulation); maxima
    quantize at 6 dp into DECIMAL(38,6); mean/variance use the exact
    decimal (n*ss - s^2) / (n(n-1)) identity ((38,6) products stay at
    scale 12, inside precision 38); all irrational constants are
    shared double literals, so both engines evaluate the identical
    float expression tree. Scale shape: one per-day aggregate, one
    scalar assembly row."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            (F.round(F.max("value"), 6) + F.lit(0.0))
            .cast("decimal(38,6)")
            .alias("m")
        )
    )
    dec6 = lambda c: F.col(c).cast("decimal(38,6)")  # noqa: E731
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("sm"),
        F.sum(dec6("m") * dec6("m")).alias("smm"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sm").cast("double") / n
    # nullif guard: with a single day n*(n-1)=0 and Spark's x/0 yields
    # NULL while DuckDB's IEEE 0.0/0.0 yields NaN — nullif on BOTH
    # sides makes the degenerate input NULL -> greatest(...) -> 0 in
    # both engines (unreachable on sf testdata, guarded for parity)
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("smm")
        - F.col("sm") * F.col("sm")
    ).cast("double") / F.nullif(n * (n - F.lit(1.0)), F.lit(0.0))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    beta = sd * F.lit(0.779696801233676)  # sqrt(6)/pi
    mu = mean - F.lit(0.5772156649015329) * beta  # Euler-Mascheroni
    p99 = mu + beta * F.lit(4.600149226776579)  # -ln(-ln 0.99)
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        (F.round(mu, 6) + F.lit(0.0)).alias("gumbel_mu"),
        (F.round(beta, 6) + F.lit(0.0)).alias("gumbel_beta"),
        (F.round(p99, 6) + F.lit(0.0)).alias("daily_max_p99"),
    )


def ses_backtest_daily(events: DataFrame) -> DataFrame:
    """One-step-ahead backtest of simple exponential smoothing
    (alpha = 1/2) on the daily event-count series against the naive
    last-value forecast — the "is a smoother even worth it?" check
    that precedes any forecasting investment. The SES forecast for day
    t is the 2^-k-weighted mean of the up-to-16 OBSERVED
    previous days (weights renormalized over the lags present, so gap
    days skip rather than zero-fill); scored days are those whose
    immediately-previous day exists, so the naive forecast is defined
    on the same set.

    Exactness: with dyadic weights the forecast is a ratio of two
    INTEGER sums — each lag contributes y * 2^(16 - k) and
    2^(16 - k) — so the smoother is exact integer arithmetic
    until one final double division; per-day absolute errors quantize
    at 9 dp into DECIMAL(38,9) for the order-free MAE sums. Scale
    shape: one per-day aggregate; the lag join is a bounded range
    join on the DAY frame (16 rows per day)."""
    daily = (
        events.groupBy(
            F.floor(
                F.unix_timestamp(F.date_trunc("day", F.col("ts")))
                / F.lit(86400)
            )
            .cast("long")
            .alias("di")
        )
        .agg(F.count(F.lit(1)).alias("y"))
        .localCheckpoint(eager=True)  # day frame, forked into join sides
    )
    a = daily.select(F.col("di").alias("ti"), F.col("y").alias("yt"))
    b = daily.select(F.col("di").alias("bi"), F.col("y").alias("yb"))
    j = F.broadcast(a).join(
        b,
        (F.col("bi") >= F.col("ti") - F.lit(16))
        & (F.col("bi") < F.col("ti")),
    )
    k = (F.col("ti") - F.col("bi")).cast("int")
    w_scaled = F.expr("shiftleft(1L, 16 - cast(k as int))")
    per_day = j.select(
        "ti", "yt", "yb", k.alias("k")
    ).withColumn("w", w_scaled).groupBy("ti", "yt").agg(
        F.sum(F.col("yb") * F.col("w")).alias("num"),
        F.sum("w").alias("den"),
        F.max(F.when(F.col("k") == 1, F.col("yb"))).alias("y_prev"),
    ).filter(F.col("y_prev").isNotNull())
    f = F.col("num").cast("double") / F.col("den").cast("double")
    scored = per_day.select(
        "ti",
        F.round(F.abs(F.col("yt").cast("double") - f), 9)
        .cast("decimal(38,9)")
        .alias("ses_err"),
        F.abs(F.col("yt") - F.col("y_prev")).alias("naive_err"),
    )
    out = scored.agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum("ses_err").alias("se"),
        F.sum("naive_err").alias("ne"),
    )
    nd = F.col("n_days_scored").cast("double")
    ses_mae = F.col("se").cast("double") / nd
    naive_mae = F.col("ne").cast("double") / nd
    return out.select(
        F.col("n_days_scored").cast("long").alias("n_days_scored"),
        (F.round(ses_mae, 6) + F.lit(0.0)).alias("ses_mae"),
        (F.round(naive_mae, 6) + F.lit(0.0)).alias("naive_mae"),
        (
            F.round(ses_mae / F.nullif(naive_mae, F.lit(0.0)), 6)
            + F.lit(0.0)
        ).alias("mae_ratio"),
    )


def user_path_entropy(events: DataFrame) -> DataFrame:
    """Histogram of per-user event-type Shannon entropy — the behavioral
    -diversity profile behind personalization and bot triage (H = 0:
    single-action users; high H: users spreading evenly over the event
    vocabulary): H_u = ln(n_u) - (1/n_u) * sum_type c ln c, binned at
    0.25-nat resolution with per-bin user counts and mean entropy.

    Exactness: per-user c*ln(c) folds over at most |event-type| float
    terms (the bounded-fold class proven hash-stable by the pagerank /
    KL-matrix family); H quantizes at 9 dp BEFORE the floor that bins
    it (floor-on-rounded rule) and per-bin means sum DECIMAL(38,9)
    terms. Scale shape: one (user, type) aggregate, one per-user
    reduce, one bins-sized aggregate — all map-side combinable."""
    per = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    cl = F.col("c").cast("double")
    peru = per.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(cl * F.log(cl)).alias("clc"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("clc") / F.col("n").cast(
        "double"
    )
    h9 = F.round(h, 9) + F.lit(0.0)
    binned = peru.select(
        F.floor(h9 / F.lit(0.25)).cast("long").alias("h_bin"),
        h9.cast("decimal(38,9)").alias("h9"),
    )
    return (
        binned.groupBy("h_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (
                F.round(
                    F.sum("h9").cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_entropy"),
        )
        .orderBy("h_bin")
    )


def odds_ratio_ci_report(events: DataFrame) -> DataFrame:
    """Per-event-type odds ratio between md5-assigned A/B arms for
    "value above the type's own mean", with the Woolf log-OR 95%
    confidence interval (Woolf 1955): OR = (a*d)/(b*c), ln OR +/-
    1.96 * sqrt(1/a + 1/b + 1/c + 1/d) — the effect-size readout that
    complements bh_fdr_report's p-values (a significant p with OR ~ 1
    is a large-sample nothing). Types with any empty cell are excluded
    (the Woolf SE is undefined there), mirrored in the oracle.

    Exactness: the success cut compares the 6 dp-ROUNDED value against
    the type mean derived from DECIMAL(38,6) sums (both engines build
    the identical double); cells are integers; ln/exp on exact integer
    products and the 1.96 literal are the only float ops. Scale shape:
    two per-type aggregates (mean pass, cell pass), types-sized
    output."""
    from .curation import hash_unit

    ev = events.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"),
        F.when(hash_unit(F.col("user_id"), "orci") < 0.5, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("arm"),
        (F.round(F.col("value"), 6) + F.lit(0.0)).alias("v6"),
    )
    means = ev.groupBy("g").agg(
        (
            F.sum(F.col("v6").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m")
    )
    cells = (
        ev.join(F.broadcast(means), "g")
        .groupBy("g", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("v6") > F.col("m"), 1).otherwise(0)
            ).alias("k"),
        )
    )
    a_side = cells.filter(F.col("arm") == "A").select(
        "g", F.col("k").alias("a"), (F.col("n") - F.col("k")).alias("b")
    )
    b_side = cells.filter(F.col("arm") == "B").select(
        "g", F.col("k").alias("c"), (F.col("n") - F.col("k")).alias("d")
    )
    j = a_side.join(b_side, "g").filter(
        (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0)
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    lnor = F.log(
        (dbl("a") * dbl("d")) / (dbl("b") * dbl("c"))
    )
    se = F.sqrt(
        F.lit(1.0) / dbl("a")
        + F.lit(1.0) / dbl("b")
        + F.lit(1.0) / dbl("c")
        + F.lit(1.0) / dbl("d")
    )
    lo = F.exp(lnor - F.lit(1.96) * se)
    hi = F.exp(lnor + F.lit(1.96) * se)
    return j.select(
        F.col("g").alias("event_type"),
        F.col("a").cast("long").alias("n_a_success"),
        F.col("b").cast("long").alias("n_a_failure"),
        F.col("c").cast("long").alias("n_b_success"),
        F.col("d").cast("long").alias("n_b_failure"),
        (F.round(F.exp(lnor), 6) + F.lit(0.0)).alias("odds_ratio"),
        (F.round(lo, 6) + F.lit(0.0)).alias("ci_lo"),
        (F.round(hi, 6) + F.lit(0.0)).alias("ci_hi"),
        ((F.round(lo, 6) > 1.0) | (F.round(hi, 6) < 1.0)).alias(
            "significant_5pct"
        ),
    ).orderBy("event_type")


def changepoint_daily_mean(events: DataFrame) -> DataFrame:
    """Best single changepoint of the daily mean value by binary
    segmentation (Scott & Knott 1974; the first step of every
    binary-seg changepoint routine): the split k maximizing the
    between-segment sum of squares SSB = n1 (m1 - M)^2 + n2 (m2 - M)^2
    over the day series — the exact "WHEN did the metric move" answer
    that page_hinkley_drift's sequential statistic approximates.

    Exactness: daily means quantize at 9 dp into DECIMAL(38,9); the
    prefix sums driving every candidate split are decimal-exact and
    order-free; each candidate's SSB is the identical float expression
    on both engines and ranks on its 9 dp rounding with the day
    tiebreak. Scale shape: one per-day aggregate; every window and the
    candidate scan live on the bounded DAY frame."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias(
                "s"
            ),
        )
        .localCheckpoint(eager=True)  # day frame, forked below
    )
    x9 = F.round(
        F.col("s").cast("double") / F.col("n").cast("double"), 9
    ).cast("decimal(38,9)")
    tot = daily.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum(x9).alias("sx"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "nd",
        "sx",
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.sum(x9).over(wcum).alias("cum"),
    ).filter(F.col("i") < F.col("nd"))
    k = F.col("i").cast("double")
    n2 = (F.col("nd") - F.col("i")).cast("double")
    m = F.col("sx").cast("double") / F.col("nd").cast("double")
    m1 = F.col("cum").cast("double") / k
    m2 = (F.col("sx") - F.col("cum")).cast("double") / n2
    ssb = k * (m1 - m) * (m1 - m) + n2 * (m2 - m) * (m2 - m)
    ranked = pre.select(
        "d",
        "nd",
        (F.round(ssb, 9) + F.lit(0.0)).alias("ssb9"),
        (F.round(m1, 6) + F.lit(0.0)).alias("mb"),
        (F.round(m2, 6) + F.lit(0.0)).alias("ma"),
    ).select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("ssb9"), F.asc("d")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return ranked.select(
        F.col("nd").cast("long").alias("n_days"),
        F.col("d").cast("date").cast("string").alias("split_day"),
        (F.round(F.col("ssb9"), 6) + F.lit(0.0)).alias("ssb"),
        F.col("mb").alias("mean_before"),
        F.col("ma").alias("mean_after"),
    )


def sprt_daily_audit(events: DataFrame) -> DataFrame:
    """Wald sequential probability-ratio audit (Wald 1945) of the
    daily conversion share against H0: p = 0.18 vs H1: p = 0.22 at
    alpha = beta = 0.05 — the "could we have stopped this experiment
    early?" readout: the cumulative log-likelihood ratio walks until
    it crosses ln(19) (accept H1) or -ln(19) (accept H0); the audit
    reports the final LLR, the verdict, and the first crossing day.

    Exactness: daily (events, conversions) are integers; the per-day
    LLR uses PRE-COMPUTED python literals for ln(p1/p0) and
    ln((1-p1)/(1-p0)) (no runtime ln at all), quantizes at 9 dp into
    DECIMAL(38,9), and the walk/crossing comparisons are decimal-exact
    against the ln(19) literal. Scale shape: one per-day aggregate,
    day-frame windows."""
    l1 = 0.20067069546215124  # ln(0.22/0.18)
    l0 = -0.050010420574661305  # ln(0.78/0.82)
    bound = 2.9444389791664403  # ln(19), alpha = beta = 0.05
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
    )
    llr = F.round(
        F.col("k").cast("double") * F.lit(l1)
        + (F.col("n") - F.col("k")).cast("double") * F.lit(l0),
        9,
    ).cast("decimal(38,9)")
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = daily.select("d", llr.alias("t")).select(
        "d", F.sum("t").over(wcum).alias("m")
    )
    crossed = F.when(
        F.col("m").cast("double") >= F.lit(bound), F.lit("accept_h1")
    ).when(F.col("m").cast("double") <= F.lit(-bound), F.lit("accept_h0"))
    flagged = walk.select("d", "m", crossed.alias("verdict")).localCheckpoint(
        eager=True
    )  # day frame, forked into the summary and the crossing lookup
    summary = flagged.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min(
            F.when(F.col("verdict").isNotNull(), F.col("d"))
        ).alias("cd"),
    )
    final = flagged.select(
        "*", F.row_number().over(Window.orderBy(F.desc("d"))).alias("rkl")
    ).filter(F.col("rkl") == 1).select(
        (F.round(F.col("m").cast("double"), 6) + F.lit(0.0)).alias(
            "final_llr"
        )
    )
    # left join: no crossing -> NULL verdict -> 'continue'
    at_cross = flagged.select(
        F.col("d").alias("cd"), F.col("verdict").alias("decision")
    )
    return (
        summary.join(at_cross, "cd", "left")
        .crossJoin(F.broadcast(final))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            "final_llr",
            F.coalesce(F.col("decision"), F.lit("continue")).alias(
                "decision"
            ),
            F.col("cd").cast("date").cast("string").alias("crossing_day"),
        )
    )


def topk_spender_churn(events: DataFrame) -> DataFrame:
    """Day-over-day churn of the top-20 spender set: rank users per day
    by quantized value total (user_id tiebreak), keep the top 20, and
    report each day's overlap and Jaccard with the PREVIOUS day's set
    — the leaderboard-stability metric behind "is our whale cohort a
    stable population or a daily lottery?".

    Exactness: per-(day, user) totals in DECIMAL(38,6); the per-day
    rank is a day-PARTITIONED window (never global); overlap counts
    are integers and Jaccard is one rounded division. Scale shape: one
    (day, user) aggregate, a partitioned rank, and a self-join of the
    20-bounded daily sets on adjacent day indices."""
    per = events.filter(F.col("value").isNotNull()).groupBy(
        F.floor(
            F.unix_timestamp(F.date_trunc("day", F.col("ts")))
            / F.lit(86400)
        )
        .cast("long")
        .alias("di"),
        F.col("user_id").alias("u"),
    ).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias("sv")
    )
    wday = Window.partitionBy("di").orderBy(F.desc("sv"), F.asc("u"))
    top = (
        per.select("di", "u", F.row_number().over(wday).alias("rk"))
        .filter(F.col("rk") <= 20)
        .localCheckpoint(eager=True)  # 20-bounded daily sets, forked below
    )
    sizes = top.groupBy("di").agg(F.count(F.lit(1)).alias("sz"))
    prev = top.select((F.col("di") + 1).alias("di"), F.col("u"))
    common = top.join(prev, ["di", "u"]).groupBy("di").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    pairs = (
        sizes.alias("cur")
        .join(
            sizes.select(
                (F.col("di") + 1).alias("di"), F.col("sz").alias("szp")
            ).alias("prv"),
            "di",
        )
        .join(common, "di", "left")
        .select(
            "di",
            F.col("sz"),
            F.col("szp"),
            F.coalesce(F.col("n_common"), F.lit(0)).alias("nc"),
        )
    )
    return pairs.select(
        F.col("di").cast("long").alias("day_index"),
        F.col("nc").cast("long").alias("n_common"),
        (
            F.round(
                F.col("nc").cast("double")
                / (F.col("sz") + F.col("szp") - F.col("nc")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("jaccard"),
    ).orderBy("day_index")


def kruskal_wallis_nchars(docs: DataFrame) -> DataFrame:
    """Kruskal-Wallis rank-sum test (Kruskal & Wallis 1952) of document
    length (n_chars) across sources — the distribution-free ANOVA
    behind "do the corpus sources differ in length profile at all?",
    the gate question before per-pair Mann-Whitney drilling
    (mann_whitney_matrix is the post-hoc companion).

    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) over average ranks,
    divided by the tie correction C = 1 - sum_v(t_v^3 - t_v)/(N^3 - N).

    Exactness: ranks never materialize per row — per distinct VALUE,
    the average tied rank doubled is the integer 2*c_below + t_v + 1,
    so each group's doubled rank sum R2_g accumulates in DECIMAL(38,0)
    (sum of integer products), R2_g^2 stays exact decimal, and the
    only float ops are the final per-group divisions and the H
    assembly, composed identically in the oracle. Scale shape: one
    groupBy(source, n_chars) aggregate (map-side combined), a window
    over the bounded distinct-VALUE frame, a groups-sized final fold
    — no per-row ranks, no global row sort."""
    # NULL length/source rows are excluded on BOTH sides: Spark sorts
    # NULLS FIRST ascending, DuckDB NULLS LAST — an unfiltered rank
    # window would diverge
    cells = (
        docs.filter(
            F.col("n_chars").isNotNull() & F.col("source").isNotNull()
        )
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vals = (
        cells.groupBy("n_chars")
        .agg(F.sum("c").alias("tv"))
        .select(
            "n_chars",
            "tv",
            (
                F.lit(2)
                * (
                    F.coalesce(
                        F.sum("tv").over(
                            Window.orderBy("n_chars").rowsBetween(
                                Window.unboundedPreceding, -1
                            )
                        ),
                        F.lit(0),
                    )
                )
                + F.col("tv")
                + F.lit(1)
            ).alias("dr"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    groups = (
        cells.join(vals.select("n_chars", "dr"), "n_chars")
        .groupBy("source")
        .agg(
            F.sum("c").alias("ng"),
            F.sum(dec(F.col("c")) * dec(F.col("dr"))).alias("r2"),
        )
    )
    tie = vals.agg(
        F.sum("tv").alias("n"),
        F.sum(
            dec(F.col("tv")) * dec(F.col("tv")) * dec(F.col("tv"))
            - dec(F.col("tv"))
        ).alias("tie_sum"),
        F.count(F.lit(1)).alias("n_values"),
    )
    # r2 enters the quadratic as double x double (not decimal product
    # then cast): past 2^53 the exact-decimal-then-cast route and the
    # double-product route round differently, and DuckDB's is the
    # latter — same-composition beats more-precision for the hash
    # gate. Each group's term is 9 dp-quantized into DECIMAL(38,9)
    # before the sum so the cross-group accumulation is order-free.
    per_g = groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(
            F.round(
                F.col("r2").cast("double")
                * F.col("r2").cast("double")
                / F.col("ng").cast("double"),
                9,
            ).cast("decimal(38,9)")
        ).alias("sum_rg"),
    )
    j = per_g.crossJoin(F.broadcast(tie))
    nd = F.col("n").cast("double")
    h_raw = (
        F.lit(3.0) * F.col("sum_rg").cast("double") / (nd * (nd + F.lit(1.0)))
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    c_tie = F.lit(1.0) - F.col("tie_sum").cast("double") / (
        nd * nd * nd - nd
    )
    return j.select(
        F.col("n_groups").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_total"),
        (F.round(h_raw, 6) + F.lit(0.0)).alias("h_stat"),
        (F.round(h_raw / F.nullif(c_tie, F.lit(0.0)), 6) + F.lit(0.0)).alias(
            "h_tie_corrected"
        ),
    )


def grubbs_daily_outlier(events: DataFrame) -> DataFrame:
    """Grubbs' maximum-studentized-deviate statistic (Grubbs 1950) on
    the daily event-count series — "is the most extreme day a genuine
    outlier relative to normal daily volume?", the single-outlier
    cousin of mad_outlier_days (which flags MANY days; Grubbs scores
    the worst one).

    G = max_d |c_d - mean| / sd, reported with the day that attains
    it (earliest day on ties of the 9 dp-rounded deviation).

    Exactness: daily counts are integers; mean and the (n*ss - S^2)
    variance numerator accumulate in DECIMAL(38,0); deviations are
    9 dp-rounded before the max/tiebreak so the argmax compares
    exact decimals; sd and the final ratio are the only float ops,
    composed identically in the oracle. Scale shape: one per-day
    count, two scalar folds on the bounded day frame."""
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # day frame, forked into stats + argmax
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("c")).alias("sc"),
        F.sum(dec("c") * dec("c")).alias("ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sc").cast("double") / n
    var = (
        F.col("n").cast("decimal(38,0)") * F.col("ss")
        - F.col("sc") * F.col("sc")
    ).cast("double") / F.nullif(n * (n - F.lit(1.0)), F.lit(0.0))
    stats = s.select(
        "n", mean.alias("mean"), F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd")
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "d",
        "n",
        "sd",
        F.round(F.abs(F.col("c").cast("double") - F.col("mean")), 9).alias(
            "dev9"
        ),
    )
    ranked = dev.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("dev9"), F.asc("d")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return ranked.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("d").cast("date").cast("string").alias("peak_day"),
        (F.round(F.col("dev9"), 6) + F.lit(0.0)).alias("peak_abs_dev"),
        (
            F.round(
                F.col("dev9").cast("double")
                / F.nullif(F.col("sd"), F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("grubbs_g"),
    )


def durbin_watson_daily(events: DataFrame) -> DataFrame:
    """Durbin-Watson first-order autocorrelation statistic (Durbin &
    Watson 1950) of the daily mean event value around the period mean
    — "are day-to-day value levels independent, or does today predict
    tomorrow?" DW = sum_t (e_t - e_{t-1})^2 / sum_t e_t^2 over the
    deviations e_t = daily mean - grand mean; DW ~ 2 means no
    autocorrelation, -> 0 strong positive, -> 4 strong negative.

    Exactness: deviations are 9 dp-quantized, then held as SCALED
    BIGINT integers (dev * 1e9 — the jackknife_ratio_ci device, since
    a (38,9) x (38,9) product would overflow precision 38 and the
    engines diverge); both quadratic sums accumulate the integer
    products in DECIMAL(38,0), the 1e18 scale factors cancel in the
    ratio, and the single final division is the only float op. The
    LAG materializes in its own select before the sums (DuckDB
    windows cannot nest). Scale shape: one per-day aggregate; lag +
    folds on the bounded day frame."""
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(38,6)")).alias(
                "s"
            ),
        )
        .localCheckpoint(eager=True)  # day frame, forked into tot + series
    )
    x9 = F.round(
        F.col("s").cast("double") / F.col("n").cast("double"), 9
    ).cast("decimal(38,9)")
    tot = daily.agg(
        F.count(F.lit(1)).alias("nd"), F.sum(x9).alias("sx")
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "nd",
        F.round(
            (
                x9.cast("double")
                - F.col("sx").cast("double") / F.col("nd").cast("double")
            )
            * F.lit(1000000000.0),
            0,
        )
        .cast("long")
        .alias("e9"),
    )
    lagged = dev.select(
        "nd",
        "e9",
        F.lag("e9").over(Window.orderBy("d")).alias("e9p"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = lagged.agg(
        F.max("nd").alias("n_days"),
        F.sum(dec("e9") * dec("e9")).alias("den"),
        F.sum(
            (dec("e9") - dec("e9p")) * (dec("e9") - dec("e9p"))
        ).alias("num"),
    )
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        (
            F.round(
                F.col("num").cast("double")
                / F.nullif(F.col("den").cast("double"), F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("dw_stat"),
    )


def wald_iv_estimate(events: DataFrame) -> DataFrame:
    """Wald instrumental-variable estimator (the encouragement-design
    workhorse: Angrist, Imbens & Rubin 1996) over a deterministic
    50/50 user split: instrument z = md5-hash half of user_id,
    treatment t = the user converted (any ``purchase`` event),
    outcome y = the user's summed ``click`` value.
    wald_late = (E[y|z=1] - E[y|z=0]) / (E[t|z=1] - E[t|z=0]).

    On a hash instrument the true effect is zero by construction —
    this entry IS the estimator plumbing plus its A/A placebo reading
    (the same role srm_audit plays for assignment): both ITT legs and
    the ratio replay exactly, so a pipeline wiring real encouragement
    data through it inherits a verified estimator.

    Exactness: user aggregates are integer counts and DECIMAL(38,6)
    value sums; the hash split is curation.hash_unit (md5 arithmetic,
    engine-portable); the two ITT differences and the final ratio are
    the only float ops. Scale shape: one user-keyed aggregate, then a
    2-row fold."""
    from .curation import hash_unit

    users = events.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("nt"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.round(F.col("value"), 6).cast("decimal(38,6)"),
                )
            ),
            F.lit(0).cast("decimal(38,6)"),
        ).alias("y"),
    )
    z = (hash_unit(F.col("user_id"), "iv") < F.lit(0.5)).cast("int")
    arms = (
        users.select(
            z.alias("z"),
            (F.col("nt") > 0).cast("long").alias("t"),
            F.col("y"),
        )
        .groupBy("z")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("t").alias("st"),
            F.sum("y").alias("sy"),
        )
    )
    wide = arms.agg(
        F.sum(F.when(F.col("z") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("z") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("z") == 1, F.col("st"))).alias("st1"),
        F.sum(F.when(F.col("z") == 0, F.col("st"))).alias("st0"),
        F.sum(F.when(F.col("z") == 1, F.col("sy"))).alias("sy1"),
        F.sum(F.when(F.col("z") == 0, F.col("sy"))).alias("sy0"),
    )
    itt_y = F.col("sy1").cast("double") / F.col("n1").cast("double") - F.col(
        "sy0"
    ).cast("double") / F.col("n0").cast("double")
    itt_t = F.col("st1").cast("double") / F.col("n1").cast("double") - F.col(
        "st0"
    ).cast("double") / F.col("n0").cast("double")
    return wide.select(
        F.col("n1").cast("long").alias("n_encouraged"),
        F.col("n0").cast("long").alias("n_control"),
        (F.round(itt_y, 6) + F.lit(0.0)).alias("itt_outcome"),
        (F.round(itt_t, 6) + F.lit(0.0)).alias("itt_takeup"),
        (
            F.round(itt_y / F.nullif(itt_t, F.lit(0.0)), 6) + F.lit(0.0)
        ).alias("wald_late"),
    )


def propensity_stratified_effect(events: DataFrame) -> DataFrame:
    """Stratified treatment-effect estimate (Rosenbaum & Rubin 1984's
    subclassification, on an observable activity score): treated =
    users with more ``purchase`` than ``view`` events,
    outcome = summed ``click`` value, strata = log2 bands of
    total activity (the propensity proxy). ATT = sum over strata of
    (treated share of stratum) x (treated mean - control mean),
    reported against the naive unadjusted difference — the gap
    between the two IS the activity confounding.

    Exactness: per-user and per-stratum aggregates are integer counts
    and DECIMAL(38,6) sums; each stratum's weighted difference is
    9 dp-quantized into DECIMAL(38,9) so the cross-strata sum is
    order-free; strata with an empty arm drop from the ATT (standard
    common-support trim), counted in n_strata_used. Scale shape: one
    user aggregate, one strata aggregate (bounded by log2 of max
    activity), scalar assembly."""
    users = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("na"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ntreat"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("ncmp"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.round(F.col("value"), 6).cast("decimal(38,6)"),
                )
            ),
            F.lit(0).cast("decimal(38,6)"),
        ).alias("y"),
    )
    stratum = F.floor(
        F.log(F.col("na").cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))
    ).cast("long")
    t = (F.col("ntreat") > F.col("ncmp")).cast("int")
    cells = (
        users.select(stratum.alias("s"), t.alias("t"), "y")
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"))
    )
    wide = cells.groupBy("s").agg(
        F.sum(F.when(F.col("t") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("t") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("t") == 1, F.col("sy"))).alias("sy1"),
        F.sum(F.when(F.col("t") == 0, F.col("sy"))).alias("sy0"),
    )
    both = wide.filter(F.col("n1").isNotNull() & F.col("n0").isNotNull())
    tot = wide.agg(
        F.coalesce(F.sum("n1"), F.lit(0)).alias("nt1"),
        F.coalesce(F.sum("n0"), F.lit(0)).alias("nt0"),
        F.coalesce(
            F.sum("sy1"), F.lit(0).cast("decimal(38,6)")
        ).alias("syt1"),
        F.coalesce(
            F.sum("sy0"), F.lit(0).cast("decimal(38,6)")
        ).alias("syt0"),
    )
    used = both.agg(
        F.count(F.lit(1)).alias("n_strata_used"),
        F.sum("n1").alias("nu1"),
    )
    diff = F.col("sy1").cast("double") / F.col("n1").cast("double") - F.col(
        "sy0"
    ).cast("double") / F.col("n0").cast("double")
    att_num = both.crossJoin(F.broadcast(used)).agg(
        F.sum(
            F.round(
                F.col("n1").cast("double")
                / F.col("nu1").cast("double")
                * diff,
                9,
            ).cast("decimal(38,9)")
        ).alias("att9")
    )
    naive = (
        F.col("syt1").cast("double") / F.nullif(F.col("nt1").cast("double"), F.lit(0.0))
        - F.col("syt0").cast("double")
        / F.nullif(F.col("nt0").cast("double"), F.lit(0.0))
    )
    return (
        att_num.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(used.select("n_strata_used")))
        .select(
            F.col("nt1").cast("long").alias("n_treated"),
            F.col("nt0").cast("long").alias("n_control"),
            F.col("n_strata_used").cast("long").alias("n_strata_used"),
            (F.round(F.col("att9").cast("double"), 6) + F.lit(0.0)).alias(
                "att"
            ),
            (F.round(naive, 6) + F.lit(0.0)).alias("naive_diff"),
        )
    )


def fourier_tables(period: int) -> "tuple[list[float], list[float]]":
    """cos/sin lookup tables for one seasonal period, computed ONCE in
    plan-time Python and embedded as double literals in BOTH the Spark
    plan and the DuckDB oracle (the similarity._plane_components
    device) — neither engine evaluates trig at runtime, so the
    libm-vs-Math.cos last-ulp divergence can never flip a rounding
    boundary."""
    import math

    return (
        [math.cos(2.0 * math.pi * k / period) for k in range(period)],
        [math.sin(2.0 * math.pi * k / period) for k in range(period)],
    )


def periodogram_hourly_cycle(events: DataFrame) -> DataFrame:
    """Discrete-Fourier power at fixed seasonal candidate periods over
    the hourly event-count series — "how much of traffic is the daily
    (24 h), half-daily (12 h), and weekly (168 h) cycle?", the
    frequency-domain companion to acf_hourly (which asks the same
    question lag by lag): for period P the fundamental coefficient is
    (sum_h c_h cos(2*pi*(h mod P)/P), sum_h c_h sin(...)), and the
    reported amplitude ratio sqrt(sc^2 + ss^2) / sum(c) is the
    fraction of total mass moving at that frequency (0 = flat, bigger
    = stronger cycle).

    Exactness: hour indices are exact integers (the acf_hourly
    floor-epoch device); cos/sin come from the plan-time literal
    tables (fourier_tables — no runtime trig); each product term is
    9 dp-quantized into DECIMAL(38,9) so both Fourier sums are
    order-free; the final sqrt/divide is the only float op. Missing
    hours contribute zero to every sum, so no spine densification is
    needed (unlike the ACF, whose lag join needs it). Scale shape:
    one map-side-combined hourly aggregate, then one scalar fold —
    the periods multiply literal-table size, not data passes."""
    hourly = events.groupBy(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("long")
        .alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    aggs = [
        F.count(F.lit(1)).alias("nh"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
    ]
    for p in (12, 24, 168):
        cos_t, sin_t = fourier_tables(p)
        k = (F.col("hi") % F.lit(p)).cast("int")
        for nm, tab in (("c", cos_t), ("s", sin_t)):
            term = F.round(
                F.col("c").cast("double")
                * F.element_at(
                    F.array(*[F.lit(float(x)) for x in tab]), k + 1
                ),
                9,
            ).cast("decimal(38,9)")
            aggs.append(F.sum(term).alias(f"{nm}{p}"))
    # one aggregated row, forked into one select per period — pin it
    # so the hourly aggregate runs once, not len(periods) times
    folded = hourly.agg(*aggs).localCheckpoint(eager=True)
    rows = []
    for p in (12, 24, 168):
        amp = (
            F.sqrt(
                F.col(f"c{p}").cast("double") * F.col(f"c{p}").cast("double")
                + F.col(f"s{p}").cast("double")
                * F.col(f"s{p}").cast("double")
            )
            / F.nullif(F.col("s").cast("double"), F.lit(0.0))
        )
        rows.append(
            folded.select(
                F.lit(p).cast("long").alias("period_hours"),
                F.col("nh").cast("long").alias("n_hours"),
                (F.round(amp, 6) + F.lit(0.0)).alias("amplitude_ratio"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("period_hours")


def brown_forsythe_nchars(docs: DataFrame) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (Brown & Forsythe
    1974: Levene's statistic on deviations from the group MEDIAN) of
    document length across sources — the scale-difference companion
    to kruskal_wallis_nchars (location): sources can share a typical
    length yet differ wildly in spread, which breaks length-balanced
    packing.

    W = ((N-k)/(k-1)) * SSB(z) / SSW(z) over z = |x - median_g|.

    Exactness: group medians come from cumulative counts on the
    distinct-VALUE frame, held DOUBLED (lo+hi order stats) so the
    even-n half-step stays integer; z doubled is then an exact
    integer |2x - m2|, both sums of squares reduce to integer
    identities (n*S2 - S^2) per group, each group's contribution is
    9 dp-quantized into DECIMAL(38,9) before the cross-group sums,
    and the final assembly is the only float chain, composed
    identically in the oracle. Scale shape: one groupBy(source,
    n_chars), windows over the bounded distinct-value frame, a
    groups-sized fold."""
    cells = (
        docs.filter(
            F.col("n_chars").isNotNull() & F.col("source").isNotNull()
        )
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # value frame, forked into
        # median lookup + deviation fold
    )
    w = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select(
        "source",
        "n_chars",
        "c",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(
            Window.partitionBy("source").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("ng"),
    )
    lo = (F.col("ng") + 1) / F.lit(2)
    hi = F.col("ng") / F.lit(2) + 1
    med = cum.groupBy("source").agg(
        F.min(
            F.when(
                F.col("cum") >= F.floor(lo), F.col("n_chars")
            )
        ).alias("v_lo"),
        F.min(
            F.when(F.col("cum") >= F.floor(hi), F.col("n_chars"))
        ).alias("v_hi"),
    ).select(
        "source", (F.col("v_lo") + F.col("v_hi")).alias("m2")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    z = cells.join(med, "source").select(
        "source",
        "c",
        F.abs(F.lit(2) * F.col("n_chars") - F.col("m2")).alias("z2"),
    )
    g = z.groupBy("source").agg(
        F.sum("c").alias("ng"),
        F.sum(dec(F.col("c")) * dec(F.col("z2"))).alias("s"),
        F.sum(
            dec(F.col("c")) * dec(F.col("z2")) * dec(F.col("z2"))
        ).alias("q"),
    )
    # per-group quadratic contributions, 9 dp-quantized (order-free):
    # SSW_g = (n_g * q_g - s_g^2) / (4 n_g); SSB term = s_g^2 / (4 n_g)
    ssw_g = F.round(
        (dec(F.col("ng")) * F.col("q") - F.col("s") * F.col("s")).cast(
            "double"
        )
        / (F.lit(4.0) * F.col("ng").cast("double")),
        9,
    ).cast("decimal(38,9)")
    ssb_g = F.round(
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / (F.lit(4.0) * F.col("ng").cast("double")),
        9,
    ).cast("decimal(38,9)")
    folded = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum(dec(F.col("s"))).alias("st"),
        F.sum(ssw_g).alias("ssw"),
        F.sum(ssb_g).alias("ssb_partial"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    # SSB = sum s_g^2/(4 n_g) - S^2/(4N)
    ssb = F.col("ssb_partial").cast("double") - F.col("st").cast(
        "double"
    ) * F.col("st").cast("double") / (F.lit(4.0) * nd)
    stat = (
        (nd - kd)
        / (kd - F.lit(1.0))
        * ssb
        / F.nullif(F.col("ssw").cast("double"), F.lit(0.0))
    )
    return folded.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_total"),
        (F.round(ssb, 6) + F.lit(0.0)).alias("ss_between"),
        (F.round(F.col("ssw").cast("double"), 6) + F.lit(0.0)).alias(
            "ss_within"
        ),
        (F.round(stat, 6) + F.lit(0.0)).alias("bf_stat"),
    )


def hurst_rs_daily(events: DataFrame) -> DataFrame:
    """Hurst exponent by rescaled-range analysis (Hurst 1951; the
    Mandelbrot & Wallis 1969 R/S form) of the daily event-count
    series — "is traffic volume mean-reverting (H < 0.5), a random
    walk (H ~ 0.5), or long-range persistent (H > 0.5)?", the
    long-memory companion to durbin_watson_daily's one-lag view.

    For each block size b: split the day sequence into complete
    blocks, compute R (range of within-block cumulative deviations
    from the block mean) over S (population std), average R/S across
    blocks, then fit log(R/S) ~ H log(b) by least squares over the
    block sizes.

    Exactness: within a block of integer counts, deviations SCALED BY
    b are integers (b*x_i - sum), so cumulative sums, the range, and
    the variance identity b*q - s^2 are all exact integers; each
    block contributes ONE float op R_scaled/sqrt(b*q - s^2) (the b
    factors cancel), 9 dp-quantized before the per-size mean; the
    log-log slope is a 3-point closed form over shared ln
    compositions. Scale shape: one per-day aggregate; per-block
    windows partition by (size, block) on the bounded day frame."""
    daily = (
        events.groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # day frame, forked per block size
    )
    idx = daily.select(
        "c",
        (F.row_number().over(Window.orderBy("d")) - 1).alias("i"),
    )
    sized = idx.select(
        "c",
        "i",
        F.explode(
            F.array(*[F.lit(b) for b in (3, 5, 10)])
        ).alias("b"),
    ).select(
        "b", "c", (F.col("i") / F.col("b")).cast("long").alias("blk"),
        "i",
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = sized.groupBy("b", "blk").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(dec(F.col("c"))).alias("s"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("q"),
    )
    cumw = Window.partitionBy("b", "blk").orderBy("i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walk = (
        sized.join(
            F.broadcast(
                stats.filter(F.col("nb") == F.col("b")).select(
                    "b", "blk", "s", "q"
                )
            ),
            ["b", "blk"],
        )
        .select(
            "b",
            "blk",
            "i",
            "s",
            "q",
            # scaled deviation b*c - s: integer; cumulative walk exact
            (dec(F.col("b")) * dec(F.col("c")) - F.col("s")).alias("dev"),
        )
        .select(
            "b",
            "blk",
            "s",
            "q",
            F.sum(F.col("dev")).over(cumw).alias("w"),
        )
    )
    per_block = walk.groupBy("b", "blk").agg(
        F.max("w").alias("wmax"),
        F.min("w").alias("wmin"),
        F.max("s").alias("s"),
        F.max("q").alias("q"),
    )
    # R/S per block: (wmax - wmin) / (b * sqrt(b*q - s^2)/b) — the b
    # scale factors cancel into one sqrt
    rs = per_block.select(
        "b",
        F.round(
            (F.col("wmax") - F.col("wmin")).cast("double")
            / F.nullif(
                F.sqrt(
                    (
                        dec(F.col("b")) * F.col("q")
                        - F.col("s") * F.col("s")
                    ).cast("double")
                ),
                F.lit(0.0),
            ),
            9,
        )
        .cast("decimal(38,9)")
        .alias("rs9"),
    ).filter(F.col("rs9").isNotNull())
    per_size = rs.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("rs9").alias("srs"),
    )
    pts = per_size.select(
        "b",
        "n_blocks",
        (
            F.col("srs").cast("double") / F.col("n_blocks").cast("double")
        ).alias("mean_rs"),
    ).localCheckpoint(eager=True)  # <= |block_sizes| rows, forked below
    lx = F.log(F.col("b").cast("double"))
    ly = F.log(F.col("mean_rs"))
    fit = pts.agg(
        F.count(F.lit(1)).alias("np"),
        F.sum(F.round(lx, 9).cast("decimal(38,9)")).alias("sx"),
        F.sum(F.round(ly, 9).cast("decimal(38,9)")).alias("sy"),
        F.sum(
            F.round(lx * ly, 9).cast("decimal(38,9)")
        ).alias("sxy"),
        F.sum(F.round(lx * lx, 9).cast("decimal(38,9)")).alias("sxx"),
    )
    npd = F.col("np").cast("double")
    slope = (
        npd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.nullif(
        npd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    hurst = fit.select(
        F.col("np").cast("long").alias("n_sizes"),
        (F.round(slope, 6) + F.lit(0.0)).alias("hurst_h"),
    )
    wide = pts.groupBy().pivot("b", list((3, 5, 10))).agg(
        F.first(F.round(F.col("mean_rs"), 6) + F.lit(0.0))
    )
    renamed = wide.select(
        *[
            F.col(str(b)).alias(f"mean_rs_{b}")
            for b in (3, 5, 10)
        ]
    )
    return hurst.crossJoin(F.broadcast(renamed))


def obrien_fleming_monitor(events: DataFrame) -> DataFrame:
    """Group-sequential monitoring audit with O'Brien-Fleming-shaped
    boundaries (O'Brien & Fleming 1979, via the Lan-DeMets alpha-
    spending approximation b(t) = C / sqrt(t)): at each interim day,
    the cumulative conversion share is z-tested against H0 p = 0.2 and
    compared to the boundary at that day's information fraction —
    the "could we have called this early, under a spending rule that
    spends almost nothing at the start?" companion to sprt_daily_audit
    (whose SPRT spends evenly).

    Exactness: cumulative counts are integer window sums over the
    bounded day frame; z and the boundary are float compositions of
    those integers with shared double literals; the crossing flag
    compares the 9 dp-ROUNDED magnitudes (both engines compare the
    same rounded values, per the rounded-filter rule). Scale shape:
    one per-day aggregate, windows on the day frame."""
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("x"),
    )
    wcum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "d",
        F.sum("n").over(wcum).alias("nc"),
        F.sum("x").over(wcum).alias("xc"),
        F.sum("n").over(wall).alias("nt"),
    )
    ncd = F.col("nc").cast("double")
    z = (F.col("xc").cast("double") - ncd * F.lit(0.2)) / F.sqrt(
        ncd * F.lit(0.2) * F.lit(1.0 - 0.2)
    )
    t = ncd / F.col("nt").cast("double")
    boundary = F.lit(2.2414027276049473) / F.sqrt(t)
    z9 = F.round(F.abs(z), 9)
    b9 = F.round(boundary, 9)
    return cum.select(
        F.col("d").cast("date").cast("string").alias("day"),
        F.col("nc").cast("long").alias("n_cum"),
        F.col("xc").cast("long").alias("conv_cum"),
        (F.round(z, 6) + F.lit(0.0)).alias("z_stat"),
        (F.round(boundary, 6) + F.lit(0.0)).alias("obf_boundary"),
        (z9 >= b9).alias("crossed"),
    ).orderBy("day")
