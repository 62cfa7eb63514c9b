"""Data-layout operators: Z-order clustering for multi-column scan
pruning (SURVEY.md §2.2 'Scans / sources / sinks' — write-side layout).

At 100 TB the scan is won or lost at WRITE time: parquet keeps per-file
and per-row-group min/max stats, and a reader's predicate prunes a file
only if the file's value range excludes the predicate. Sorting by one
column gives perfect pruning on that column and none on others;
interleaving the bits of several columns (a Morton / Z-order curve, the
standard lakehouse OPTIMIZE ZORDER BY technique) gives good pruning on
ALL of them simultaneously.

Everything here is Column arithmetic (shiftleft / shiftright / bitwise
AND-OR) — JVM-side, codegen-friendly, no UDFs. The only extra pass is
one tiny min/max aggregate to scale each column into the curve domain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def interleave_bits(cols: list[Column]) -> Column:
    """Morton/Z-value of ``cols``: bit b of column i lands at output bit
    ``b * len(cols) + i``. Inputs must already be non-negative ints
    < 2**16. Total output bits = 16 * len(cols) (keep <= 63)."""
    n = len(cols)
    if 16 * n > 63:
        raise ValueError(f"16 bits * n_cols = {16 * n} exceeds a signed long")
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        c = c.cast("long")
        for b in range(16):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z


def _scaled_coords(df: DataFrame, cols: list[str]) -> list[Column]:
    """Each column min/max scaled into [0, 2**16) using one tiny stats
    aggregate (collected once at plan time — a driver action on a scalar
    row, the same footprint as ``approxQuantile``). NULL in any column
    maps to curve position 0 (sorts first). Shared by the Morton and
    Hilbert curves."""
    stats_row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << 16) - 1
    scaled = []
    for c in cols:
        mn, mx = stats_row[f"mn_{c}"], stats_row[f"mx_{c}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
        s = F.floor(
            (F.col(c).cast("double") - F.lit(mn if mn is not None else 0.0))
            / F.lit(span)
            * F.lit(float(top))
        ).cast("long")
        scaled.append(F.coalesce(F.least(F.greatest(s, F.lit(0)), F.lit(top)), F.lit(0)))
    return scaled


def zvalue(df: DataFrame, cols: list[str]) -> Column:
    """Z-value Column for ``df`` rows over ``cols``: min/max scaled
    16-bit coordinates (see :func:`_scaled_coords`), bit-interleaved."""
    return interleave_bits(_scaled_coords(df, cols))


def hilbert_index(
    df: DataFrame,
    cols: list[str],
    out_col: str = "hval",
    coords: "list[Column] | None" = None,
) -> DataFrame:
    """2-D Hilbert-curve index (16 levels) over two columns — the locality curve
    lakehouses reach for past Z-order (Delta/Iceberg both ship it):
    unlike Morton, the Hilbert curve never jumps, so consecutive index
    ranges are tighter rectangles and file min/max boxes prune better
    at the same file count.

    The standard xy2d recurrence (one rotate-and-reflect per curve
    level) is rendered as ONE parsed SQL ``aggregate`` fold over
    ``sequence(15, 0, -1)`` with a named_struct (x, y, d)
    accumulator — the lambda is a LOOP at runtime, so the expression
    stays constant-size (no 2^16 subtree copying), and the whole
    index is a single projection instead of 16 chained selects.
    The chained-projection form cost ~1.3 s of driver py4j round-trips
    per call AND made every downstream checkpoint/action
    re-analyze a 16-select-deep plan (measured r9: skipping audit
    construction 3.6 s, 1.3 s of it this chain, ~1.4 s planning the
    chain-backed checkpoints — the _centroid_dists F.expr lesson
    applied to construction, guide §4). Per level the fold computes
    the IDENTICAL integer compares/shifts/adds in the same order, so
    every index value is bit-identical to the old chain (asserted in
    tests) and the DuckDB oracle's nested-CTE replay still matches.
    Returns the frame with ``out_col`` appended."""
    if len(cols) != 2:
        raise ValueError("hilbert_index is the 2-D curve; pass two columns")
    # ``coords``: callers that also build a Morton key (skipping_report)
    # pass the _scaled_coords result in, so the stats aggregate behind
    # it runs ONCE per audit instead of once per curve
    sx, sy = coords if coords is not None else _scaled_coords(df, cols)
    keep = list(df.columns)
    # per-level recurrence, inlined with s = 1 << lvl:
    #   rx = (x & s) > 0 ; ry = (y & s) > 0
    #   d += s*s*((3*rx) XOR ry)
    #   (x, y) = ry ? (x, y) : rx ? (s-1-y, s-1-x) : (y, x)
    s_ = "shiftleft(cast(1 as bigint), lvl)"
    rx = f"((acc.x & {s_}) > 0)"
    ry = f"((acc.y & {s_}) > 0)"
    fold = (
        "aggregate(sequence(15, 0, -1), "
        "named_struct('x', _hx, 'y', _hy, 'd', cast(0 as bigint)), "
        "(acc, lvl) -> named_struct("
        f"'x', (case when {ry} then acc.x when {rx} then ({s_} - 1 - acc.y) else acc.y end), "
        f"'y', (case when {ry} then acc.y when {rx} then ({s_} - 1 - acc.x) else acc.x end), "
        f"'d', (acc.d + ({s_} * {s_}) * "
        f"((cast(3 as bigint) * (case when {rx} then cast(1 as bigint) else cast(0 as bigint) end))"
        f" ^ (case when {ry} then cast(1 as bigint) else cast(0 as bigint) end)))"
        "), acc -> acc.d)"
    )
    return df.select("*", sx.alias("_hx"), sy.alias("_hy")).select(
        *keep, F.expr(fold).alias(out_col)
    )


def skipping_report(
    df: DataFrame,
    cols: list[str],
    tiebreak_col: str,
    layouts: "tuple[str, ...]" = ("linear", "zorder"),
) -> DataFrame:
    """File-skipping effectiveness audit: how many of 32 files would
    a min/max-pruning reader actually scan under each candidate layout,
    for a grid of 2-D range predicates? Returns one row per layout:
    (layout, n_files, n_predicates, avg_files_scanned, pct_pruned).

    Layouts compared: ``linear`` (rows sorted by cols[0] only — perfect
    pruning on that column, none on the other) vs ``zorder`` (rows
    sorted by the Morton z-value of all ``cols`` — good pruning on BOTH
    at once) vs ``hilbert`` (the jump-free curve of
    :func:`hilbert_index` — tighter file boxes than Morton at the same
    file count). This is the read-side proof of what the write-side
    layout buys: the number the lakehouse OPTIMIZE decision should be
    made on, not a hunch. Predicates are a 4 x 4 lattice of
    equal-width rectangles spanning each column's global min/max; a
    file must be scanned iff its [min, max] box intersects the
    predicate rectangle — exactly the parquet footer-stats test.

    Scale shape: file assignment is SQL NTILE semantics from ONE
    two-pass range-partitioned rank shared by every layout (rows explode
    into (layout, key) copies; the layout index leads the range order so
    each layout's block is contiguous and its NTILE replays from the
    global rank) — no task ever sorts more than one range partition, and
    the audit pays one shuffle instead of one per layout (the oldest
    form was ``ntile().over(Window.orderBy(...))`` — the whole
    projection through ONE task per layout, the classic 100x scale
    killer). Everything
    downstream of the per-file min/max aggregate is arithmetic on
    32 x 4^2 rows — driver-negligible, oracle-replayable (the
    z-value is the same integer interleave as :func:`zvalue`, and the
    NTILE remainder rule is replayed bit-exactly)."""
    from ._scan import spread
    from .curation import global_rank

    if len(cols) != 2:
        raise ValueError("skipping_report audits exactly two columns")
    c0, c1 = cols
    # ONE scale-stats aggregate feeds both curves (zvalue and
    # hilbert_index each used to run their own)
    coords = _scaled_coords(df, cols)
    # audit columns only — project BEFORE any exchange (guide §2.3)
    need = df.select(c0, c1, tiebreak_col)
    if "hilbert" in layouts:
        # the 16-level fold is the audit's heaviest per-row compute
        # (measured r9: 1.2 s on one core); rows are re-ranked by a TOTAL
        # order downstream, so placement cannot affect results
        need = spread(need)
    # the hilbert layout pays one extra pass (the 16-level fold), so
    # it is opt-in via ``layouts``
    src = (
        hilbert_index(need, cols, out_col="__hv", coords=coords)
        if "hilbert" in layouts
        else need
    )
    z = interleave_bits(coords).alias("__z")
    # the tiebreak column makes each NTILE ordering TOTAL: rows tied on
    # the layout key (same price cell, same curve cell) would otherwise
    # land in engine-dependent files and flake the per-file min/max
    base = src.select(
        F.col(c0).cast("double").alias("x"),
        F.col(c1).cast("double").alias("y"),
        z,
        *(["__hv"] if "hilbert" in layouts else []),
        F.col(tiebreak_col).alias("tb"),
    ).localCheckpoint(eager=False)
    # ^ one materialization (lazy — folds into the range sampling pass):
    # without it the 16-level Hilbert chain + the z-interleave would
    # re-evaluate for the range-partitioner sample AND the shuffle write
    #
    # ALL layouts rank in ONE global_rank pass: each row explodes into
    # (layout_index, key) copies, and because the layout index leads the
    # range-sort order the layout blocks are CONTIGUOUS in the total
    # order — the per-layout rank is just (global rank) - li * n_rows,
    # and the SQL NTILE remainder rule is replayed on that rank with
    # exact_ntile's own arithmetic. One range shuffle / checkpoint /
    # partition-counts pass instead of one per layout (same bytes
    # through the single shuffle; formerly 3 shuffles + 3 checkpoints +
    # 3 counts jobs for the 3-layout audit). The curve keys ride in a
    # separate LONG field beside the double linear key (no cross-type
    # cast, so 16 bits stay exact); the unused field is a constant
    # per layout and never affects the within-layout order.
    keyed = {
        "linear": (F.col("x"), F.lit(0).cast("long")),
        "zorder": (F.lit(0.0), F.col("__z").cast("long")),
        "hilbert": (F.lit(0.0), F.col("__hv").cast("long")),
    }
    lay = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("li"),
                    keyed[name][0].alias("kd"),
                    keyed[name][1].alias("kl"),
                )
                for i, name in enumerate(layouts)
            ]
        )
    ).alias("L")
    e = base.select("x", "y", "tb", lay).select(
        "x", "y", "tb", "L.li", "L.kd", "L.kl"
    )
    ranked = global_rank(
        e,
        [F.col("li"), F.col("kd"), F.col("kl"), F.col("tb")],
        rank_col="_r",
        total_col="_N",
    )
    n_rows = F.expr(f"_N div {len(layouts)}")  # exact: _N = n_layouts * n
    r = F.col("_r") - F.col("li").cast("long") * n_rows
    k = F.lit(32).cast("long")
    q = F.floor(n_rows / k).cast("long")
    rem = (n_rows % k).cast("long")
    big = (q + F.lit(1)) * rem
    tile = F.when(r <= big, F.floor((r + q) / (q + F.lit(1)))).otherwise(
        rem + F.floor((r - big + q - F.lit(1)) / q)
    )
    lay_name = F.element_at(
        F.array(*[F.lit(nm) for nm in layouts]), F.col("li") + 1
    )
    boxes = (
        ranked.select(
            lay_name.alias("layout"), tile.cast("int").alias("f"), "x", "y"
        )
        .groupBy("layout", "f")
        .agg(F.min("x").alias("mnx"), F.max("x").alias("mxx"),
             F.min("y").alias("mny"), F.max("y").alias("mxy"))
    )
    # global bounds (1 row) -> 4 x 4 predicate rectangles, built
    # in-row from a sequence — no driver collect
    bounds = df.agg(
        F.min(F.col(c0).cast("double")).alias("lx"),
        F.max(F.col(c0).cast("double")).alias("hx"),
        F.min(F.col(c1).cast("double")).alias("ly"),
        F.max(F.col(c1).cast("double")).alias("hy"),
    )
    g = F.lit(4.0)
    preds = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
            "lx", "hx", "ly", "hy",
        )
        .select(
            "i",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
            "lx", "hx", "ly", "hy",
        )
        .select(
            (F.col("lx") + (F.col("hx") - F.col("lx")) * F.col("i") / g).alias("plx"),
            (F.col("lx") + (F.col("hx") - F.col("lx")) * (F.col("i") + 1) / g).alias("phx"),
            (F.col("ly") + (F.col("hy") - F.col("ly")) * F.col("j") / g).alias("ply"),
            (F.col("ly") + (F.col("hy") - F.col("ly")) * (F.col("j") + 1) / g).alias("phy"),
        )
    )
    hits = (
        boxes.crossJoin(F.broadcast(preds))
        .select(
            "layout",
            (
                (F.col("mxx") >= F.col("plx")) & (F.col("mnx") <= F.col("phx"))
                & (F.col("mxy") >= F.col("ply")) & (F.col("mny") <= F.col("phy"))
            ).cast("long").alias("hit"),
        )
        .groupBy("layout")
        .agg(F.sum("hit").alias("scanned"))
    )
    return (
        hits.select(
            "layout",
            F.lit(32).alias("n_files"),
            F.lit(16).alias("n_predicates"),
            F.round(F.col("scanned") / F.lit(16.0), 6).alias("avg_files_scanned"),
            F.round(F.lit(1.0) - F.col("scanned") / F.lit(512.0), 6).alias(
                "pct_pruned"
            ),
        )
        .orderBy("layout")
    )


def zorder_write(df: DataFrame, path: str, cols: list[str]) -> None:
    """Write ``df`` clustered along the Z-order curve of ``cols``:
    range-repartition on the z-value (contiguous curve segments per
    file — this is what localizes each column's value range per file)
    then sort within partitions so row groups inside a file stay tight.
    Downstream range predicates on ANY of ``cols`` then prune files via
    parquet min/max stats. The z-value is 16 bits per column, and the
    write makes one file per default-parallelism slot."""
    z = zvalue(df, cols).alias("__z")
    n = df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__z", z)
        .repartitionByRange(n, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format("parquet")
        .mode("overwrite")
        .save(path)
    )


def compaction_plan(
    files: DataFrame, target_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Small-file compaction plan: assign input files (in ``file_id``
    order) to ~``target_bytes`` output bins by BYTE OFFSET — file i
    lands in bin floor(cum_before_i / target), i.e. the bin its first
    byte falls in when the inputs are laid end-to-end. The classic
    maintenance job behind every 100 TB table: thousands of ingest-time
    small files become dozens of right-sized ones, and the plan itself
    is a pure integer function of (sizes, order) — exactly replayable,
    no sequential driver loop (a true first-fit needs running state;
    the offset rule is what log-structured writers actually do when
    splitting a concatenated stream).

    Returns per bin: file count, exact total bytes, and fill fraction
    vs target. Scale note: the window is a GLOBAL order over the FILE
    METADATA table — bounded by file count (one row per file, never
    data rows), the same metadata-sized-global-sort contract as the
    skipping audit."""
    from pyspark.sql.window import Window

    w = (
        Window.orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = files.select(
        F.col("file_id"),
        F.col("bytes").alias("sz"),
        F.floor(
            (F.sum("bytes").over(w) - F.col("bytes"))
            / F.lit(target_bytes)
        ).cast("int").alias("bin"),
    )
    return (
        assigned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("sz").alias("total_bytes"),
            F.round(
                F.sum("sz").cast("double") / F.lit(float(target_bytes)), 4
            ).alias("fill"),
        )
        .orderBy("bin")
    )


def key_locality_report(
    df: DataFrame, key_col: str, other_col: str, tiebreak_col: str
) -> DataFrame:
    """Point-lookup locality audit: for each candidate layout, how many
    of 32 files does a single-key lookup actually touch? Reports per
    layout: files containing an average key (exact containment — the
    file count a perfectly-sharp index pays), the worst key, and the
    expected extra files a per-file BLOOM filter fails to skip (the
    standard parquet/ORC bloom with m/n = 10 bits per key and
    k = 7 hashes: fpr = (1 - exp(-k*n/m))^k per file).

    Layouts: ``linear_key`` (clustered by the lookup key — containment
    ~1 file), ``linear_other`` (clustered by an unrelated column — the
    key smears everywhere), ``zorder`` (the compromise that keeps BOTH
    range scans and point lookups bounded). File assignment is SQL
    NTILE semantics from one fused two-pass range rank shared by all
    three layouts (no single-task sort);
    containment counts are exact integers; per-key means accumulate in
    DECIMAL; the bloom fpr uses exp/ln doubles on exact integer counts
    (the kaplan_meier-proven cross-engine pair). The metadata frames
    are file- and key-count-bounded."""
    from .curation import global_rank

    z = zvalue(df, [key_col, other_col]).alias("__z")
    # one scan: the projected frame (including the bit-interleaved
    # z-value) is materialized once (lazy — folds into the range
    # sampling pass) and feeds the single fused ranking below
    base = df.select(
        F.col(key_col).alias("k"),
        F.col(other_col).cast("double").alias("o"),
        z,
        F.col(tiebreak_col).alias("tb"),
    ).localCheckpoint(eager=False)
    # ALL layouts rank in ONE global_rank pass (the skipping_report
    # device): rows explode into (layout_index, sort-key) copies, the
    # layout index leads the range order so layout blocks are
    # contiguous, and each layout's NTILE replays from the global rank
    # as r - li*n with exact_ntile's own remainder arithmetic. One
    # range shuffle / checkpoint / counts pass instead of three, and
    # ONE distinct over (layout, key, file) instead of one per layout.
    # Each layout's sort key keeps its ORIGINAL type in its own struct
    # field (the unused fields are NULL constants within a layout and
    # never affect the within-layout order), so the fusion is exact
    # for any orderable key type.
    layouts = ["linear_key", "linear_other", "zorder"]
    k_type = base.schema["k"].dataType
    keyed = {
        "linear_key": (F.col("k"), F.lit(None).cast("double"), F.lit(None).cast("long")),
        "linear_other": (F.lit(None).cast(k_type), F.col("o"), F.lit(None).cast("long")),
        "zorder": (F.lit(None).cast(k_type), F.lit(None).cast("double"), F.col("__z")),
    }
    lay = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("li"),
                    keyed[name][0].alias("ko"),
                    keyed[name][1].alias("oo"),
                    keyed[name][2].alias("zo"),
                )
                for i, name in enumerate(layouts)
            ]
        )
    ).alias("L")
    e = base.select("k", "tb", lay).select(
        "k", "tb", "L.li", "L.ko", "L.oo", "L.zo"
    )
    ranked = global_rank(
        e,
        [F.col("li"), F.col("ko"), F.col("oo"), F.col("zo"), F.col("tb")],
        rank_col="_r",
        total_col="_N",
    )
    n_rows = F.expr(f"_N div {len(layouts)}")  # exact: _N = n_layouts * n
    r = F.col("_r") - F.col("li").cast("long") * n_rows
    kf = F.lit(32).cast("long")
    q = F.floor(n_rows / kf).cast("long")
    rem = (n_rows % kf).cast("long")
    big = (q + F.lit(1)) * rem
    tile = F.when(r <= big, F.floor((r + q) / (q + F.lit(1)))).otherwise(
        rem + F.floor((r - big + q - F.lit(1)) / q)
    )
    lay_name = F.element_at(
        F.array(*[F.lit(nm) for nm in layouts]), F.col("li") + 1
    )
    # the distinct (layout, key, file) incidence pairs feed BOTH the
    # per-file and the per-key views: dedupe once (one shuffle on the
    # triple) instead of two expand-heavy countDistinct aggs re-reading
    # the assignment
    pairs = (
        ranked.select(
            lay_name.alias("layout"), "k", tile.cast("int").alias("f")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    per_file = pairs.groupBy("layout", "f").agg(F.count(F.lit(1)).alias("nk"))
    # per-file bloom fpr on exact distinct-key counts; m sized by the
    # AVERAGE file's key count (one filter budget per file)
    m = F.lit(10.0) * F.col("nk").cast("double")
    fpr = F.pow(
        F.lit(1.0)
        - F.exp(F.lit(-7.0) * F.col("nk").cast("double") / m),
        F.lit(7.0),
    )
    blooms = per_file.groupBy("layout").agg(
        F.count(F.lit(1)).alias("nf"),
        F.sum(F.round(fpr, 9).cast("decimal(38,9)")).alias("s_fpr"),
    )
    containment = (
        pairs.groupBy("layout", "k")
        .agg(F.count(F.lit(1)).alias("cf"))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cf").alias("s_cf"),
            F.max("cf").alias("max_files_per_key"),
        )
    )
    return (
        containment.join(F.broadcast(blooms), "layout")
        .select(
            "layout",
            F.lit(32).alias("n_files"),
            "n_keys",
            F.round(F.col("s_cf").cast("double") / F.col("n_keys"), 6).alias(
                "avg_files_per_key"
            ),
            "max_files_per_key",
            F.round(
                (F.col("nf").cast("double") - F.col("s_cf").cast("double") / F.col("n_keys"))
                * (F.col("s_fpr").cast("double") / F.col("nf")),
                6,
            ).alias("expected_bloom_fp_files"),
        )
        .orderBy("layout")
    )


def file_overlap_depth(
    df: DataFrame,
    ingest_col: str,
    sort_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """LSM-style overlap audit: when 32 files are cut by INGEST order, how
    many files' [min, max] ranges over ``sort_col`` stack on top of each
    other (the number of files a merging reader — or a compactor — must
    open at once)? Reports per layout (``ingest`` vs ``sorted``):
    max overlap depth and the mean depth at file starts. ``sorted``
    is the after-compaction baseline (depth ~1); the gap between the
    two rows is the compaction payoff, measured before running it.

    Sweep-line on the 2*32 boundary METADATA rows: +1 at each
    file's min, -1 after its max, running sum ordered by (value, close
    flag, file id) — closes sort before opens at ties via the flag, so
    touching-but-not-overlapping boxes don't count as stacked. The
    running sum's unpartitioned window is file-count-bounded (frozen in
    the plan budget's global_windows metric); file assignment is
    :func:`curation.exact_ntile`."""
    from .curation import exact_ntile

    base = df.select(
        F.col(ingest_col).alias("ing"),
        F.col(sort_col).cast("double").alias("v"),
        F.col(tiebreak_col).alias("tb"),
    )
    keys = {"ingest": ["ing", "tb"], "sorted": ["v", "tb"]}
    parts = []
    for name, ks in keys.items():
        boxes = (
            exact_ntile(base, [F.col(c) for c in ks], 32, out_col="f")
            .groupBy("f")
            .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        )
        # both sweep events per file box in ONE pass (the former
        # two-branch union re-ran the NTILE+min/max tail per event kind)
        events = boxes.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("mn").alias("val"), F.lit(0).alias("closing"),
                        F.col("f"), F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.col("mx").alias("val"), F.lit(1).alias("closing"),
                        F.col("f"), F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("e")
        ).select("e.val", "e.closing", "e.f", "e.delta")
        w = (
            Window.orderBy("val", F.desc("closing"), "f")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        depth = events.select(
            "closing", F.sum("delta").over(w).alias("d")
        )
        parts.append(
            depth.filter(F.col("closing") == 0)
            .agg(
                F.max("d").alias("max_overlap_depth"),
                F.sum("d").alias("sd"),
                F.count(F.lit(1)).alias("nf"),
            )
            .select(
                F.lit(name).alias("layout"),
                F.lit(32).alias("n_files"),
                F.col("max_overlap_depth").cast("int").alias("max_overlap_depth"),
                F.round(F.col("sd").cast("double") / F.col("nf"), 6).alias(
                    "avg_depth_at_open"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("layout")


def cow_rewrite_plan(
    df: DataFrame,
    key_col: str,
    other_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Copy-on-write amplification audit over 32 files: given a deterministic ~1%
    update batch keyed by ``key_col``, how many files must a COW table
    rewrite, and how many untouched rows ride along? Reports per
    layout (clustered ``by_key`` vs ``by_other``): updated rows, files
    touched, rows rewritten, and write amplification (rows rewritten /
    rows updated) — the number that decides merge-on-read vs
    copy-on-write, or a re-cluster before the backfill.

    The update set is an md5 hash-lottery on the key
    (:func:`curation.hash_unit` — reproducible across engines); file
    assignment is :func:`curation.exact_ntile`; rewritten rows = the
    exact row counts of touched files (integer sums). Everything after
    assignment runs on file-count-bounded metadata."""
    from .curation import exact_ntile, hash_unit

    base = df.select(
        F.col(key_col).alias("k"),
        F.col(other_col).cast("double").alias("o"),
        F.col(tiebreak_col).alias("tb"),
    )
    upd = F.col("is_upd")
    keys = {"by_key": ["k", "tb"], "by_other": ["o", "tb"]}
    parts = []
    for name, ks in keys.items():
        assigned = exact_ntile(
            base, [F.col(c) for c in ks], 32, out_col="f"
        ).withColumn(
            "is_upd", (hash_unit(F.col("k"), "cow") < F.lit(0.01)).cast("long")
        )
        per_file = assigned.groupBy("f").agg(
            F.count(F.lit(1)).alias("rows"), F.sum(upd).alias("n_upd")
        )
        parts.append(
            per_file.agg(
                F.sum("n_upd").alias("rows_updated"),
                F.sum(F.when(F.col("n_upd") > 0, 1).otherwise(0)).alias(
                    "files_touched"
                ),
                F.sum(F.when(F.col("n_upd") > 0, F.col("rows")).otherwise(0)).alias(
                    "rows_rewritten"
                ),
            ).select(
                F.lit(name).alias("layout"),
                F.lit(32).alias("n_files"),
                F.col("rows_updated").cast("bigint").alias("rows_updated"),
                F.col("files_touched").cast("bigint").alias("files_touched"),
                F.col("rows_rewritten").cast("bigint").alias("rows_rewritten"),
                F.round(
                    F.col("rows_rewritten").cast("double")
                    / F.col("rows_updated"),
                    6,
                ).alias("write_amplification"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("layout")


def bloom_fpr_audit(
    df: DataFrame,
    key_col: str,
    order_col: str,
) -> DataFrame:
    """EMPIRICAL Bloom-filter false-positive audit: per ingest-cut file
    (16 files), build a real Bloom bitmap over the file's keys (m = 8·63
    bits, 5 md5-derived positions per key — 63 bits per long keeps every
    shift off the sign bit), probe it with a deterministic hash-sample
    (rate 0.2) of keys the file does NOT contain, and count the exact
    false positives — measured FPR next to the (1-e^{-kn/m})^k formula
    the planner uses (:func:`key_locality_report`). The formula-vs-
    reality gap is what decides whether footer blooms are worth their
    bytes for THIS key distribution.

    Shape: bitmap construction is one bit_or aggregate per file over
    in-row per-key bitmaps (pure integer Column arithmetic — no UDF);
    membership leaves via left_anti; the probe cross join is
    (sampled keys × 16 files) — rate-bounded, never keys × keys. Every
    hash is md5 arithmetic both engines replay bit-for-bit."""
    from .curation import exact_ntile, hash_unit

    m_bits = 8 * 63
    base = df.select(F.col(key_col).alias("k"), F.col(order_col).alias("ob"))
    # (f, k) is consumed three times (bitmap build, anti-join probe
    # membership, per-file key counts). Deliberately NOT checkpointed:
    # re-tried in r9 with plan evidence (the anti-join is SMJ with or
    # without the pin, and both crossJoins carry explicit broadcast
    # hints, so the r8 "stats loss flips the join" failure mode did
    # not apply) — and the pinned form still measured 3.6 -> 6.4 s:
    # one 5.0 s stage appears that the unpinned plan does not have,
    # i.e. runtime AQE exchange reuse covers the repeated subtrees
    # cheaper than checkpoint-block re-reads here. Twice-confirmed
    # negative result; see OPTIMIZATION_r09.md.
    files = exact_ntile(
        base, [F.col("ob"), F.col("k")], 16, out_col="f"
    ).select("f", "k").distinct()

    def positions(key: F.Column) -> F.Column:
        return F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    key.cast("string"), F.lit(f":bloomfpr{i}")
                                ).cast("binary")
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % m_bits
                )
                for i in range(5)
            ]
        )

    # shiftleft needs a LITERAL shift count, so 2^(p mod 63) comes from
    # a 63-entry power-of-two literal array lookup instead
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(63)])

    def bitmap_longs(pos: F.Column) -> list:
        return [
            F.aggregate(
                pos,
                F.lit(0).cast("long"),
                lambda acc, p: acc.bitwiseOR(
                    F.when(
                        F.floor(p / 63) == j,
                        F.element_at(pow2, (p % 63).cast("int") + F.lit(1)),
                    ).otherwise(F.lit(0).cast("long"))
                ),
            ).alias(f"b{j}")
            for j in range(8)
        ]

    member_bits = files.select("f", *bitmap_longs(positions(F.col("k"))))
    # per-file key count rides the SAME aggregate as the bitmaps:
    # files is a distinct (f, k) set, so count(1) == countDistinct(k)
    # — the separate nkeys pass (a third full exact_ntile re-derivation)
    # is gone (guide §2.4)
    blooms_nk = member_bits.groupBy("f").agg(
        *[F.bit_or(f"b{j}").alias(f"m{j}") for j in range(8)],
        F.count(F.lit(1)).alias("nk"),
    )
    blooms = blooms_nk.drop("nk")
    # the probe key's bitmap depends only on k: compute the 5-md5 fold
    # ONCE per sampled key BEFORE the files crossJoin (inside it, each
    # key would recompute the fold once per file — measured 16x md5
    # work on the probe side)
    probe_keys = (
        base.select("k")
        .distinct()
        .filter(hash_unit(F.col("k"), "bloomfpr") < F.lit(0.2))
        .select("k", *bitmap_longs(positions(F.col("k"))))
    )
    # NO anti-join: a member key's bits are all set in its own file's
    # bitmap by construction (bit_or of exactly those positions), so
    # every (f, k) ∈ files pair among the sampled keys tests positive
    # with certainty — Bloom filters have no false negatives. Probing
    # ALL (sampled key × file) pairs and subtracting the sampled member
    # -pair count gives bit-identical n_probes / n_false_positives
    # while deleting the SortMergeJoin LeftAnti that sorted the wide
    # (key + 8-long bitmap) probe side, and the files subtree it
    # re-derived (was the plan's one SMJ; r9 plan pair).
    pb = probe_keys.crossJoin(F.broadcast(blooms))
    might = None
    for j in range(8):
        c = F.col(f"m{j}").bitwiseAND(F.col(f"b{j}")) == F.col(f"b{j}")
        might = c if might is None else (might & c)
    counted = pb.select(might.cast("long").alias("fp"))
    # sampled member pairs: the probe_keys sampling predicate verbatim,
    # applied to files — a scalar aggregate, not a join
    ms = files.filter(hash_unit(F.col("k"), "bloomfpr") < F.lit(0.2)).agg(
        F.count(F.lit(1)).alias("ms")
    )
    theo = blooms_nk.select(
        F.round(
            F.pow(
                F.lit(1.0)
                - F.exp(
                    F.lit(-5.0)
                    * F.col("nk").cast("double")
                    / F.lit(float(m_bits))
                ),
                F.lit(5.0),
            ),
            9,
        )
        .cast("decimal(38,9)")
        .alias("t")
    ).agg(
        F.count(F.lit(1)).alias("nf"), F.sum("t").alias("st")
    )
    return (
        counted.agg(
            F.count(F.lit(1)).alias("np_all"),
            F.sum("fp").alias("mp"),
        )
        .crossJoin(F.broadcast(ms))
        .select(
            (F.col("np_all") - F.col("ms")).alias("n_probes"),
            # preserve the old sum-over-empty NULL: with zero surviving
            # probes the anti-joined frame aggregated sum(fp) over no
            # rows
            F.when(F.col("np_all") - F.col("ms") == 0, F.lit(None))
            .otherwise(F.col("mp") - F.col("ms"))
            .alias("n_false_positives"),
        )
        .crossJoin(F.broadcast(theo))
        .select(
            F.lit(16).alias("n_files"),
            F.lit(m_bits).alias("m_bits"),
            F.lit(5).alias("k_hashes"),
            F.col("n_probes").cast("bigint").alias("n_probes"),
            F.col("n_false_positives").cast("bigint").alias("n_false_positives"),
            F.round(
                F.col("n_false_positives") / F.col("n_probes").cast("double"), 6
            ).alias("empirical_fpr"),
            F.round(F.col("st").cast("double") / F.col("nf"), 6).alias(
                "theoretical_fpr"
            ),
        )
    )
