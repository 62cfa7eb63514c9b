"""Z-order layout tests: bit-interleave correctness against hand values,
and the actual pruning payoff — after zorder_write, each file covers a
narrow slice of BOTH clustering columns, so min/max stats prune."""

import glob

from pyspark.sql import functions as F

from avro_sql_spark.operators.layout import (
    interleave_bits,
    skipping_report,
    zorder_write,
)


def test_interleave_bits_hand_values(spark):
    """Morton order for 2-bit inputs (their 14 high bits are zero):
    z(x=0b10, y=0b11) interleaves to y1 x1 y0 x0 = 1 1 1 0 = 14; plus
    axis identities."""
    df = spark.range(1).select(
        interleave_bits([F.lit(2), F.lit(3)]).alias("z"),
        interleave_bits([F.lit(3), F.lit(0)]).alias("zx"),
        interleave_bits([F.lit(0), F.lit(3)]).alias("zy"),
    )
    row = df.collect()[0]
    assert row["z"] == 14
    # x-only bits land at even positions (0b0101), y-only at odd (0b1010)
    assert row["zx"] == 5
    assert row["zy"] == 10


def test_interleave_bits_monotone_on_axis(spark):
    """Holding y fixed, z is strictly increasing in x (curve locality)."""
    df = spark.range(16).select(
        F.col("id"), interleave_bits([F.col("id"), F.lit(5)]).alias("z")
    )
    rows = df.orderBy("id").collect()
    zs = [r["z"] for r in rows]
    assert zs == sorted(zs)
    assert len(set(zs)) == 16


def test_zorder_write_localizes_both_columns(spark, tmp_path):
    """A 64x64 grid written z-ordered, one file per default-parallelism
    slot (4 here): every file must cover far less than the full range
    of y, and all files but the one across the curve's middle jump
    (from (63, 31) to (0, 32)) far less than the full range of x. A
    plain sort on x would leave y covering its full range in every
    file, a plain sort on y x in every file."""
    grid = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
    )
    path = str(tmp_path / "zorder")
    zorder_write(grid, path, ["x", "y"])

    files = glob.glob(path + "/part-*.parquet")
    assert len(files) == spark.sparkContext.defaultParallelism == 4
    spans = [
        spark.read.parquet(f)
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()[0]
        for f in files
    ]
    # 4 files of a 64x64 z-curve are 32x32 quadrant tiles; allow slack
    # for range-partition boundary cuts
    assert all(st["sy"] <= 40 for st in spans)
    assert sum(st["sx"] <= 48 for st in spans) >= len(files) - 1


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """partitionBy directory layout + a partition-column predicate:
    the scan's PartitionFilters must carry the predicate (directory
    pruning — the filter never touches non-matching files)."""
    from avro_sql_spark.sources.io import write_table

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("bucket")
    )
    path = str(tmp_path / "by_bucket")
    write_table(df, path, partition_by=["bucket"])
    read = spark.read.parquet(path).filter(F.col("bucket") == "2")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pushed partition filter names the column (not an empty list)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1)
    assert read.count() == 250


def test_skipping_report_zorder_beats_linear_off_axis(spark):
    """On a uniform 2-D grid, the z-order layout must prune files for
    predicates on BOTH columns while the linear layout prunes only its
    sort column — so z-order scans strictly fewer file-predicate pairs
    and the report's schema/arithmetic hold (scanned fractions in
    (0, 32], pruned fractions in [0, 1))."""
    n = 64
    df = spark.range(n * n).select(
        F.col("id").alias("tb"),
        (F.col("id") % n).cast("double").alias("x"),
        (F.col("id") / n).cast("long").cast("double").alias("y"),
    )
    rep = skipping_report(df, ["x", "y"], "tb", layouts=("linear", "zorder", "hilbert"))
    rows = {r["layout"]: r for r in rep.collect()}
    assert set(rows) == {"linear", "zorder", "hilbert"}
    for r in rows.values():
        assert r["n_files"] == 32 and r["n_predicates"] == 16
        assert 0 < r["avg_files_scanned"] <= 32
        assert 0 <= r["pct_pruned"] < 1
    # the linear layout sorts by x only: every file spans ALL of y, so
    # a y-restricted predicate can never prune -> z-order wins
    assert rows["zorder"]["pct_pruned"] > rows["linear"]["pct_pruned"]
    # the jump-free curve prunes at least as well as Morton here
    assert rows["hilbert"]["pct_pruned"] >= rows["zorder"]["pct_pruned"]


def test_compaction_plan_offsets(spark):
    """Byte-offset binning: files land in the bin their first byte
    falls in; totals are exact."""
    from avro_sql_spark.operators.layout import compaction_plan

    files = spark.createDataFrame(
        [(1, 60), (2, 60), (3, 60), (4, 10)], "file_id int, bytes long"
    )
    out = {r["bin"]: r for r in compaction_plan(files, target_bytes=100).collect()}
    # offsets: f1@0 -> bin0, f2@60 -> bin0, f3@120 -> bin1, f4@180 -> bin1
    assert out[0]["n_files"] == 2 and out[0]["total_bytes"] == 120
    assert out[1]["n_files"] == 2 and out[1]["total_bytes"] == 70
    assert out[0]["fill"] == 1.2 and out[1]["fill"] == 0.7


def test_hilbert_index_matches_reference_xy2d(spark):
    """The 16-level fold must equal the textbook xy2d on raw grid
    coordinates (passed in as ``coords``, so no scaling applies), and
    adjacent curve positions must be grid neighbors (the no-jump
    property Morton lacks). An 8x8 corner grid is the curve's first 64
    positions."""
    from avro_sql_spark.operators.layout import hilbert_index

    def xy2d(n, x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    n = 8  # 8x8 grid: 64 cells, exhaustive
    pts = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        (x, y) for x in range(n) for y in range(n)
    )]
    df = spark.createDataFrame(pts, "pid long, x double, y double")
    coords = [F.col("x").cast("long"), F.col("y").cast("long")]
    out = {
        (int(r["x"]), int(r["y"])): r["hval"]
        for r in hilbert_index(df, ["x", "y"], coords=coords).collect()
    }
    for x in range(n):
        for y in range(n):
            assert out[(x, y)] == xy2d(1 << 16, x, y), (x, y)
    # no-jump: consecutive d are Manhattan-adjacent cells
    byd = {d: xy for xy, d in out.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = byd[d], byd[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d
