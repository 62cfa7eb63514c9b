"""Scale-adaptive scan spreading for aggregation keys.

A compacted input (one parquet row group -> one scan task) serializes
everything up to the first exchange onto a single core — including the
PARTIAL side of any aggregation, which Spark places in the scan stage.
For a fact-table groupBy that partial pass is the expensive half (e.g.
copurchase baskets: collect_set over every lineitem row).

``spread_groupby_scan`` repartitions the projected scan on the grouping
key ONLY when the scan under-parallelizes. The repartition exchange has
the exact partitioning the downstream groupBy requires (same key, count
= shuffle.partitions = defaultParallelism in every session this engine
builds), so EnsureRequirements adds NO second exchange: the shuffle
count is unchanged, the aggregation simply runs with both phases after
the exchange on every core.

The probe counts parquet ROW GROUPS, not splits: Spark happily carves a
single file into ``defaultParallelism`` byte ranges, but a row group is
assigned to the one split holding its midpoint, so effective scan
parallelism is bounded by the row-group count and
``df.rdd.getNumPartitions()`` over-reports it (32 "splits" of a
one-row-group file = 31 empty tasks + 1 doing all the work). Footers
are read on the driver with pyarrow — a few KB per file — and only
when the file count alone doesn't already prove the scan wide enough.

The condition keeps the 100 TB story honest: a real fact table scans as
thousands of files/row groups (the file-count short-circuit answers
before any footer is read), the partial aggregation combines map-side
(TPC-H lineitem is clustered by orderkey — ~7 rows fold to 1 before
the wire), and forcing the repartition would throw that 7x shuffle
reduction away. Only a scan narrower than the cluster
(compacted/unsplittable input, guide §2.5 "input skew") takes the
spread.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame


def _scan_row_groups(df: DataFrame, cap: int) -> int:
    """Effective scan-task upper bound for ``df``'s input, counted up
    to ``cap`` (returns early once the scan is provably wide enough).
    Falls back to ``cap`` (= "wide enough, leave it alone") when the
    input isn't local parquet files the driver can footer-read,
    including when it has no files at all (an in-memory frame)."""
    files = df.inputFiles()
    if not files or len(files) >= cap:
        return cap
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return cap
    total = 0
    for uri in files:
        path = uri[len("file://"):] if uri.startswith("file://") else uri
        if not os.path.isfile(path):
            return cap
        total += pq.read_metadata(path).num_row_groups
        if total >= cap:
            return total
    return total


def spread_groupby_scan(df: DataFrame, *keys: "Column | str") -> DataFrame:
    """Repartition ``df`` on ``keys`` iff its scan has fewer row groups
    than ``defaultParallelism``. ``df`` must be a scan/projection (no
    joins or aggregates below), so ``inputFiles()`` resolves on the
    driver without running a job."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if _scan_row_groups(df, n) >= n:
        return df
    return df.repartition(n, *keys)


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin variant for expensive NON-grouped scan-stage work
    (tokenize/explode/regex chains with no key to reuse): adds one
    genuinely new exchange carrying the projected input, but only when
    the probe proves the scan is narrower than the cluster — the
    compacted-input case where the whole chain would otherwise run on
    one core. On splittable input at scale this is a no-op and the
    chain stays exchange-free."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if _scan_row_groups(df, n) >= n:
        return df
    return df.repartition(n)
