"""The one scan-spread policy: repartition before heavy per-row work
only when the scan is narrower than the cluster.

A compacted input (one parquet row group -> one scan task) serializes
everything up to the first exchange onto a single core: tokenize,
shingle and hash chains, vector math, Arrow batches, and the PARTIAL
side of any aggregation, which Spark places in the scan stage.
:func:`spread` is the only place that adds a repartition for that
reason; operators call it right after their projection of the scan.

The count is EXPLICIT (``defaultParallelism``): a bare
``repartition(col)`` takes part in AQE partition coalescing, which sees
"a few MB of text" and merges the shuffle back to one partition. AQE
cannot know that the per-row compute downstream is heavy. A keyed
spread has the partitioning a downstream groupBy or window on the same
key needs (count = shuffle.partitions = defaultParallelism in every
session this engine builds), so EnsureRequirements adds no second
exchange.

The probe counts parquet ROW GROUPS, not splits: Spark carves a single
file into ``defaultParallelism`` byte ranges, but a row group is
assigned to the one split holding its midpoint, so effective scan
parallelism is bounded by the row-group count and
``df.rdd.getNumPartitions()`` over-reports it (32 "splits" of a
one-row-group file = 31 empty tasks + 1 doing all the work). Footers
are read on the driver with pyarrow (a few KB per file), and only when
the file count alone does not already prove the scan wide enough.

The files are read off the ANALYZED plan, not ``df.inputFiles()``:
that one reads the cache-substituted plan, where a cached scan lists
no files, yet a cached scan keeps the scan's partitions (one row group
-> one partition holding every row).

Frames the probe leaves alone (it answers "wide enough"):
 - in-memory and checkpointed frames: they list no input files. A
   checkpoint's partition count over-reports the same way splits do,
   so callers that pin spread at the scan, before the pin;
 - non-parquet files (CSV, JSON, ORC): Spark splits them by byte
   range, so the row-group bound does not apply;
 - files the driver cannot read locally.

At scale a real table scans as thousands of files or row groups (the
file-count short-circuit answers before any footer is read), and a
forced repartition would add a full shuffle of the raw text or vectors
and throw away map-side combining.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame


def _input_files(df: DataFrame) -> "list[str]":
    """The files under ``df``'s file-source relations, cached or not."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    files: "set[str]" = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            rel = leaf.relation()
            if rel.getClass().getSimpleName() == "HadoopFsRelation":
                files.update(rel.inputFiles())
    return sorted(files)


def _scan_row_groups(df: DataFrame, cap: int) -> int:
    """Effective scan-task upper bound for ``df``'s input, counted up
    to ``cap`` (returns early once the scan is provably wide enough).
    Returns ``cap`` for every frame the module docstring lists as left
    alone."""
    files = _input_files(df)
    if not files or len(files) >= cap:
        return cap
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return cap
    total = 0
    for uri in files:
        path = uri[len("file://"):] if uri.startswith("file://") else uri
        if not os.path.isfile(path):
            return cap
        try:
            total += pq.read_metadata(path).num_row_groups
        except pa.ArrowInvalid:  # not parquet: split by byte range
            return cap
        if total >= cap:
            return total
    return total


def spread(df: DataFrame, *keys: "Column | str") -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` partitions, hashed
    on ``keys`` (round-robin when none are given), iff its scan has
    fewer row groups than that; otherwise return ``df`` itself. ``df``
    should be a scan or projection of one, so the probe reads its files
    on the driver without running a job."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if _scan_row_groups(df, n) >= n:
        return df
    return df.repartition(n, *keys)
