"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]``; the same config block is what we'd ship
to a 1000-executor cluster — AQE for runtime re-planning (skew joins,
coalesced shuffle partitions), nested-schema pruning, and Arrow for the
Pandas-UDF extension operators.

Nested-schema pruning makes flatten reshapes and withstructure picks
through records read only their own leaves from parquet. It does not
reach inside arrays and maps: ``transform``, ``filter`` and even
``size(lines)`` read the whole array column, so a withstructure pick
inside an array reads every leaf of the array (on the nested orders of
the benchmark, 3 or 4 output leaves read 10: ``orderkey`` and all 9
``lines`` leaves), and a map key selection reads the whole map.
Extractor paths (``lines.item.partkey``) and ``arrays_zip`` of leaf
paths do prune to the named leaves.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


@functools.lru_cache(maxsize=None)
def scratch_dir() -> str:
    """This process's own scratch directory, removed at exit. The default
    warehouse and the registry's file round trips live under it, so two
    processes on one host never write to the same path."""
    path = tempfile.mkdtemp(prefix="avro-sql-spark-")
    atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(app_name: str = "avro-sql-spark", cpus: int | None = None, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # driver testdata's events.ts is parquet TIMESTAMP(NANOS), which
        # Spark rejects by default; read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide-agg operators (minhash k columns, simhash 64 bit-votes)
        # must stay inside whole-stage codegen
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # small-file scan parallelism: the default 4 MB open-cost makes a
        # 10 MB parquet file scan as 1-3 tasks, serializing every
        # pre-shuffle stage at test/bench scale. 64 KB lets split count
        # follow bytes/defaultParallelism instead. At 100 TB the 128 MB
        # maxPartitionBytes cap governs and this knob is inert — it only
        # stops SMALL scans from under-parallelizing (measured -5..-34%
        # on scan-heavy queries at sf0.1)
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # the console progress bar writes carriage-return lines into the
        # same stream as result lines (check_correctness's OK/FAIL)
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE") or os.path.join(scratch_dir(), "warehouse"),
        )
    )
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (session identity, applicationId, sf_dir) -> {table: DataFrame}.
# Loading builds 10 lazy DataFrames but pays ~10 driver-side schema
# reads (pyarrow footer + Spark analysis) — catalog setup, not query
# cost. Every queries() entry calls load_tables, so without the memo a
# correctness sweep or bench re-pays that setup per query. The session
# OBJECT is part of the key because DataFrames are analysis-bound to
# the session that read them — spark.newSession() shares the
# applicationId but has its own catalog, so a shared key would hand it
# frames (and register views) belonging to the parent. Known limit:
# files added to sf_dir after the first call are not picked up for the
# session's lifetime (the driver testdata is static).
_TABLE_CACHE: "dict[tuple[int, str, str], dict]" = {}


def load_tables(spark: SparkSession, sf_dir: str, register: bool = True):
    """Load the driver's TPC-H-ish parquet tables (TESTDATA.md) and
    optionally register them as temp views for ``spark.sql``."""
    from pyspark.sql import functions as F

    # defensive: the caller's session may not come from get_spark();
    # without this, reading events.parquet (TIMESTAMP NANOS) throws
    # PARQUET_TYPE_ILLEGAL. Runtime-settable, verified.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the nanos→NTZ restore goes through an instant, so the session
        # timezone must be pinned or values shift on non-UTC sessions
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass

    key = (id(spark), spark.sparkContext.applicationId, sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is None:
        dfs = {}
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            df = spark.read.parquet(path)
            for col in _nanos_timestamp_columns(path):
                # nanosAsLong read it as BIGINT nanos; restore a timestamp
                # (micros precision, NTZ to match the other tables)
                df = df.withColumn(
                    col,
                    F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                        "timestamp_ntz"
                    ),
                )
            dfs[name] = df
        _TABLE_CACHE[key] = dfs
        cached = dfs
    if register:
        for name, df in cached.items():
            df.createOrReplaceTempView(name)
    return dict(cached)  # shallow copy: callers may mutate their dict


def _nanos_timestamp_columns(path: str) -> list[str]:
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]
    except Exception:
        return []
