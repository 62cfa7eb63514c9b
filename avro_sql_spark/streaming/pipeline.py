"""Structured Streaming surface (SURVEY.md §2.2 'Streaming': the
reference is per-record inside a host like Kafka Connect; here the engine
owns the stream with readStream → transform → writeStream).

The reshape operator is a stateless projection, so the SAME plan built by
:func:`avro_sql_spark.reshape` works on a streaming DataFrame unchanged —
that is the Spark-native analog of the reference being embedded in a
Kafka Connect SMT. Stateful pieces (windows, dedup, sessions) use
watermarks so state is bounded; ``sessionize`` shows the
``applyInPandasWithState`` pattern for custom stateful operators.

Kafka source/sink need the spark-sql-kafka jar (not bundled with pip
pyspark) — ``kafka_avro_stream`` is the wiring, feature-gated by the jar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Windowed counts with a watermark: late rows beyond ``watermark``
    are dropped and state is evicted — bounded memory at any scale.
    ``slide`` < ``window`` makes the windows overlapping (sliding):
    each event lands in window/slide windows, state scales by the same
    factor."""
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame, id_cols: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (dropDuplicatesWithinWatermark): the streaming analog of exact dedup —
    state holds only keys younger than the watermark."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session windows per user: batch path uses the native
    ``session_window``; on a stream the same expression works under a
    watermark. (For fully custom state machines the streaming-only
    ``applyInPandasWithState`` variant applies; the batch-testable core
    is kept here.)"""
    return (
        events.groupBy(
            F.session_window(F.col("ts"), f"{gap_minutes} minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def kafka_avro_stream(
    spark,
    bootstrap: str,
    topic: str,
    avro_schema_json: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source + from_avro decode + ready for ``reshape`` — the
    full reference deployment shape (Kafka Connect + avro-sql SMT)
    expressed natively. Requires spark-sql-kafka and spark-avro jars."""
    try:
        from pyspark.sql.avro.functions import from_avro
    except ImportError as e:  # pragma: no cover
        raise RuntimeError("pyspark avro functions unavailable") from e
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return raw.select(from_avro(F.col("value"), avro_schema_json).alias("r")).select("r.*")


def enrich_stream(stream_df: DataFrame, dim_df: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream with a (small) dimension
    table. The static side is broadcast per micro-batch, so the stream
    never shuffles — the standard fact-stream × dim pattern. The static
    side is re-read every batch, which also picks up slowly-changing
    dims on file-backed tables."""
    return stream_df.join(F.broadcast(dim_df), on, "left_outer")


def merge_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    id_cols: list[str],
    ts_col: str = "ts",
):
    """foreachBatch append-with-batch-dedup sink: per micro-batch, keep
    only the latest row per key (batch-local last-write-wins on
    ``ts_col``) and APPEND to a parquet table.

    NOT a true upsert: a key arriving in two different micro-batches
    yields two rows in the table — readers must take the max-``ts_col``
    row per key, or a downstream compaction job must fold history. True
    cross-batch merge needs a table format with MERGE support (Delta /
    Iceberg / Hudi); this is the dependency-free parquet shape of that
    pattern, with per-batch dedup bounding sink amplification.

    Returns the started StreamingQuery (caller awaits/stops)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(*id_cols).orderBy(F.desc(ts_col))
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        latest.write.mode("append").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def replay_to_memory(
    stream_out: DataFrame,
    output_mode: str,
    name: str,
    max_wait_sec: int = 300,
) -> DataFrame:
    """Run a streaming transform to completion over its (file-backed)
    source with ``trigger(availableNow=True)`` and a memory sink, then
    return the sink contents as a batch DataFrame.

    This is the replay harness that makes streaming pipelines
    correctness-checkable against a batch oracle: availableNow processes
    exactly the data present at start and stops, so the memory table is
    a deterministic function of the input files. Memory sinks are a
    test/driver tool — production uses kafka/parquet sinks; the
    TRANSFORM under test is byte-identical in both."""
    q = (
        stream_out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    # bounded wait + explicit stop: a stateful transform with a
    # processing-time timeout keeps the query alive after data is
    # exhausted (it schedules batches to fire timeouts) — never hang the
    # caller. Raising (not returning a truncated table) keeps the
    # failure mode explicit; use NoTimeout transforms for replays.
    if not q.awaitTermination(max_wait_sec):
        q.stop()
        q.awaitTermination(30)
        raise TimeoutError(
            f"streaming replay '{name}' did not terminate within "
            f"{max_wait_sec}s (processing-time state timeout on an "
            "availableNow replay? use the NoTimeout variant)"
        )
    return stream_out.sparkSession.table(name)


def stream_events(spark, sf_dir: str) -> DataFrame:
    """readStream over the driver's events parquet with the same
    NANOS-timestamp restore as the batch loader (schema must be given
    explicitly — streaming file sources do not infer)."""
    import os

    from ..session import _nanos_timestamp_columns

    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the glob matters: a bare FILE path makes FileStreamSource set
    # basePath to the file and fail ("must be a directory"); a glob
    # resolves basePath to the parent directory
    stream = spark.readStream.schema(schema).parquet(os.path.join(sf_dir, "events.*"))
    for col in _nanos_timestamp_columns(path):
        stream = stream.withColumn(
            col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
        )
    # watermarks require TIMESTAMP, not TIMESTAMP_NTZ (micros-precision
    # parquet reads as NTZ in Spark 4); the session timezone is pinned
    # UTC (get_spark/load_tables), so the cast is value-stable
    from pyspark.sql.types import TimestampNTZType

    for field in stream.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            stream = stream.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return stream


def stream_stream_click_attribution(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: every (view, click) pair for the same
    user where the click lands within ``horizon`` AFTER the view — the
    streaming form of the batch range-join attribution query. Both
    sides carry watermarks and the join condition bounds event time on
    BOTH ends, so each side's state is evicted once the other side's
    watermark passes the bound — the state-boundedness contract of
    stream-stream joins."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("v_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", watermark)
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select("v_user", "view_id", "click_id", "v_ts", "c_ts")


def stream_stream_outer_attribution(
    views: DataFrame,
    clicks: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: like
    :func:`stream_stream_click_attribution`, but a view with NO click
    inside the horizon still emits — with a NULL click — once the
    watermark passes its match window (the state-expiry null emission
    that makes outer stream joins harder than inner ones: the engine
    must PROVE no future click can match before it releases the row).

    Caveat every consumer must handle: rows whose match window has not
    yet expired when the stream ends are still held in state and never
    emit — so a finite replay is only batch-comparable BELOW the final
    watermark minus the horizon (the driver entry applies exactly that
    cutoff on both sides)."""
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("v_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("c_ts", watermark)
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select("v_user", "view_id", "click_id", "v_ts", "c_ts")
