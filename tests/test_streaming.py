"""Streaming tests: reshape on a real stream (rate source → memory
sink), watermarked windows, streaming dedup, sessionization."""

import time

import pytest
from pyspark.sql import functions as F


def _run_stream(sdf, name, timeout=60):
    q = sdf.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination(timeout)
    return q


def test_reshape_on_stream(spark, tmp_path):
    """reshape applies the dialect to a streaming frame — plan is
    stateless so append mode needs no watermark."""
    from avro_sql_spark import reshape

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id LONG, tag STRING, score DOUBLE"
    ).write.parquet(src)
    stream = spark.readStream.schema("id LONG, tag STRING, score DOUBLE").parquet(src)
    assert stream.isStreaming
    out = reshape(stream, "SELECT id as key, score")
    assert out.columns == ["key", "score"]
    _run_stream(out, "reshaped")
    rows = sorted(spark.sql("SELECT * FROM reshaped").collect())
    assert [tuple(r) for r in rows] == [(1, 1.5), (2, 2.5)]


def test_windowed_counts_batch_semantics(spark):
    """The windowed aggregation used by the streaming path, checked on a
    batch frame (same expressions; watermark is a no-op in batch)."""
    from avro_sql_spark.streaming import windowed_counts

    df = spark.createDataFrame(
        [
            ("2024-01-01 00:10:00", "click", 1.0),
            ("2024-01-01 00:50:00", "click", 2.0),
            ("2024-01-01 01:10:00", "click", 4.0),
            ("2024-01-01 00:20:00", "view", 8.0),
        ],
        "ts_s STRING, event_type STRING, value DOUBLE",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    out = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_counts(df).collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 01:00:00", "click")] == (1, 4.0)
    assert out[("2024-01-01 00:00:00", "view")] == (1, 8.0)


def test_streaming_dedup_on_stream(spark, tmp_path):
    from avro_sql_spark.streaming import streaming_dedup

    src = str(tmp_path / "dedup_in")
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:05:00"),  # dup key within watermark
            (2, "2024-01-01 00:06:00"),
        ],
        "k LONG, ts_s STRING",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts")).write.parquet(src)
    stream = spark.readStream.schema("k LONG, ts TIMESTAMP").parquet(src)
    out = streaming_dedup(stream, ["k"])
    _run_stream(out, "deduped")
    assert spark.sql("SELECT count(DISTINCT k) FROM deduped").collect()[0][0] == 2
    assert spark.sql("SELECT count(*) FROM deduped").collect()[0][0] == 2


def test_sessionize(spark):
    from avro_sql_spark.streaming import sessionize

    df = spark.createDataFrame(
        [
            (7, "2024-01-01 00:00:00"),
            (7, "2024-01-01 00:10:00"),  # same session (gap 10m < 30m)
            (7, "2024-01-01 02:00:00"),  # new session
            (8, "2024-01-01 00:05:00"),
        ],
        "user_id LONG, ts_s STRING",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = sessionize(df, gap_minutes=30).orderBy("user_id", "session_start").collect()
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(7, 2), (7, 1), (8, 1)]


def test_stateful_running_profile(spark, tmp_path):
    """applyInPandasWithState across two micro-batches: state carries."""
    from avro_sql_spark.streaming.stateful import running_user_profile

    src = str(tmp_path / "state_in")
    spark.createDataFrame(
        [(7, 1.0), (7, 3.0), (8, 10.0)], "user_id LONG, value DOUBLE"
    ).write.parquet(src)
    stream = spark.readStream.schema("user_id LONG, value DOUBLE").parquet(src)
    # evict_idle=False -> NoTimeout -> the availableNow replay terminates
    # on its own instead of idling until the awaitTermination deadline
    out = running_user_profile(stream, evict_idle=False)
    q = (
        out.writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {r["user_id"]: r for r in spark.sql(
        "SELECT * FROM profiles"
    ).collect()}
    assert rows[7]["n_events"] == 2 and rows[7]["total_value"] == 4.0
    assert rows[8]["max_value"] == 10.0


def test_curation_split_on_stream(spark, tmp_path):
    """deterministic_split/sample are row-local Column expressions, so
    they apply unchanged to a streaming frame — and assign each id the
    SAME split a batch pass assigns (rerun-stable ingest labeling)."""
    from avro_sql_spark.operators import curation

    src = str(tmp_path / "docs_in")
    batch = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(200)], "doc_id LONG, text STRING"
    )
    batch.write.parquet(src)
    stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(src)
    out = curation.deterministic_split(stream)
    assert out.isStreaming
    _run_stream(out, "split_stream")
    got = {r["doc_id"]: r["split"] for r in spark.sql("SELECT * FROM split_stream").collect()}
    want = {r["doc_id"]: r["split"] for r in curation.deterministic_split(batch).collect()}
    assert got == want


def test_enrich_stream_static_join(spark, tmp_path):
    """Stream-static join: streaming facts pick up dim attributes; the
    static side must not make the query stateful (append, no watermark)."""
    from avro_sql_spark.streaming.pipeline import enrich_stream

    src = str(tmp_path / "facts")
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "id LONG, dim_id LONG"
    ).write.parquet(src)
    dims = spark.createDataFrame([(10, "ten"), (20, "twenty")], "dim_id LONG, name STRING")
    stream = spark.readStream.schema("id LONG, dim_id LONG").parquet(src)
    out = enrich_stream(stream, dims, "dim_id")
    _run_stream(out, "enriched")
    rows = {r["id"]: r["name"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {1: "ten", 2: "twenty", 3: None}  # unmatched key survives (left outer)


def test_merge_to_parquet_last_write_wins(spark, tmp_path):
    """foreachBatch upsert sink: within a batch only the latest row per
    key lands in the parquet table."""
    from avro_sql_spark.streaming.pipeline import merge_to_parquet

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, 100, "old"), (1, 200, "new"), (2, 50, "only")],
        "key LONG, ts LONG, payload STRING",
    ).write.parquet(src)
    stream = spark.readStream.schema("key LONG, ts LONG, payload STRING").parquet(src)
    q = merge_to_parquet(stream, out, ckpt, id_cols=["key"], ts_col="ts")
    q.awaitTermination(60)
    rows = {r["key"]: r["payload"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "new", 2: "only"}


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """Batch-equivalence oracle on the real events table: the same
    windowed_counts plan driven availableNow over a file source emits
    exactly the batch result for every window the watermark finalized
    (append mode holds back windows still inside the lateness horizon)."""
    from avro_sql_spark.session import load_tables
    from avro_sql_spark.streaming import windowed_counts

    ev = load_tables(spark, "/root/testdata/sf0.001", register=False)["events"]
    ev = ev.select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
    src = str(tmp_path / "events_src")
    ev.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE").parquet(src)
    _run_stream(windowed_counts(stream, watermark="0 seconds"), "wc_stream")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM wc_stream").collect()
    }

    batch = windowed_counts(ev, watermark="0 seconds").collect()
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    want_all = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in batch
    }
    # windows that certainly finalized (end strictly before max event time)
    from datetime import timedelta
    must_have = {
        k: v for k, v in want_all.items()
        if __import__("datetime").datetime.fromisoformat(k[0]) + timedelta(hours=1) < max_ts
    }
    assert got.items() <= want_all.items()  # nothing the batch didn't produce
    assert must_have.items() <= got.items()  # everything finalized was emitted
    assert len(must_have) > 10  # the oracle actually exercised many windows


def test_streaming_dedup_stream_equals_batch(spark, tmp_path):
    """Batch-equivalence oracle: one emitted row per distinct user_id
    when all events fit one micro-batch (single source file)."""
    from avro_sql_spark.session import load_tables
    from avro_sql_spark.streaming import streaming_dedup

    ev = load_tables(spark, "/root/testdata/sf0.001", register=False)["events"]
    ev = ev.select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
    src = str(tmp_path / "dedup_src")
    ev.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("ts TIMESTAMP, user_id LONG").parquet(src)
    _run_stream(streaming_dedup(stream, ["user_id"]), "dedup_stream")
    got = [r["user_id"] for r in spark.sql("SELECT user_id FROM dedup_stream").collect()]
    want = {r["user_id"] for r in ev.select("user_id").distinct().collect()}
    assert len(got) == len(want)  # exactly one row per key
    assert set(got) == want


def test_windowed_counts_sliding(spark):
    """slide < window: each event appears in window/slide windows."""
    from avro_sql_spark.streaming.pipeline import windowed_counts

    df = spark.createDataFrame(
        [("2024-01-01 10:30:00", "a", 1.0)], "ts STRING, event_type STRING, value DOUBLE"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_counts(df, window="2 hours", slide="1 hour").collect()
    starts = sorted(str(r["window_start"]) for r in out)
    assert starts == ["2024-01-01 09:00:00", "2024-01-01 10:00:00"]
    assert all(r["n_events"] == 1 for r in out)


def test_streaming_funnel_matches_batch_cascade(spark, tmp_path):
    """streaming_funnel over a file-source replay reaches the same
    per-user stage the batch funnel cascade computes: stage counts are
    the batch funnel's n_view/n_click/n_purchase (stream == batch as
    the oracle for a non-SQL-expressible stateful op)."""
    from datetime import datetime

    from avro_sql_spark.streaming.stateful import streaming_funnel

    rows = [
        # user 1: full ordered funnel
        (1, datetime(2024, 1, 1, 9), "view"),
        (1, datetime(2024, 1, 1, 10), "click"),
        (1, datetime(2024, 1, 1, 11), "purchase"),
        # user 2: click precedes the first view -> stuck at stage 1
        (2, datetime(2024, 1, 1, 8), "click"),
        (2, datetime(2024, 1, 1, 9), "view"),
        # user 3: never views -> stage 0
        (3, datetime(2024, 1, 1, 9), "purchase"),
    ]
    src = str(tmp_path / "funnel_in")
    spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_type STRING"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id LONG, ts TIMESTAMP, event_type STRING"
    ).parquet(src)
    q = (
        streaming_funnel(stream, evict_idle=False)
        .writeStream.format("memory")
        .queryName("funnel_stages")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["user_id"]: r["stage"]
        for r in spark.sql("SELECT * FROM funnel_stages").collect()
    }
    assert got == {1: 3, 2: 1, 3: 0}


def test_stream_events_replay_matches_batch_load(spark):
    """The driver-entry replay path (stream_events + replay_to_memory)
    over the real testdata must agree with the batch loader row-for-row
    on a keyed aggregate."""
    from avro_sql_spark.session import load_tables
    from avro_sql_spark.streaming.pipeline import replay_to_memory, stream_events

    sf = "/root/testdata/sf0.001"
    out = replay_to_memory(
        stream_events(spark, sf).groupBy("event_type").count(),
        "complete",
        "replay_check",
    )
    got = {r["event_type"]: r["count"] for r in out.collect()}
    ev = load_tables(spark, sf, register=False)["events"]
    want = {r["event_type"]: r["count"] for r in ev.groupBy("event_type").count().collect()}
    assert got == want


def test_stream_events_timestamps_value_stable(spark):
    """The NTZ->TIMESTAMP cast for watermark eligibility must not shift
    values under the pinned-UTC session."""
    from avro_sql_spark.session import load_tables
    from avro_sql_spark.streaming.pipeline import replay_to_memory, stream_events

    sf = "/root/testdata/sf0.001"
    out = replay_to_memory(
        stream_events(spark, sf).select("event_id", "ts"), "append", "replay_ts_check"
    )
    got = {r["event_id"]: r["ts"] for r in out.collect()}
    ev = load_tables(spark, sf, register=False)["events"]
    for r in ev.select("event_id", "ts").limit(100).collect():
        assert got[r["event_id"]] == r["ts"]


def test_stream_stream_join_horizon(spark, tmp_path):
    """Clicks pair with a prior view of the same user only within the
    horizon; clicks before the view or past the horizon never emit."""
    from datetime import datetime

    from avro_sql_spark.streaming.pipeline import (
        stream_stream_click_attribution,
    )

    rows = [
        (1, datetime(2024, 1, 1, 9, 0), 100, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 9, 30), 100, "click", 1.0, "{}"),   # in horizon
        (3, datetime(2024, 1, 1, 11, 0), 100, "click", 1.0, "{}"),   # past horizon
        (4, datetime(2024, 1, 1, 8, 0), 200, "click", 1.0, "{}"),    # click before view
        (5, datetime(2024, 1, 1, 9, 0), 200, "view", 1.0, "{}"),
    ]
    src = str(tmp_path / "ss_in")
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    spark.createDataFrame(rows, schema).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    joined = stream_stream_click_attribution(
        stream.filter("event_type = 'view'"),
        stream.filter("event_type = 'click'"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_pairs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    pairs = [(r["view_id"], r["click_id"]) for r in spark.sql(
        "SELECT * FROM ss_pairs").collect()]
    assert pairs == [(1, 2)]


def test_stream_stream_outer_join_emits_unmatched(spark, tmp_path):
    """A view with no click in the horizon must still emit — with a NULL
    click — once the watermark proves no match can arrive (the no-data
    micro-batch performs the final eviction on a finite replay)."""
    from avro_sql_spark.streaming.pipeline import (
        stream_stream_outer_attribution,
    )

    src = str(tmp_path / "outer_in")
    spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", "view", 100),
            (1, "2024-01-01 00:30:00", "click", 101),   # matches view 100
            (2, "2024-01-01 00:00:00", "view", 200),    # never clicked
            (1, "2024-01-01 12:00:00", "view", 300),    # advances watermark
            (1, "2024-01-01 12:00:00", "click", 301),
        ],
        "user_id LONG, ts_s STRING, event_type STRING, event_id LONG",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type", "event_id",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id LONG, ts TIMESTAMP, event_type STRING, event_id LONG"
    ).parquet(src)
    joined = stream_stream_outer_attribution(
        stream.filter(F.col("event_type") == "view"),
        stream.filter(F.col("event_type") == "click"),
    )
    _run_stream(joined, "outer_pairs")
    rows = {
        r["view_id"]: r["click_id"]
        for r in spark.sql("SELECT view_id, click_id FROM outer_pairs").collect()
    }
    assert rows[100] == 101          # matched inside the horizon
    assert rows[200] is None         # watermark-expired null emission
