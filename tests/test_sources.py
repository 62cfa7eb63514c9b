"""Source/sink round-trip tests for the always-available formats, plus
the avro feature gate and multimodal plumbing."""

import pytest

from avro_sql_spark.errors import AvroSqlError
from avro_sql_spark.sources import read_table, write_table


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)], "id LONG, tag STRING, score DOUBLE"
    )


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc"])
def test_round_trip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_table(sample, path, fmt=fmt, target_files=1)
    back = read_table(spark, path, fmt=fmt)
    assert back.count() == 3
    assert set(back.columns) == {"id", "tag", "score"}


def test_partitioned_write_prunes(spark, sample, tmp_path):
    path = str(tmp_path / "part")
    write_table(sample, path, fmt="parquet", partition_by=["tag"])
    back = read_table(spark, path, fmt="parquet").filter("tag = 'a'")
    assert back.count() == 2
    # partition pruning visible in the physical plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.count() == 2


def test_unknown_format_rejected(spark):
    with pytest.raises(AvroSqlError, match="Unsupported source format"):
        read_table(spark, "/tmp/x", fmt="xml")


def test_spark_avro_jar_path_uses_filescan(spark, sample, tmp_path):
    """When the spark-avro jar IS on the classpath, avro IO must route
    through the distributed FileScan-avro datasource (the 100 TB path),
    never the driver-side pure-Python fallback. Skipped in jar-less
    containers — there the fallback round-trip test below covers the
    gate; this test keeps the distributed branch exercised the moment a
    driver image ships the jar."""
    from avro_sql_spark.sources.io import _avro_available

    if not _avro_available(spark):
        pytest.skip("spark-avro jar not on classpath in this container")
    path = str(tmp_path / "avro_jar")
    write_table(sample, path, fmt="avro", target_files=1)
    back = read_table(spark, path, fmt="avro")
    assert back.count() == 3
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "avro" in plan.lower() and "FileScan" in plan, plan[:500]


def test_multimodal_plumbing(spark):
    from avro_sql_spark.operators import multimodal

    docs = spark.createDataFrame([(1, "hello world"), (2, "abc")], "doc_id LONG, text STRING")
    media = multimodal.attach_fake_payload(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 11
    assert feats[2]["n_bytes"] == 3
    assert feats[2]["byte_checksum"] == (97 + 98 + 99) % 1_000_003


def test_multimodal_resize(spark):
    from avro_sql_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "abcdefgh" * 10), (2, "xy"), (3, "")], "doc_id LONG, text STRING"
    )
    media = multimodal.attach_fake_payload(docs)
    out = {r.doc_id: r for r in multimodal.resize_images(media).collect()}
    assert all(len(out[i].payload) == 32 * 32 for i in (1, 2, 3))
    assert all((out[i].width, out[i].height) == (32, 32) for i in (1, 2, 3))
    # deterministic across runs
    again = {r.doc_id: r for r in multimodal.resize_images(media).collect()}
    assert all(bytes(out[i].payload) == bytes(again[i].payload) for i in (1, 2, 3))


def test_multimodal_sample_frames(spark):
    from avro_sql_spark.operators import multimodal

    # payload of 700 bytes, 64-byte frames -> 10 whole frames (the
    # 60-byte tail is not a frame), every 4th -> idx 0,4,8
    docs = spark.createDataFrame([(7, "x" * 700)], "doc_id LONG, text STRING")
    media = multimodal.attach_fake_payload(docs)
    rows = multimodal.sample_frames(media).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in rows] == [0, 4, 8]
    assert all(len(r.frame) == 64 for r in rows)


def test_compact_table_collapses_small_files(spark, tmp_path):
    """200 tiny files -> one file (data far below the 128 MB target),
    with identical rows."""
    from avro_sql_spark.sources.io import compact_table

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    spark.range(10_000).repartition(200).write.parquet(src)
    import glob

    assert len(glob.glob(src + "/part-*.parquet")) == 200
    n = compact_table(spark, src, dst)
    assert n == 1
    assert len(glob.glob(dst + "/part-*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 10_000


def test_read_table_avro_honors_avro_schema_option(spark, tmp_path):
    """The jar path's ``avroSchema`` reader option must work on the
    jar-less fallback too, via spec Schema Resolution."""
    import json

    from avro_sql_spark.sources.avro_io import write_avro_fallback
    from avro_sql_spark.sources.io import _avro_available, read_table

    if _avro_available(spark):
        pytest.skip("jar present: option routes to the datasource")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id INT, tag STRING"
    )
    p = str(tmp_path / "evo.avro")
    write_avro_fallback(df, p)
    reader = {
        "type": "record",
        "name": "topLevelRecord",
        "fields": [
            {"name": "id", "type": ["null", "long"]},  # int -> long
            {"name": "extra", "type": ["null", "string"], "default": None},
        ],
    }
    out = read_table(
        spark, p, fmt="avro", avroSchema=json.dumps(reader)
    ).orderBy("id")
    assert [f.name for f in out.schema.fields] == ["id", "extra"]
    rows = out.collect()
    assert [(r["id"], r["extra"]) for r in rows] == [(1, None), (2, None)]
    assert dict(out.dtypes)["id"] == "bigint"


def test_scratch_dir_is_per_process(spark):
    """The default warehouse lives under this process's own scratch
    directory, and another process gets a different one, so two
    registry runs on one host never write to the same path."""
    import os
    import subprocess
    import sys

    from avro_sql_spark.session import scratch_dir

    mine = scratch_dir()
    want = os.environ.get("SPARK_GRAFT_WAREHOUSE") or os.path.join(mine, "warehouse")
    got = spark.conf.get("spark.sql.warehouse.dir")
    assert got.removeprefix("file:").rstrip("/") == want.rstrip("/")
    code = "from avro_sql_spark.session import scratch_dir; print(scratch_dir())"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    other = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    ).stdout.strip()
    assert os.path.isdir(mine) and other and other != mine
    assert not os.path.exists(other)  # removed when its process exited
