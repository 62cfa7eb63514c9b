"""Bucketed-table and UDF/UDTF surface tests."""

import pytest
from pyspark.sql import functions as F


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    from avro_sql_spark.sources.bucketing import bucketed_join_ready, write_bucketed

    for t in ("t_left", "t_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    left = spark.range(1000).withColumn("v", F.col("id") * 2)
    right = spark.range(1000).withColumn("w", F.col("id") * 3)
    write_bucketed(left, "t_left", ["id"], num_buckets=8, sort_cols=["id"])
    write_bucketed(right, "t_right", ["id"], num_buckets=8, sort_cols=["id"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast path: the point is that the sort-merge
        # join runs WITHOUT a shuffle (bucket layout = join partitioning)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join_ready(spark, "t_left", "t_right", ["id"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE t_left")
        spark.sql("DROP TABLE t_right")


def test_normalize_embedding_udf(spark):
    from avro_sql_spark.functions.udfs import normalize_embedding

    df = spark.createDataFrame([([3.0, 4.0],), (None,)], "v ARRAY<DOUBLE>")
    out = df.select(normalize_embedding("v").alias("n")).collect()
    assert out[0]["n"] == pytest.approx([0.6, 0.8])
    assert out[1]["n"] is None


def test_batch_quality_model(spark):
    from avro_sql_spark.functions.udfs import batch_quality_model

    df = spark.createDataFrame([("all lower text",), ("ALL UPPER",)], "t STRING")
    scores = [r[0] for r in df.select(batch_quality_model("t")).collect()]
    assert scores[0] > scores[1]  # shouty text scores lower


def test_shingle_udtf(spark):
    from avro_sql_spark.functions.udfs import register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM word_shingles_udtf(1::LONG, 'a b c d'::STRING, 3) ORDER BY shingle"
    ).collect()
    assert [(r["doc_id"], r["shingle"]) for r in rows] == [(1, "a b c"), (1, "b c d")]


