"""global_rank / rrf_fuse / cluster_representatives unit fixtures."""

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators.curation import global_rank, rrf_fuse
from avro_sql_spark.operators.dedup import cluster_representatives


def test_global_rank_matches_single_window(spark):
    rows = [(i, float((i * 37) % 101)) for i in range(200)]
    df = spark.createDataFrame(rows, "id LONG, score DOUBLE")
    ranked = global_rank(df, [F.desc("score"), F.asc("id")])
    got = {r.id: r.rank for r in ranked.collect()}
    expect_order = sorted(rows, key=lambda t: (-t[1], t[0]))
    for rank, (i, _) in enumerate(expect_order, start=1):
        assert got[i] == rank


def test_global_rank_is_total_and_dense(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "id LONG")
    ranked = global_rank(df, [F.asc("id")])
    ranks = sorted(r.rank for r in ranked.collect())
    assert ranks == list(range(1, 51))


def test_rrf_fuse_hand_value(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], "id LONG, rank LONG")
    b = spark.createDataFrame([(1, 2), (2, 1)], "id LONG, rank LONG")
    out = {r.id: r.rrf for r in rrf_fuse(a, b, "id").collect()}
    assert out[1] == 1.0 / 61 + 1.0 / 62
    assert out[2] == 1.0 / 62 + 1.0 / 61


def test_rrf_fuse_inner_join_drops_one_sided(spark):
    a = spark.createDataFrame([(1, 1), (3, 2)], "id LONG, rank LONG")
    b = spark.createDataFrame([(1, 1)], "id LONG, rank LONG")
    assert rrf_fuse(a, b, "id").count() == 1


def test_cluster_representatives_election(spark):
    # docs 1/2 are near-dups (2 longer -> wins); 3 is a singleton
    rows = [
        (1, "the cat sat on the mat and looked at the dog", 44),
        (2, "the cat sat on the mat and looked at the dog x", 46),
        (3, "completely different text about spark engines here", 50),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, n_chars LONG")
    out = {r.cluster_id: r for r in cluster_representatives(docs).collect()}
    assert out[1].rep_id == 2 and out[1].n_members == 2
    assert out[1].rep_n_chars == 46
    assert out[3].rep_id == 3 and out[3].n_members == 1


def test_chi2_independence_hand_value(spark):
    from avro_sql_spark.operators.profile import chi2_independence

    # 2x2 contingency a/x=30, a/y=10, b/x=10, b/y=30: every marginal is
    # 40, N=80, so each cell expects 20 and contributes (10)^2/20 = 5
    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10 + [("b", "x")] * 10 + [("b", "y")] * 30
    )
    df = spark.createDataFrame(rows, "g STRING, h STRING")
    out = {(r.g, r.h): r for r in chi2_independence(df, "g", "h").collect()}
    # expected for every cell = 40*40/80 = 20; contrib = 100/20 = 5
    assert out[("a", "x")].expected == 20.0
    assert out[("a", "x")].contrib == 5.0
    assert out[("a", "x")].chi2_total == 20.0
    assert out[("b", "y")].obs == 30


def test_chi2_independent_data_is_zero(spark):
    from avro_sql_spark.operators.profile import chi2_independence

    rows = [("a", "x")] * 6 + [("a", "y")] * 2 + [("b", "x")] * 3 + [("b", "y")] * 1
    df = spark.createDataFrame(rows, "g STRING, h STRING")
    out = chi2_independence(df, "g", "h").collect()
    assert all(r.chi2_total == 0.0 for r in out)
