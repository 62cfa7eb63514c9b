"""skipgram_pairs / tf_cosine_pairs / ewma_hourly unit fixtures —
hand-computed golden values on tiny frames."""

import math

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators.text import skipgram_pairs, tf_cosine_pairs


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "a b c d"),
        (2, "a b c d"),
        (3, "x y z!"),  # "z!" fails ^[a-z]+$ -> tokens [x, y]
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_skipgram_window_and_counts(docs):
    out = {
        (r.w1, r.w2): r.n
        for r in skipgram_pairs(docs).collect()
    }
    # per "a b c d": (a,b) (a,c) (b,c) (b,d) (c,d) — twice (docs 1, 2)
    assert out[("a", "b")] == 2
    assert out[("a", "c")] == 2
    assert out[("c", "d")] == 2
    assert ("a", "d") not in out  # distance 3 > window 2
    # doc 3: token "z!" filtered out, only (x, y) remains
    assert out[("x", "y")] == 1
    # directed: no reversed pairs
    assert ("b", "a") not in out


def test_skipgram_top_k_truncates(spark):
    # 60 distinct words in a row make 117 distinct pairs; 100 are kept
    words = [f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(60)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id LONG, text STRING")
    assert skipgram_pairs(docs).count() == 100


def test_tf_cosine_identical_docs(spark):
    rows = [
        (1, "p q r s p q r s"),  # each 3-gram twice except boundary ones
        (2, "p q r s p q r s"),
        (3, "m n o m n o m n o"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = tf_cosine_pairs(docs).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in out}
    assert set(pairs) == {(1, 2)}  # identical docs, and only those
    assert pairs[(1, 2)].cosine == 1.0


def test_tf_cosine_hand_value(spark):
    # doc1 grams: (a b c), (b c d); doc2 grams: (a b c), (c d e)
    rows = [(1, "a b c d"), (2, "a b c d e")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = tf_cosine_pairs(docs).collect()
    assert len(out) == 1
    r = out[0]
    # common grams: "a b c" and "b c d" (doc2 has a b c, b c d, c d e)
    assert r.n_common == 2
    expect = round(2 / (math.sqrt(2.0) * math.sqrt(3.0)), 6)
    assert r.cosine == expect


def test_tf_cosine_df_cap_drops_hot_gram(spark):
    # the gram "t t t" appears in all 102 docs, over the df cap of 100,
    # so it is dropped and the only surviving similarity comes from the
    # rare tail; kept, it alone would give every pair cosine 2/3 >= 0.5
    tails = [f"w{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(100)]
    rows = [(1, "t t t t u u"), (2, "t t t t u u")] + [
        (3 + i, f"t t t t {w} {w}") for i, w in enumerate(tails)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    capped = {(r.doc_a, r.doc_b) for r in tf_cosine_pairs(docs).collect()}
    assert capped == {(1, 2)}  # only the "t t u"/"t u u" tail survives


def test_ewma_hourly_fold(spark, tmp_path):
    import pandas as pd

    # two types; type A has 3 hours with values 1, 2, 4
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 01:10", "2024-01-01 02:10", "2024-01-01 00:30"]
            ),
            "user_id": [1, 1, 1, 2],
            "event_type": ["A", "A", "A", "B"],
            "value": [1.0, 2.0, 4.0, 7.0],
            "props": ["{}"] * 4,
        }
    )
    d = tmp_path / "events.parquet"
    rows.to_parquet(d)
    # build a minimal sf_dir with just events: ewma_hourly loads via
    # load_tables, which needs the standard file name in the directory
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings",
    ]:
        import shutil

        src = f"/root/testdata/sf0.001/{t}.parquet"
        shutil.copy(src, tmp_path / f"{t}.parquet")
    from avro_sql_spark.operators.relational import ewma_hourly

    out = ewma_hourly(spark, str(tmp_path))
    a = [r for r in out.collect() if r.event_type == "A"]
    assert [r.hour_value for r in a] == [1.0, 2.0, 4.0]
    # fold: h1: 1/1; h2: (1*0.5+2)/(1.5); h3: ((1*0.5+2)*0.5+4)/(1.75)
    assert a[0].ewma == 1.0
    assert a[1].ewma == round(2.5 / 1.5, 6)
    assert a[2].ewma == round(5.25 / 1.75, 6)
    b = [r for r in out.collect() if r.event_type == "B"]
    assert b[0].ewma == 7.0
