"""Join-strategy utility tests."""

from pyspark.sql import functions as F

from avro_sql_spark.operators.joins import broadcast_if_small, salted_join


def test_salted_join_matches_plain_join(spark):
    # heavily skewed big side: 90% of rows share key 1
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(1000)], "k LONG, payload LONG"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "a"), (30, "b")], "k LONG, name STRING")
    expected = big.join(small, "k").count()
    salted = salted_join(big, small, "k")
    assert salted.count() == expected
    assert set(salted.columns) == {"k", "payload", "name"}
    # row multiplicity preserved for the hot key
    hot = salted.filter(F.col("k") == 1).count()
    assert hot == big.filter(F.col("k") == 1).count()


def test_broadcast_if_small(spark):
    small = spark.range(10)
    hinted = broadcast_if_small(small)
    big = spark.range(10000).withColumnRenamed("id", "id2")
    plan = big.join(hinted, big.id2 == hinted.id)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_blocked_fuzzy_pairs_blocks_and_bounds(spark):
    """Only same-block pairs may appear, each unordered pair once, and
    the distance bound is honored; cross-block near-identical names must
    NOT match (that is the documented blocking tradeoff)."""
    from avro_sql_spark.operators.joins import blocked_fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "red widget", "A"),
            (2, "red widgef", "A"),   # 1 edit, same block
            (3, "red widget", "B"),   # identical name, other block
            (4, "blue bolt", "A"),    # same block, far away
        ],
        ["id", "name", "blk"],
    )
    rows = blocked_fuzzy_pairs(df, "id", "name", ["blk"]).collect()
    pairs = {(r["id_a"], r["id_b"]): r["distance"] for r in rows}
    assert pairs == {(1, 2): 1}


def test_blocked_fuzzy_pairs_is_equi_join(spark):
    """The block key must plan as an equi-join (hash/broadcast), never a
    cartesian product."""
    from avro_sql_spark.operators.joins import blocked_fuzzy_pairs

    df = spark.createDataFrame([(1, "x", "A"), (2, "y", "B")], ["id", "name", "blk"])
    plan = blocked_fuzzy_pairs(df, "id", "name", ["blk"])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bloom_prefilter_join_exact_and_pruning(spark):
    """The bloom-prefiltered join must equal the plain join exactly
    (false positives die in the join), and the prefilter must actually
    prune: survivors ≈ matching rows + small fp tail, far below input."""
    from pyspark.sql import functions as F

    from avro_sql_spark.operators.joins import (
        bloom_might_contain,
        bloom_prefilter_join,
        build_bloom,
    )

    big = spark.range(0, 20000).select((F.col("id") % 5000).alias("k"), "id")
    small = spark.range(0, 100).select((F.col("id") * 7).alias("k"))  # 100 keys
    got = bloom_prefilter_join(big, small, "k").groupBy().count().collect()[0][0]
    want = big.join(small, "k").count()
    assert got == want
    # pruning effectiveness: 100/5000 keys match -> ~400 true rows out
    # of 20000; allow a generous fp margin but require real pruning
    words = build_bloom(small, "k")
    survivors = big.filter(bloom_might_contain(F.col("k"), words, 1 << 18)).count()
    assert want <= survivors < 2000


def test_bloom_no_false_negatives(spark):
    from pyspark.sql import functions as F

    from avro_sql_spark.operators.joins import bloom_might_contain, build_bloom

    keys = spark.range(0, 1000).select((F.col("id") * 31 + 7).alias("k"))
    words = build_bloom(keys, "k", num_bits=1 << 14)
    # every inserted key must test positive (bloom guarantees no FN)
    misses = keys.filter(
        ~bloom_might_contain(F.col("k"), words, 1 << 14)
    ).count()
    assert misses == 0


def test_bloom_num_bits_normalized(spark):
    from pyspark.sql import functions as F

    from avro_sql_spark.operators.joins import bloom_might_contain, build_bloom

    keys = spark.range(0, 500).select((F.col("id") * 13 + 3).alias("k"))
    # non-multiple-of-64 size must round up consistently, not IndexError
    words = build_bloom(keys, "k", num_bits=1000)
    assert len(words) == 1024 // 64
    misses = keys.filter(~bloom_might_contain(F.col("k"), words, 1000)).count()
    assert misses == 0
