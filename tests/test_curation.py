"""Dataset-curation operator invariants: determinism, partition
independence, exact partition-of-rows semantics — the properties that
make these ops safe to rerun at 100 TB."""

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.operators import curation

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from avro_sql_spark.session import load_tables

    return load_tables(spark, SF, register=False)["documents"].cache()


def test_split_is_a_partition(docs):
    """Every row lands in exactly one split; labels are only the three
    requested ones."""
    out = curation.deterministic_split(docs)
    assert out.count() == docs.count()
    labels = {r["split"] for r in out.select("split").distinct().collect()}
    assert labels <= {"train", "val", "test"}
    # 90/5/5 within loose tolerance at this tiny SF
    n = docs.count()
    train = out.filter(F.col("split") == "train").count()
    assert 0.8 * n < train < 0.97 * n


def test_split_stable_under_repartition(docs):
    """The assignment is a pure function of the id — reshuffling the
    input must not move any row between splits."""
    a = curation.deterministic_split(docs).select("doc_id", "split")
    b = curation.deterministic_split(docs.repartition(13)).select("doc_id", "split")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sample_superset_property(docs):
    """The sample is row-local: sampling a larger corpus keeps exactly
    the rows the smaller corpus sampled (growing a corpus never
    resamples)."""
    part = docs.filter(F.col("doc_id") % 2 == 0)
    small = curation.deterministic_sample(part).select("doc_id")
    big = curation.deterministic_sample(docs).select("doc_id")
    assert small.exceptAll(big).count() == 0
    assert big.filter(F.col("doc_id") % 2 == 0).exceptAll(small).count() == 0
    assert small.count() < big.count()


def test_stratified_fractions(docs):
    out = curation.stratified_sample(docs, "lang", {"fr": 1.0})
    # fr kept fully, everything else dropped (default_fraction=0)
    assert out.filter(F.col("lang") != "fr").count() == 0
    assert out.count() == docs.filter(F.col("lang") == "fr").count()


def test_quality_shards_balanced(docs):
    n = docs.count()
    sharded = curation.quality_shards(docs, n_shards=4)
    sizes = {r["shard"]: r["n"] for r in sharded.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) == {1, 2, 3, 4}
    assert max(sizes.values()) - min(sizes.values()) <= 1  # NTILE balance
    assert sum(sizes.values()) == n
    # shard 1 holds the best-quality docs
    q1 = sharded.filter(F.col("shard") == 1).agg(F.min("quality")).first()[0]
    q4 = sharded.filter(F.col("shard") == 4).agg(F.max("quality")).first()[0]
    assert q1 >= q4


def test_splits_row_local_no_shuffle(docs):
    """split/sample must not introduce an Exchange — they fuse into the
    scan."""
    plan = (
        curation.deterministic_sample(curation.deterministic_split(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_quality_shards_approx_contract(docs):
    """The sketch-based variant must cover every row with shard labels
    1..8, keep shard 1 >= shard 8 in quality, and stay shuffle-free in
    the assignment pass (the sketch itself is a separate aggregation)."""
    out = curation.quality_shards_approx(docs)
    n = docs.count()
    assert out.count() == n
    labels = {r["shard"] for r in out.select("shard").distinct().collect()}
    # the heavily-tied quality score may leave some shards empty (ties
    # cross boundaries whole) but the best shard always exists
    assert labels <= set(range(1, 9)) and 1 in labels
    worst = max(labels)
    q1 = out.filter(F.col("shard") == 1).agg(F.min("quality")).first()[0]
    qw = out.filter(F.col("shard") == worst).agg(F.max("quality")).first()[0]
    assert q1 >= qw
    # assignment is row-local: no Exchange in the labeled frame's plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_invariants(docs):
    """Offsets stay inside the budget, seq_ids start at 0 per group and
    increase with id order, and the (group, seq, offset) assignment is
    stable under repartitioning."""
    out = curation.pack_sequences(docs)
    assert out.count() == docs.count()
    assert out.filter((F.col("seq_offset") < 0) | (F.col("seq_offset") >= 512)).count() == 0
    assert out.filter(F.col("seq_id") < 0).count() == 0
    first = out.groupBy("pack_group").agg(F.min("seq_id").alias("m"))
    assert first.filter(F.col("m") != 0).count() == 0
    a = out.select("doc_id", "pack_group", "seq_id", "seq_offset")
    b = curation.pack_sequences(docs.repartition(13)).select(
        "doc_id", "pack_group", "seq_id", "seq_offset"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pack_sequences_offset_math(spark):
    """Docs of 200 tokens each: the k-th doc of a group (in id order)
    starts at cumulative offset 200k, so it lands in sequence
    200k div 512 at offset 200k mod 512 — seqs 0,0,0,1,1,1,2,... with
    offsets 0,200,400,88,288,488,176,..."""
    rows = [(i, " ".join(["w"] * 200)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = curation.pack_sequences(df).orderBy("doc_id").collect()
    groups = {}
    for r in out:
        groups.setdefault(r.pack_group, []).append((r.seq_id, r.seq_offset))
    assert set(groups) <= set(range(8)) and len(groups) > 1
    for got in groups.values():
        assert got == [(200 * k // 512, 200 * k % 512) for k in range(len(got))]


def test_mixture_weights(docs):
    """weight 2.5 => two full epochs + ~half an epoch, all deterministic;
    weight 0.25 => one partial epoch."""
    n = docs.count()
    mixed = curation.mixture({"a": (docs, 2.5), "b": (docs, 0.25)})
    a = mixed.filter(F.col("source") == "a")
    b = mixed.filter(F.col("source") == "b")
    assert a.filter(F.col("epoch") == 0).count() == n
    assert a.filter(F.col("epoch") == 1).count() == n
    frac = a.filter(F.col("epoch") == 2).count()
    assert 0.4 * n < frac < 0.6 * n
    assert 0.15 * n < b.count() < 0.35 * n
    again = curation.mixture({"a": (docs, 2.5), "b": (docs, 0.25)})
    assert mixed.exceptAll(again).count() == 0  # rerun-stable


def test_hash_unit_matches_reference_md5(spark):
    """hash_unit's contract is 'any engine reproduces it bit-for-bit';
    lock it against a pure-Python md5 reimplementation so neither the
    Spark expression nor the DuckDB oracle can drift silently."""
    import hashlib

    ids = [0, 1, 7, 41, 999_983, 2**40 + 3]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id LONG")
    got = {
        r.doc_id: r.u
        for r in df.select(
            "doc_id", curation.hash_unit(F.col("doc_id"), "split").alias("u")
        ).collect()
    }
    for i in ids:
        h = int(hashlib.md5(f"{i}:split".encode()).hexdigest()[:8], 16)
        assert got[i] == (h % 1_000_000) / 1_000_000.0


def _tokens(a, b):
    return " ".join(f"t{i}" for i in range(a, b + 1))


def test_chunk_documents_stride_overlap(spark):
    docs = spark.createDataFrame(
        [(1, _tokens(1, 250)), (2, ""), (3, "only")],
        "doc_id LONG, text STRING",
    )
    out = curation.chunk_documents(docs).orderBy("doc_id", "chunk_idx").collect()
    d1 = [r for r in out if r["doc_id"] == 1]
    assert [r["chunk_idx"] for r in d1] == [0, 1, 2]
    assert [r["n_tokens"] for r in d1] == [128, 128, 58]
    assert d1[0]["chunk"] == _tokens(1, 128)
    assert d1[1]["chunk"] == _tokens(97, 224)  # 32-token overlap at stride 96
    assert d1[2]["chunk"] == _tokens(193, 250)
    assert not [r for r in out if r["doc_id"] == 2]  # empty doc -> no chunks
    assert [r["chunk"] for r in out if r["doc_id"] == 3] == ["only"]


def test_chunk_documents_no_overlap_reconstructs(spark):
    """Dropping each later chunk's 32-token overlap rebuilds the text."""
    docs = spark.createDataFrame([(7, _tokens(1, 300))], "doc_id LONG, text STRING")
    out = curation.chunk_documents(docs).orderBy("chunk_idx").collect()
    chunks = [r["chunk"].split(" ") for r in out]
    rebuilt = chunks[0] + [t for c in chunks[1:] for t in c[32:]]
    assert " ".join(rebuilt) == _tokens(1, 300)


def test_deterministic_take_exact_k_and_stable(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id LONG, text STRING"
    )
    a = sorted(r["doc_id"] for r in curation.deterministic_take(docs, 10).collect())
    b = sorted(r["doc_id"] for r in curation.deterministic_take(docs, 10).collect())
    assert len(a) == 10 and a == b  # exact k, rerun-stable
    # no global sort: top-k via TakeOrderedAndProject
    plan = curation.deterministic_take(docs, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_stratified_take_balanced(spark):
    rows = [(i, "a" if i % 10 else "b") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id LONG, grp STRING")
    out = curation.stratified_take(docs, 5, "grp").collect()
    from collections import Counter

    by = Counter(r["grp"] for r in out)
    assert by["a"] == 5 and by["b"] == 5  # exactly k per group despite 9:1 skew


def test_weighted_take_prefers_heavy_rows(spark):
    """Statistical sanity over a deterministic hash population: rows
    with 100x the weight must dominate a 50-of-1000 sample, and the
    selection is rerun-identical and a TakeOrderedAndProject plan."""
    from avro_sql_spark.operators.curation import weighted_take

    docs = spark.createDataFrame(
        [(i, 1000 if i % 10 == 0 else 10) for i in range(1000)],
        "doc_id long, w long",
    )
    got = weighted_take(docs, "w", 50)
    ids = [r["doc_id"] for r in got.collect()]
    heavy = sum(1 for i in ids if i % 10 == 0)
    # heavy rows are 10% of the population with 100x weight: they should
    # take the clear majority of the sample
    assert heavy > 30
    # deterministic: second run picks the identical set
    ids2 = [r["doc_id"] for r in weighted_take(docs, "w", 50).collect()]
    assert sorted(ids) == sorted(ids2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_remove_dup_spans_owner_keeps_copy(spark):
    """The smallest doc_id containing a duplicated span keeps it; every
    other doc loses exactly the covered tokens; untouched docs round-trip
    text verbatim."""
    from avro_sql_spark.operators.dedup import remove_duplicated_spans

    span = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (10, f"intro {span} outro"),
            (20, f"pre {span} post words"),
            (30, "independent text with absolutely no shared spans here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs).collect()}
    assert out[10]["text"] == f"intro {span} outro"
    assert out[10]["n_tokens_after"] == out[10]["n_tokens_before"]
    assert out[20]["text"] == "pre post words"
    assert out[20]["n_tokens_before"] - out[20]["n_tokens_after"] == 8
    assert out[30]["text"] == "independent text with absolutely no shared spans here"


def test_remove_dup_spans_overlapping_spans_union_coverage(spark):
    """Two overlapping duplicated spans in a victim doc must remove the
    UNION of their covered tokens, not double-count."""
    from avro_sql_spark.operators.dedup import remove_duplicated_spans

    nine = "a b c d e f g h i"  # 9 tokens -> two overlapping 8-spans
    docs = spark.createDataFrame(
        [(1, f"x {nine} y"), (2, f"p q {nine} r")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs).collect()}
    assert out[1]["n_tokens_after"] == out[1]["n_tokens_before"]
    # victim loses the 9 shared tokens exactly once
    assert out[2]["n_tokens_before"] - out[2]["n_tokens_after"] == 9
    assert out[2]["text"] == "p q r"


def test_remove_dup_spans_preserves_case(spark):
    """Matching is case-insensitive but surviving tokens keep their
    original case — the transform must never lowercase a document it
    leaves alone (or the kept parts of one it edits)."""
    from avro_sql_spark.operators.dedup import remove_duplicated_spans

    span_lower = "one two three four five six seven eight"
    span_upper = "One Two Three Four Five Six Seven Eight"
    docs = spark.createDataFrame(
        [
            (1, f"Intro {span_lower} Outro"),
            (2, f"Pre {span_upper} POST"),          # same span, different case
            (3, "Totally Unrelated MIXED case Text"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs).collect()}
    assert out[1]["text"] == f"Intro {span_lower} Outro"     # owner keeps case
    assert out[2]["text"] == "Pre POST"                      # victim: case-insensitive match
    assert out[3]["text"] == "Totally Unrelated MIXED case Text"


def test_perplexity_buckets_ccnet_terciles(spark):
    """Best-scored docs land in bucket 1 per language; bucket sizes
    follow NTILE's floor distribution; char mass is exact."""
    from pyspark.sql import functions as F

    from avro_sql_spark.operators.curation import perplexity_buckets

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i), "en" if i < 7 else "fr") for i in range(10)],
        "doc_id long, text string, lang string",
    )
    scores = spark.createDataFrame(
        [(i, float(-i)) for i in range(10)], "doc_id long, s double"
    )  # doc 0 best, 9 worst
    rep = {
        (r["lang"], r["bucket"]): r
        for r in perplexity_buckets(docs, scores, "s").collect()
    }
    # en: 7 docs -> buckets of 3/2/2 ordered by score desc (docs 0,1,2 head)
    assert rep[("en", 1)]["n_docs"] == 3
    assert rep[("en", 1)]["max_score"] == 0.0 and rep[("en", 1)]["min_score"] == -2.0
    assert rep[("en", 3)]["min_score"] == -6.0
    # fr: 3 docs -> 1 per bucket
    assert all(rep[("fr", b)]["n_docs"] == 1 for b in (1, 2, 3))
    assert rep[("en", 1)]["n_chars"] == 10 + 11 + 12


def test_leakage_safe_split_keeps_clusters_together(spark):
    from avro_sql_spark.operators import curation
    from pyspark.sql import functions as F

    # 6 docs in 3 clusters of 2; pairs connect each cluster
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2), (4, 4), (5, 4)],
        "id LONG, cluster_id LONG",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "id_a LONG, id_b LONG"
    )
    out = curation.leakage_safe_split(clusters, pairs).collect()
    # every report row carries the same zero leakage receipt
    assert all(r["cross_split_pairs"] == 0 for r in out)
    assert sum(r["n_docs"] for r in out) == 6
    assert sum(r["n_clusters"] for r in out) == 3
    # doc-level check: both members of each pair share a split
    asg = curation.deterministic_split(clusters, id_col="cluster_id")
    m = {r["id"]: r["split"] for r in asg.collect()}
    for a, b in [(0, 1), (2, 3), (4, 5)]:
        assert m[a] == m[b]


def test_forget_cascade_bridges_lineitem(spark):
    from avro_sql_spark.operators import curation
    from pyspark.sql import functions as F

    # 500 customers, so the 0.02 forget fraction drops some of them
    customer = spark.createDataFrame([(i,) for i in range(500)], "c_custkey LONG")
    orders = spark.createDataFrame(
        [(oid, oid % 500) for oid in range(1500)], "o_orderkey LONG, o_custkey LONG"
    )
    lineitem = spark.createDataFrame(
        [(oid, j) for oid in range(1500) for j in range(2)],
        "l_orderkey LONG, l_linenumber LONG",
    )
    events = spark.createDataFrame([(i % 500,) for i in range(2500)], "user_id LONG")
    out = {r["table_name"]: r for r in curation.forget_cascade(
        customer, orders, lineitem, events
    ).collect()}
    assert set(out) == {"customer", "orders", "lineitem", "events"}
    for r in out.values():
        assert r["n_after"] == r["n_before"] - r["n_dropped"]
    # the cascade invariant: lineitem drops exactly 2 rows per dropped order
    assert out["lineitem"]["n_dropped"] == 2 * out["orders"]["n_dropped"]
    # forgetting is keyed consistently: a dropped customer's orders all drop
    gone_c = out["customer"]["n_dropped"]
    assert gone_c > 0
    assert out["orders"]["n_dropped"] == 3 * gone_c  # 3 orders per customer


def test_quantile_normalize_matches_global_distribution(spark):
    from avro_sql_spark.operators import curation

    # source A scores 0-9, source B scores 100-109: after normalization
    # both map onto the same global order statistics
    rows = [("A", i, float(i)) for i in range(10)] + [
        ("B", 100 + i, float(100 + i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "source STRING, doc_id LONG, s DOUBLE")
    out = curation.quantile_normalize_report(df, "s").collect()
    by = {(r["source"], r["decile"]): r for r in out}
    # every (source, decile) holds exactly one doc here
    for (src, d), r in by.items():
        assert r["n_docs"] == 1
    # decile 1 of BOTH sources maps to the same global low region; the
    # mapped (norm) values for A and B agree per decile even though the
    # originals differ by 100
    for d in range(1, 11):
        assert by[("A", d)]["norm_lo"] == by[("B", d)]["norm_lo"]
        assert by[("A", d)]["norm_hi"] == by[("B", d)]["norm_hi"]
    # and the originals did NOT agree (the report shows the shift)
    assert by[("A", 1)]["orig_lo"] != by[("B", 1)]["orig_lo"]


def test_source_cap_matches_single_window_rank(docs):
    """The bucketed two-pass per-group rank must equal the naive
    one-window rank exactly — bucket is a prefix of the order key."""
    from pyspark.sql.window import Window

    out = curation.source_cap(docs, cap=5)
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cap")).cast("binary"))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    naive = (
        docs.select("doc_id", "source")
        .withColumn("cap_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("cap_rank") <= 5)
    )
    got = {(r["doc_id"], r["source"], r["cap_rank"]) for r in out.collect()}
    want = {(r["doc_id"], r["source"], r["cap_rank"]) for r in naive.collect()}
    assert got == want
    # the cap binds: no source exceeds it
    per = out.groupBy("source").count().collect()
    assert all(r["count"] <= 5 for r in per)


def test_padding_efficiency_arithmetic(spark):
    from avro_sql_spark.operators.curation import padding_efficiency

    rows = [
        (1, "one two three"),          # 3 tokens  -> bucket 16
        (2, "a b c d e"),              # 5 tokens  -> bucket 16
        (3, " ".join(["tok"] * 17)),   # 17 tokens -> bucket 32
        (4, "123 456 ..."),            # 0 valid tokens -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["bucket_len"]: r for r in padding_efficiency(df).collect()}
    assert set(out) == {16, 32}
    b16 = out[16]
    assert b16["n_docs"] == 2 and b16["n_tokens"] == 8
    # 2 docs -> 1 batch of 8 slots x 16 tokens = 128 padded
    assert b16["padded_tokens"] == 128
    assert b16["fill_ratio"] == round(8 / 128, 6)
    b32 = out[32]
    assert b32["n_docs"] == 1 and b32["padded_tokens"] == 8 * 32


def test_stratified_kfold_balanced_partition(docs):
    """Every doc lands in exactly one fold; per stratum the fold sizes
    differ by at most 1; assignment is deterministic across calls."""
    out = curation.stratified_kfold(docs)
    assert out.count() == docs.count()
    sizes = {
        (r["lang"], r["fold"]): r["count"]
        for r in out.groupBy("lang", "fold").count().collect()
    }
    langs = {k[0] for k in sizes}
    for lang in langs:
        per = [sizes.get((lang, f), 0) for f in range(5)]
        assert max(per) - min(per) <= 1, (lang, per)
    again = curation.stratified_kfold(docs)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_negative_sampling_table_ranges(docs):
    """Ranges are contiguous ([lo, hi) chains), shares positive and the
    3/4-power damping holds: a term with 16x the count gets only 8x the
    weight share."""
    from avro_sql_spark.functions.text import word_tokens

    out = curation.negative_sampling_table(docs).collect()
    vocab = docs.select(F.explode(word_tokens(F.col("text")))).distinct().count()
    assert len(out) == min(50, vocab)  # the 50 heaviest terms, or all
    prev_hi = 0.0
    for r in out:
        assert abs(r["cum_lo"] - prev_hi) < 2e-9
        assert r["cum_hi"] > r["cum_lo"] > -1e-12
        assert abs((r["cum_hi"] - r["cum_lo"]) - r["share"]) < 2e-9
        prev_hi = r["cum_hi"]
    assert out[0]["cum_hi"] <= 1.0
