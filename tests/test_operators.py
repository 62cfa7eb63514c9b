"""Operator-level unit tests against hand-computable fixtures (the
sf-level oracle checks live in tools/check_correctness.py)."""

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.functions.text import fingerprint, lang_id, word_shingles
from avro_sql_spark.functions.vectors import cosine
from avro_sql_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and looked at the dog"),
        (2, "the cat sat on the mat and looked at the dog"),  # exact dup of 1
        (3, "the cat sat on the mat and stared at the dog"),  # near dup of 1
        (4, "completely different text about spark engines here"),
        (5, "le chat et la souris et le fromage et la baguette"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 2
    assert groups[0]["canonical_id"] == 1


def test_dedup_exact_keeps_min_id(docs):
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "  hello world ")], "doc_id LONG, text STRING"
    )
    fps = [r[0] for r in df.select(fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text STRING")
    out = df.select(word_shingles(F.col("text")).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == []  # shorter than the shingle width


def test_ngram_jaccard_identical_docs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.4 <= pairs[(1, 3)] < 1.0  # near dup
    assert (1, 4) not in pairs or pairs[(1, 4)] < 0.2


def test_ngram_jaccard_candidate_restriction(spark, docs):
    """candidates= must reproduce the full computation exactly on the
    requested pairs (same jaccard bit-for-bit, pairs sharing no shingle
    absent from both) and emit nothing else."""
    full = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 4)], "id_a INT, id_b INT"
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.ngram_jaccard_pairs(
               docs, threshold=0.0, candidates=cand
           ).collect()}
    want = {p: j for p, j in full.items()
            if p in {(1, 2), (1, 3), (1, 4), (2, 4)}}
    assert got == want


def test_minhash_estimates_jaccard(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
             dedup.minhash_candidate_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0  # identical signature
    if (1, 3) in pairs:
        assert pairs[(1, 3)] > 0.3


def test_simhash_near_dup_hamming(docs):
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert hamming(fps[1], fps[2]) == 0  # identical docs
    assert hamming(fps[1], fps[3]) < hamming(fps[1], fps[4])  # near < far


def test_simhash_candidate_pairs(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_candidate_pairs(docs).collect()}
    assert pairs[(1, 2)] == 0  # identical docs: distance 0, always banded together
    # every reported pair respects the exact popcount filter
    assert all(d <= 3 for d in pairs.values())
    # far pairs must not appear
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_candidate_pairs_pigeonhole(spark):
    # hand-built near-identical docs: one changed word flips 2 bits;
    # within Hamming distance 3 of 4 blocks the pair MUST be recalled
    # (pigeonhole)
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta nu")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    dist = bin((fps[1] ^ fps[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert 0 < dist <= 3
    got = dedup.simhash_candidate_pairs(df).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, dist)]


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the quick brown fox and the lazy dog of doom",),
            ("le chat et la souris mangent le fromage",),
            ("der hund und die katze und der vogel",),
            ("xyzzy plugh",),
        ],
        "text STRING",
    )
    langs = [r[0] for r in df.select(lang_id(F.col("text"))).collect()]
    assert langs == ["en", "fr", "de", "unknown"]


def test_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"
    )
    vals = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0)


def test_brute_force_topk_finds_self_cluster(spark):
    import math

    rows = []
    for i in range(20):
        angle = (i % 4) * 0.05  # 4 tight clusters of 5 vectors
        base = i // 4
        rows.append((i, [math.cos(base + angle), math.sin(base + angle)]))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=4)
    neighbors = [r["neighbor_id"] for r in out.collect()]
    # nearest 4 to vec 0 are the rest of its cluster (4, 8, 12, 16 share base 0..4 - no:
    # vecs 1,2,3 share base 0 with slightly different angles)
    assert set(neighbors[:3]) == {1, 2, 3}


def test_lsh_ann_subset_of_bucket(spark):
    import math

    rows = [(i, [math.cos(i * 0.01), math.sin(i * 0.01), 0.5, -0.5]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.lsh_bucketed_ann(emb, emb.filter(F.col("vec_id") == 0), planes=4)
    rows_out = out.collect()
    # all results share vec 0's bucket and are ranked by cosine desc
    cos_vals = [r["cos"] for r in rows_out]
    assert cos_vals == sorted(cos_vals, reverse=True)


def test_ivf_topk_recall(spark):
    import math

    rows = [(i, [math.cos(i * 0.3), math.sin(i * 0.3), float(i % 5), 1.0]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = similarity.brute_force_topk(emb, queries)
    approx = similarity.ivf_topk(emb, queries)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # probing 4 of the 16 cells should recover most exact neighbors
    assert len(ex & ap) / len(ex) >= 0.5
    # and every approx hit is ranked by cosine desc within its query
    for qid in (0, 1, 2):
        cos = [r["cos"] for r in approx.collect() if r["query_id"] == qid]
        assert cos == sorted(cos, reverse=True)


def test_ivf_topk_large_query_set(spark):
    # the probe assignment is a Column expression: the full corpus can be
    # its own query set without any driver-side collect
    import math

    rows = [(i, [math.cos(i * 0.3), math.sin(i * 0.3), float(i % 5), 1.0]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.ivf_topk(emb, emb)
    grouped = {}
    for r in out.collect():
        grouped.setdefault(r["query_id"], []).append(r["cos"])
    assert len(grouped) == 100  # every query answered
    assert all(len(v) == 10 and v == sorted(v, reverse=True) for v in grouped.values())


def test_label_centroids(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [3.0, 2.0], 0), (3, [5.0, -1.0], 1)],
        "vec_id LONG, embedding ARRAY<DOUBLE>, label INT",
    )
    got = {(r["label"], r["dim"]): r["mean_v"]
           for r in similarity.label_centroids(emb).collect()}
    assert got == {(0, 0): 2.0, (0, 1): 1.0, (1, 0): 5.0, (1, 1): -1.0}


def test_near_dup_clusters(spark):
    rows = [
        (1, "the cat sat on the mat and looked at the dog today ok"),
        (2, "the cat sat on the mat and looked at the dog today ok"),
        (3, "the cat sat on the mat and looked at the dog today no"),
        (4, "entirely different words describing spark query engines"),
        (5, "entirely different words describing spark query engines"),
        (6, "nothing like any of the other documents in this tiny set"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    labels = {r["id"]: r["cluster_id"] for r in dedup.near_dup_clusters(docs).collect()}
    assert labels[1] == labels[2] == 1  # exact dups cluster
    assert labels[4] == labels[5] == 4
    assert labels[6] == 6  # singleton keeps its own id
    # transitive closure: 3 joins 1's cluster if LSH surfaced the pair
    if labels[3] != 3:
        assert labels[3] == 1


def test_ngram_jaccard_max_doc_freq_drops_boilerplate(spark):
    """Docs that only share a boilerplate footer must stop pairing once
    the footer shingles exceed the doc-frequency cap; genuinely similar
    docs keep pairing on their non-boilerplate shingles."""
    footer = "copyright acme corp all rights reserved"
    rows = [
        (1, f"alpha beta gamma delta epsilon {footer}"),
        (2, f"zeta eta theta iota kappa {footer}"),
        (3, f"lambda mu nu xi omicron {footer}"),
        (4, f"alpha beta gamma delta epsilon unique tail {footer}"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.01)
    assert uncapped.count() == 6  # footer links every pair
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_doc_freq=3)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert pairs == {(1, 4)}  # only the real overlap survives


def test_decontaminate_exact(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "unique training text"), (3, "  The Quick   Brown Fox ")],
        "doc_id LONG, text STRING",
    )
    test = spark.createDataFrame([(100, "the quick brown fox")], "doc_id LONG, text STRING")
    kept = dedup.decontaminate(train, test, method="exact")
    # doc 3 normalizes to the same fingerprint as the test doc -> dropped
    assert {r.doc_id for r in kept.collect()} == {2}


def test_decontaminate_ngram(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally unrelated training document here"),
        ],
        "doc_id LONG, text STRING",
    )
    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon eta")], "doc_id LONG, text STRING"
    )
    kept = dedup.decontaminate(train, test, method="ngram", threshold=0.4)
    assert {r.doc_id for r in kept.collect()} == {2}
    # below threshold nothing is dropped
    kept_all = dedup.decontaminate(train, test, method="ngram", threshold=0.9)
    assert kept_all.count() == 2


def test_decontaminate_containment_catches_embedded_leak(spark):
    # a short benchmark item EMBEDDED in a long train doc: every test
    # shingle appears in doc 1 (containment = 1.0), but the train doc's
    # many extra shingles dominate the union (Jaccard ~ 4/18 = 0.22) —
    # the case the one-sided test exists for
    long_leak = (
        "intro words before the leak alpha beta gamma delta epsilon "
        "and then many more trailing words that pad the document out"
    )
    train = spark.createDataFrame(
        [(1, long_leak), (2, "totally unrelated training document here")],
        "doc_id LONG, text STRING",
    )
    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id LONG, text STRING"
    )
    kept_j = dedup.decontaminate(train, test, method="ngram", threshold=0.5)
    assert kept_j.count() == 2  # Jaccard misses the embedded leak
    kept_c = dedup.decontaminate(train, test, method="containment", threshold=0.5)
    assert {r.doc_id for r in kept_c.collect()} == {2}  # containment catches it


def test_gopher_pass_components(spark):
    from avro_sql_spark.functions.text import (
        alpha_word_fraction,
        gopher_pass,
        mean_word_length,
        symbol_word_ratio,
    )

    good = "the quick brown fox jumps over a lazy dog near the old stone bridge " * 3
    rows = [
        (1, good),                                   # passes everything
        (2, "short text only"),                      # too few tokens
        (3, ("#### " * 40).strip()),                 # symbols, no alpha, no stopwords
        (4, ("the " + "abcdefghijklmnopqrstuvwxyz " * 9) * 5),  # huge words
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = df.select(
        "doc_id",
        gopher_pass(F.col("text")).alias("ok"),
        mean_word_length(F.col("text")).alias("mwl"),
        symbol_word_ratio(F.col("text")).alias("sym"),
        alpha_word_fraction(F.col("text")).alias("alpha"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].ok and not by_id[2].ok and not by_id[3].ok and not by_id[4].ok
    assert by_id[3].sym > 0.5 and by_id[3].alpha == 0.0
    assert by_id[4].mwl > 10


def test_redact_pii(spark):
    from avro_sql_spark.functions.text import redact_pii

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk or +1 (555) 123-4567 ok"),
        (2, "no pii here at all"),
        (3, "digits 12345678901 inline and mail a@b.io end"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r.clean for r in df.select("doc_id", redact_pii(F.col("text")).alias("clean")).collect()}
    assert got[1] == "contact me at [EMAIL] or [PHONE] ok"
    assert got[2] == "no pii here at all"
    assert got[3] == "digits [PHONE] inline and mail [EMAIL] end"


def test_repetition_stats(spark):
    from avro_sql_spark.operators.text import repetition_stats

    rows = [
        (1, "spam spam spam spam spam spam"),          # one bigram repeated
        (2, "all words here are fully distinct okay"),  # no repeats
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert out[1].top_frac == 1.0 and out[1].dup_frac == 0.8  # 5 occurrences, 1 distinct
    assert out[2].top_frac == 1.0 / 6.0 and out[2].dup_frac == 0.0


def test_winnow_fingerprints_overlap_guarantee(spark):
    """Docs sharing a substring of length >= k+w-1 must share at least
    one fingerprint; disjoint docs share none (k=8, w=4 -> guarantee
    threshold 11 chars)."""
    from avro_sql_spark.operators.text import winnow_fingerprints

    shared = "identical shared clause kept verbatim"
    rows = [
        (1, f"first document prefix {shared} and a unique tail"),
        (2, f"other opening words {shared} different ending"),
        (3, "zx qv jk wp mn bt ld rg hs fc"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    fps = winnow_fingerprints(df, k=8, w=4)
    sets = {
        i: {r.fp for r in fps.filter(F.col("doc_id") == i).collect()} for i in (1, 2, 3)
    }
    assert sets[1] & sets[2]          # shared clause -> shared fingerprint
    assert not (sets[1] & sets[3])    # no overlap with the disjoint doc
    # deterministic across reruns
    again = {r.fp for r in winnow_fingerprints(df, k=8, w=4).filter(F.col("doc_id") == 1).collect()}
    assert again == sets[1]


def test_winnow_overlap_pairs(spark):
    from avro_sql_spark.operators.text import winnow_overlap_pairs

    shared = "this exact sentence appears verbatim in two documents"
    rows = [
        (1, f"alpha opening {shared} alpha closing"),
        (2, f"beta intro {shared} beta outro"),
        (3, "gamma gamma entirely unrelated content stream"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = {(r.id_a, r.id_b) for r in winnow_overlap_pairs(df).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_tfidf_top_terms(spark):
    from avro_sql_spark.operators.text import tfidf_top_terms

    rows = [
        (1, "common common unicorn"),
        (2, "common common dragon dragon"),
        (3, "common phoenix"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = tfidf_top_terms(df).collect()
    assert all(r.rk <= 3 for r in out)
    top1 = {r.doc_id: r.term for r in out if r.rk == 1}
    # 'common' appears in every doc (idf = ln(1) = 0) so the rare term wins
    assert top1 == {1: "unicorn", 2: "dragon", 3: "phoenix"}


def test_unigram_logprob_scores(spark):
    import math

    from avro_sql_spark.operators.text import unigram_logprob_scores

    docs = spark.createDataFrame(
        [(1, "aa aa aa aa"), (2, "bb"), (3, "Zahlen 123 !!")],
        "doc_id LONG, text STRING",
    )
    rows = {r["doc_id"]: r for r in unigram_logprob_scores(docs).collect()}
    # corpus freqs: aa=4, bb=1, zahlen=1 -> N=6
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["logprob_mean"] == round(math.log(4 / 6), 6)
    assert rows[2]["logprob_mean"] == round(math.log(1 / 6), 6)
    # doc 3: only "zahlen" survives tokenization ([a-z]+ after lower)
    assert rows[3]["n_tokens"] == 1
    assert rows[3]["logprob_mean"] == round(math.log(1 / 6), 6)


def test_incremental_dedup(spark):
    from avro_sql_spark.operators import dedup as dd

    seen = spark.createDataFrame(
        [(0, "known text"), (2, "other known")], "doc_id LONG, text STRING"
    )
    new = spark.createDataFrame(
        [
            (11, "known text"),     # already in history -> dropped
            (13, "fresh content"),  # genuinely new
            (15, "fresh content"),  # in-batch dup -> min id 13 kept
            (17, "also new"),
        ],
        "doc_id LONG, text STRING",
    )
    kept = sorted(r["doc_id"] for r in dd.incremental_dedup(new, seen).collect())
    assert kept == [13, 17]


def test_approx_distinct_within_tolerance(spark):
    from avro_sql_spark.operators.relational import approx_distinct_events

    rows = approx_distinct_events(spark, "/root/testdata/sf0.001").collect()
    from avro_sql_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", register=False)
    exact = {
        r["event_type"]: r["n"]
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        # rsd=0.02 -> generous 10% assertion bound
        assert abs(r["approx_users"] - exact[r["event_type"]]) <= 0.1 * exact[r["event_type"]]


def test_quantization_roundtrip_bounds(spark):
    from avro_sql_spark.functions.vectors import dequantize, quantize, quantize_scale

    df = spark.createDataFrame(
        [(1, [0.5, -1.25, 3.75, 0.0]), (2, [1e-30, 0.0])], "id LONG, v ARRAY<DOUBLE>"
    )
    scale = quantize_scale(F.col("v"))
    out = df.select(
        "id",
        scale.alias("s"),
        quantize(F.col("v"), scale).alias("codes"),
        dequantize(quantize(F.col("v"), scale), scale).alias("recon"),
        F.col("v"),
    ).collect()
    for r in out:
        assert all(-127 <= c <= 127 for c in r["codes"])
        for a, b in zip(r["v"], r["recon"]):
            assert abs(a - b) <= r["s"] / 2 + 1e-12  # rounding bound


def test_source_quality_report(spark):
    from avro_sql_spark.operators.text import source_quality_report

    docs = spark.createDataFrame(
        [
            (1, "same text", "en", "web"),
            (2, "same text", "en", "web"),   # dup within web
            (3, "unique here", "de", "web"),
            (4, "only doc", "en", "books"),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    )
    rows = {r["source"]: r for r in source_quality_report(docs).collect()}
    web = rows["web"]
    assert web["n_docs"] == 3 and web["n_unique"] == 2 and web["n_langs"] == 2
    assert abs(web["dup_rate"] - round(1 / 3, 6)) < 1e-9
    assert rows["books"]["dup_rate"] == 0.0


def test_pmi_collocations(spark):
    import math

    from avro_sql_spark.operators.text import pmi_collocations

    # "strong glue" always adjacent; "weak" tokens independent fillers
    docs = spark.createDataFrame(
        [(i, "strong glue filler" + (" weak" * (i % 3))) for i in range(30)],
        "doc_id LONG, text STRING",
    )
    rows = {r["bigram"]: r for r in pmi_collocations(docs).collect()}
    assert "strong glue" in rows
    # exact PMI recompute: c2=30; unigrams strong=30, glue=30; totals from data
    uni_total = 30 + 30 + 30 + sum((i % 3) for i in range(30))
    pair_total = sum(2 + (i % 3) for i in range(30))
    expect = math.log((30 / pair_total) / ((30 / uni_total) * (30 / uni_total)))
    assert abs(rows["strong glue"]["pmi"] - round(expect, 6)) < 1e-9
    # the always-adjacent pair outranks the sometimes-adjacent filler pair
    assert rows["strong glue"]["pmi"] > rows["filler weak"]["pmi"]


def test_duplicated_span_stats(spark):
    """Hand-computed: two docs share their full 10-word text (every
    8-word span duplicated), a third is unique, a fourth is too short
    for an 8-word span."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j", "s1"),
            (2, "a b c d e f g h i j", "s1"),
            (3, "p q r s t u v w x", "s2"),
            (4, "x y", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in dedup.duplicated_span_stats(docs).collect()}
    # s1: both docs 100% duplicated spans, both heavy
    assert rows["s1"]["n_docs"] == 2
    assert rows["s1"]["avg_dup_frac"] == pytest.approx(1.0)
    assert rows["s1"]["n_heavy"] == 2
    # s2: doc 3 has 0 duplicated spans; doc 4 (2 words < 8) contributes
    # no spans and is excluded entirely
    assert rows["s2"]["n_docs"] == 1
    assert rows["s2"]["avg_dup_frac"] == pytest.approx(0.0)
    assert rows["s2"]["n_heavy"] == 0


def test_embedding_outliers_flags_far_vector(spark):
    """9 tight vectors + 1 far vector in one label: the far one is > 2
    sample stddevs above the mean distance and gets flagged."""
    rows_in = [(i, [0.0 + 0.01 * i, 1.0], 0) for i in range(9)]
    rows_in.append((9, [50.0, -40.0], 0))
    emb = spark.createDataFrame(
        rows_in, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.embedding_outliers(emb).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_vecs"] == 10
    assert r["n_outliers"] == 1
    assert r["mean_dist"] > 0


def test_jaccard_pairs_prefix_matches_full_join(docs):
    """Prefix-filtered pairs == plain self-join pairs at the same
    threshold (the filter may only prune candidates, never answers)."""
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs_prefix(docs).collect()
    }
    assert pref.keys() == full.keys()
    for k in full:
        assert pref[k] == pytest.approx(full[k], abs=1e-12)


def test_profile_table_exact_and_approx_agree(spark):
    """Exact profile against hand-computed stats; approx variant agrees
    on everything except n_distinct, which must be within HLL tolerance."""
    from avro_sql_spark.operators.profile import profile_table, profile_table_approx

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a")], "k long, v string"
    )
    exact = {r["column"]: r for r in profile_table(df).collect()}
    assert exact["k"]["n_rows"] == 4
    assert exact["k"]["n_nulls"] == 0
    assert exact["k"]["n_distinct"] == 4
    assert exact["k"]["min_value"] == "1" and exact["k"]["max_value"] == "4"
    assert exact["v"]["n_nulls"] == 1
    assert exact["v"]["n_distinct"] == 2
    approx = {r["column"]: r for r in profile_table_approx(df).collect()}
    for c in ("k", "v"):
        assert approx[c]["n_rows"] == exact[c]["n_rows"]
        assert approx[c]["n_nulls"] == exact[c]["n_nulls"]
        assert approx[c]["min_value"] == exact[c]["min_value"]
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) <= 1


def test_incremental_near_dup_drops_paraphrase(spark):
    """A new doc that is a near-copy of a historical doc (one word
    changed) is dropped; an unrelated new doc survives."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    seen = spark.createDataFrame([(1, base)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (10, base.replace("dog", "cat")),  # near-dup of doc 1
            (11, "completely different words about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    kept = [r["doc_id"] for r in dedup.incremental_near_dup(new, seen).collect()]
    assert kept == [11]


def test_quality_filter_observed_metrics(spark):
    """df.observe metrics agree with the actual filter outcome, from
    the same single scan."""
    from avro_sql_spark.operators.text import quality_filter_observed

    good = "the quick brown fox jumps over the lazy dog and keeps " * 4
    docs = spark.createDataFrame(
        [(1, good), (2, "### ### ###"), (3, good + "again and again")],
        "doc_id long, text string",
    )
    filtered, obs = quality_filter_observed(docs)
    kept = filtered.count()
    m = obs.get
    assert m["n_rows"] == 3
    assert m["n_pass"] == kept == 2


def test_bigram_logprob_hand_computed(spark):
    """Tiny corpus with known counts: 'a b' appears twice, vocab=3,
    smoothing k=0.5 — checked against the closed-form values; and a
    shuffled-word doc scores worse than a fluent one under the model."""
    import math

    from avro_sql_spark.operators.text import bigram_logprob_scores

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in bigram_logprob_scores(docs).collect()}
    # corpus: bigrams {a b:2, b c:1}; unigrams {a:2, b:2, c:1}; V=3
    lp_ab = math.log((2 + 0.5) / (2 + 0.5 * 3))
    lp_bc = math.log((1 + 0.5) / (2 + 0.5 * 3))
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["bigram_logprob_mean"] == round((lp_ab + lp_bc) / 2, 6)
    assert rows[2]["n_bigrams"] == 1
    assert rows[2]["bigram_logprob_mean"] == round(lp_ab, 6)


def test_bigram_logprob_flags_shuffled_text(spark):
    """Same tokens, scrambled transitions: the scrambled doc must score
    below the fluent docs that share the corpus's dominant transitions."""
    from avro_sql_spark.operators.text import bigram_logprob_scores

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(5)] + [(99, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["bigram_logprob_mean"] for r in bigram_logprob_scores(docs).collect()}
    assert rows[99] < rows[0]


def test_vocab_coverage_hand_computed(spark):
    """'a' has 8 of 10 occurrences: at 90% mass the core set is {a, b}
    (cumulative-before rule includes the crossing token)."""
    from avro_sql_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a a a a a a b c", "en")], "doc_id long, text string, lang string"
    )
    r = vocab_coverage(docs).collect()[0]
    assert r["n_vocab"] == 3
    assert r["n_core_tokens"] == 2  # a (before=0) + b (before=8 < 9)
    assert r["covered_mass"] == 0.9


def test_ann_recall_report_bounds_and_selfcheck(spark):
    """recall in [0,1] for both methods, and brute-force-vs-itself would
    be 1.0 — the report's hit-join logic checked via a clustered corpus
    where the IVF probes cover the query's whole cluster."""
    import random

    random.seed(7)
    # 4 angularly separated clusters of 15; the 16 lowest ids (the
    # quantizer's seeds) put 4 of the 16 cells in each cluster
    means = [(5.0, 0.0), (0.0, 5.0), (-5.0, 0.0), (0.0, -5.0)]
    rows = []
    for i in range(60):
        mx, my = means[i % 4]
        rows.append((i, [random.gauss(mx, 0.3), random.gauss(my, 0.3)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = {
        r["method"]: r
        for r in similarity.ann_recall_report(
            emb, emb.filter("vec_id < 6")
        ).collect()
    }
    for m in ("lsh_bucketed", "ivf"):
        assert 0.0 <= rep[m]["worst_recall"] <= rep[m]["mean_recall"] <= 1.0
    # the 4 probed cells are the query's own cluster's, which holds
    # its 10 true neighbors
    assert rep["ivf"]["mean_recall"] >= 0.9


def test_gram_covariance_matches_columnwise_covar(spark):
    """Spot-check the BLAS-partial covariance against Spark's own
    covar_pop on individual dimension pairs; matrix must be symmetric."""
    from avro_sql_spark.operators.similarity import gram_covariance
    from avro_sql_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", register=False)["embeddings"]
    cov = {(r["i"], r["j"]): r["cov"] for r in gram_covariance(emb).collect()}
    import pyspark.sql.functions as F

    for i, j in [(0, 0), (0, 1), (3, 7)]:
        want = emb.select(
            F.covar_pop(
                F.col("embedding")[i].cast("double"),
                F.col("embedding")[j].cast("double"),
            )
        ).collect()[0][0]
        assert abs(cov[(i, j)] - want) < 1e-5
        assert cov[(i, j)] == cov[(j, i)]


def test_pca_project_invariants(spark):
    """Components orthonormal, explained ratios descending, projected
    variance equals the eigenvalue it came from (population variance)."""
    import numpy as np
    import pyspark.sql.functions as F

    from avro_sql_spark.operators.similarity import gram_covariance, pca_project
    from avro_sql_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", register=False)["embeddings"]
    proj, explained = pca_project(emb)
    assert explained[0] >= explained[1] > 0
    assert sum(explained) <= 1.0 + 1e-9
    # projected variance ratio reproduces the eigenvalue ratio
    v = proj.agg(
        F.var_pop("pc1").alias("v1"), F.var_pop("pc2").alias("v2")
    ).collect()[0]
    cov_rows = gram_covariance(emb).collect()
    d = max(r["i"] for r in cov_rows) + 1
    m = np.zeros((d, d))
    for r in cov_rows:
        m[r["i"], r["j"]] = r["cov"]
    trace = np.trace(m)
    assert abs(v["v1"] / trace - explained[0]) < 1e-3
    assert abs(v["v2"] / trace - explained[1]) < 1e-3
    # determinism: rerun yields identical projections (sign fixed)
    proj2, _ = pca_project(emb)
    a = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()}
    b = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj2.collect()}
    assert a == b


def test_power_iteration_matches_eigh(spark):
    """Fixed-round power iteration converges to numpy's dominant
    eigenvector (up to sign) with the Rayleigh norm approaching the top
    eigenvalue, and reruns are bit-identical (pinned fold order)."""
    import numpy as np

    from avro_sql_spark.operators.similarity import gram_covariance, power_iteration
    from avro_sql_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.001", register=False)["embeddings"]
    cov = gram_covariance(emb)
    v, lam = power_iteration(cov)
    rows = cov.collect()
    d = max(r["i"] for r in rows) + 1
    m = np.zeros((d, d))
    for r in rows:
        m[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(m)
    top = vecs[:, -1]
    cos = abs(float(np.dot(top, np.array(v))))
    assert cos > 0.999  # aligned with the true dominant direction
    assert abs(lam - float(vals[-1])) < 1e-3 * max(1.0, abs(float(vals[-1])))
    v2, lam2 = power_iteration(cov)
    assert v == v2 and lam == lam2


def test_bm25_ranks_matching_docs_first(spark):
    """A doc containing the query terms outranks docs without them, and
    a rare matching term outscores a ubiquitous one (idf)."""
    from avro_sql_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join hash join shuffle"),
            (2, "spark scan filter pushdown"),
            (3, "unrelated words entirely here"),
            (4, "spark spark spark spark spark"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, [("q", ["join", "rareword"])]).collect()
    ranked = [r["doc_id"] for r in out]
    assert ranked[0] == 1          # only doc with 'join'
    assert 3 not in ranked         # no query terms -> no score row
    # 'spark' is in 3 of 4 docs (low idf); 'join' in 1 (high idf):
    out2 = {r["doc_id"]: r["score"] for r in
            bm25_topk(docs, [("q", ["spark", "join"])]).collect()}
    assert out2[1] > out2[4]       # one rare term beats many common ones


def test_copurchase_fanout_bounded_and_counts(spark):
    """Pair counts equal the number of orders containing both parts;
    duplicate lineitems of the same part in one order count once."""
    from avro_sql_spark.operators import relational
    import avro_sql_spark.session as sess_mod

    ev = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 20), (2, 10), (2, 20), (2, 30), (3, 10),
         (4, 10), (4, 20), (4, 30), (5, 10), (5, 40)],
        ["l_orderkey", "l_partkey"],
    )
    orig = relational.load_tables
    try:
        relational.load_tables = lambda *a, **k: {"lineitem": ev}
        rows = {(r["part_a"], r["part_b"]): r["n_orders"]
                for r in relational.copurchase_pairs(spark, "unused").collect()}
    finally:
        relational.load_tables = orig
    assert rows[(10, 20)] == 3     # orders 1, 2, 4 (dup lineitem counted once)
    assert rows[(10, 30)] == 2 and rows[(20, 30)] == 2
    assert (10, 40) not in rows    # one order only: under the 2-order floor


def test_snapshot_diff_classifies_changes(spark):
    """Added/removed/changed each detected; unchanged rows emit nothing."""
    from avro_sql_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["id", "s", "value"]
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 9.0), (4, "d", 4.0)], ["id", "s", "value"]
    )
    out = {r["id"]: r["change_type"]
           for r in snapshot_diff(old, new, ["id"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_vs_value_not_equal(spark):
    """A column going NULL <-> value must register as changed (the
    coalesce sentinel keeps NULL from hashing equal to empty)."""
    from avro_sql_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame([(1, None), (2, "")], "id long, value string")
    new = spark.createDataFrame([(1, ""), (2, "")], "id long, value string")
    out = {r["id"]: r["change_type"]
           for r in snapshot_diff(old, new, ["id"]).collect()}
    assert out == {1: "changed"}


def test_value_histogram_conserves_counts_and_edges(spark):
    """Bin counts sum to the row count; edges tile [lo, hi]; max value
    lands in the last bin."""
    from avro_sql_spark.operators.profile import value_histogram

    df = spark.createDataFrame([("e", float(i)) for i in range(101)], ["event_type", "v"])
    rows = value_histogram(df, "v").collect()
    assert sum(r["n"] for r in rows) == 101
    assert rows[0]["bin_lo"] == 0.0 and rows[-1]["bin_hi"] == 100.0
    assert rows[-1]["bin"] == 9 and rows[-1]["n"] == 11  # 90..100 inclusive


def test_merge_upsert_semantics(spark):
    from pyspark.sql import functions as F

    from avro_sql_spark.operators.profile import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "v", "x"]
    )
    updates = spark.createDataFrame(
        [
            (2, "B", 25.0, False),   # update
            (3, None, 0.0, True),    # delete
            (4, "d", 40.0, False),   # insert
        ],
        ["k", "v", "x", "is_delete"],
    )
    got = {
        r["k"]: (r["v"], r["x"])
        for r in merge_upsert(target, updates, ["k"]).collect()
    }
    assert got == {1: ("a", 10.0), 2: ("B", 25.0), 4: ("d", 40.0)}


def test_connected_components_chain(spark):
    from pyspark.sql import functions as F

    from avro_sql_spark.operators.dedup import connected_components

    nodes = spark.range(0, 7).select(F.col("id"))
    # chain 0-1-2-3, pair 5-6, isolate 4
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(nodes, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5}


def test_zipf_fit_perfect_line(spark):
    import math

    from avro_sql_spark.operators.text import zipf_fit

    # construct counts c(rank) = round(1000 / rank) for 4 distinct
    # tokens -> ln(c) vs ln(rank) is near-perfectly linear, slope ~ -1
    counts = {"alpha": 1000, "beta": 500, "gamma": 333, "delta": 250}
    text = " ".join(" ".join([w] * n) for w, n in counts.items())
    docs = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    row = zipf_fit(docs).collect()[0]
    assert row["vocab_size"] == 4
    assert row["total_tokens"] == sum(counts.values())
    assert abs(row["zipf_slope"] + 1.0) < 0.01
    assert row["r2"] > 0.999
    # intercept ~ ln(1000)
    assert abs(row["zipf_intercept"] - math.log(1000)) < 0.02


def test_zipf_fit_tied_counts_deterministic(spark):
    from avro_sql_spark.operators.text import zipf_fit

    # all counts tied: slope must be 0 regardless of rank permutation
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd aa bb cc dd")], "doc_id LONG, text STRING"
    )
    row = zipf_fit(docs).collect()[0]
    assert row["zipf_slope"] == 0.0


def test_mad_outliers(spark):
    from avro_sql_spark.operators.profile import mad_outliers

    # group g: 9 values tightly around 10 plus one wild outlier;
    # group h: constant values (MAD 0 -> no outliers by contract);
    # NULL values must be excluded from n
    rows = (
        [("g", float(v)) for v in (9, 9, 10, 10, 10, 10, 11, 11, 12)]
        + [("g", 1000.0), ("g", None)]
        + [("h", 5.0)] * 4
        + [("h", None)]
    )
    df = spark.createDataFrame(rows, "k STRING, value DOUBLE")
    out = {r["k"]: r for r in mad_outliers(df, "k", "value").collect()}
    g = out["g"]
    assert g["n"] == 10  # NULL excluded
    assert g["median_value"] == 10.0 and g["mad"] == 1.0
    assert g["n_outliers"] == 1  # only the 1000.0
    h = out["h"]
    assert h["mad"] == 0.0 and h["n_outliers"] == 0 and h["n"] == 4


def test_source_overlap(spark):
    from avro_sql_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "shared doc one", "web"),
            (2, "shared doc one", "books"),   # exact cross-source dup
            (3, "  SHARED   doc one ", "wiki"),  # normalizes to the same
            (4, "web only", "web"),
            (5, "books only", "books"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    out = {(r["source_a"], r["source_b"]): r for r in source_overlap(docs).collect()}
    assert set(out) == {("books", "web"), ("books", "wiki"), ("web", "wiki")}
    bw = out[("books", "web")]
    assert bw["n_shared"] == 1
    # books has 2 fps, web has 2 fps, 1 shared -> jaccard 1/3
    assert abs(bw["jaccard"] - round(1 / 3, 6)) < 1e-9
    assert out[("web", "wiki")]["jaccard"] == 0.5  # 2 + 1 - 1 = 2


def test_source_overlap_prefix(spark):
    from avro_sql_spark.operators.dedup import source_overlap

    # the same 80-char head with divergent tails is caught by the head
    # fingerprint; docs that diverge inside the first 80 chars are not
    head = "same boilerplate header " * 4  # 96 chars
    docs = spark.createDataFrame(
        [
            (1, head + "tail one", "a"),
            (2, head + "tail two", "b"),
            (3, "same head AAAA tail one", "c"),
            (4, "same head BBBB tail two", "d"),
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    rows = [(r["source_a"], r["source_b"], r["n_shared"]) for r in source_overlap(docs).collect()]
    assert rows == [("a", "b", 1)]


def test_dsir_importance_directional(spark):
    """Docs sharing the target's vocabulary score higher than docs full
    of raw-pool vocabulary; the weighted-LLR sum is finite everywhere."""
    rows = [
        (1, "alpha beta gamma alpha beta", True),
        (2, "alpha beta gamma delta", True),
        (10, "omega psi chi omega psi", False),
        (11, "omega psi chi phi", False),
        (20, "alpha beta gamma beta", False),   # target-like raw doc
        (21, "omega psi chi psi", False),        # raw-like raw doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    from avro_sql_spark.operators.curation import dsir_importance

    out = {
        r["doc_id"]: r["log_importance"]
        for r in dsir_importance(df, F.col("is_t")).collect()
    }
    assert len(out) == 6
    assert out[20] > out[21]          # target-vocab doc outranks raw-vocab doc
    assert out[1] > 0 and out[10] < 0  # in-target positive, off-target negative


def test_epoch_plan_budget_and_cap(spark):
    """Allocations respect the epoch cap, clipped sources sit exactly at
    it pre-redistribution, and the total allocation never exceeds the
    budget when headroom exists to absorb redistribution."""
    rows = [(i, "w " * (10 if i % 4 else 1000) + "end", f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from avro_sql_spark.operators.curation import epoch_plan

    out = epoch_plan(df, budget_tokens=5000.0).collect()
    assert len(out) == 3
    # tolerance covers the 4dp output rounding (each source can round up
    # by <= 5e-5), not float noise
    total_alloc = sum(r["alloc_tokens"] for r in out)
    assert total_alloc <= 5000.0 + len(out) * 5e-5
    for r in out:
        assert r["epochs"] <= 4.0 + 5e-5
        assert r["alloc_tokens"] >= 0


def test_epoch_plan_cap_holds_when_budget_exceeds_capacity(spark):
    """Budget larger than cap x total available: every source lands
    exactly AT the cap and the surplus budget goes unallocated — the
    cap is the invariant (the unclamped one-round redistribution used
    to push the large source past it)."""
    rows = [(0, "w " * 100 + "end", "big")] + [
        (i, "one", f"tiny{i}") for i in range(1, 10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from avro_sql_spark.operators.curation import epoch_plan

    out = epoch_plan(df, budget_tokens=500.0).collect()
    for r in out:
        assert r["epochs"] <= 4.0 + 5e-5, r
    # all capacity consumed at the cap: alloc == 4 * avail for every row
    for r in out:
        assert abs(r["alloc_tokens"] - 4.0 * r["avail_tokens"]) <= 5e-4, r


def test_triangle_count_golden(spark):
    """Hand-computed: K4 has 4 triangles, 6 edges, 12 wedges,
    clustering 1.0; adding a pendant vertex adds a wedge path but no
    triangle. Duplicate/reversed edge rows must not double-count."""
    k4 = [(i, j) for i in range(4) for j in range(4) if i != j]  # symmetric dup form
    df = spark.createDataFrame(k4, "src long, dst long")
    from avro_sql_spark.operators.graph import triangle_count

    r = triangle_count(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (4, 6, 12, 4)
    assert r["clustering"] == 1.0

    pend = df.union(spark.createDataFrame([(0, 99), (99, 0)], "src long, dst long"))
    r2 = triangle_count(pend).collect()[0]
    assert r2["n_triangles"] == 4 and r2["n_nodes"] == 5 and r2["n_edges"] == 7


def test_pq_topk_recall_and_determinism(spark):
    import math

    # 4-dim vectors, 4 subspaces of 1 dim; tight angular clusters so
    # ADC with per-subspace codebooks recovers most exact neighbors
    rows = [
        (i, [math.cos(i * 0.3), math.sin(i * 0.3), float(i % 5), 1.0])
        for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.pq_topk(emb, queries)
    got = out.collect()
    # shape: 3 queries x top-10, ranks 1..10, adist nondecreasing per query
    assert len(got) == 30
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["adist"]))
    for q, rs in per_q.items():
        assert [x[0] for x in sorted(rs)] == list(range(1, 11))
        dists = [x[1] for x in sorted(rs)]
        assert dists == sorted(dists)
    # euclidean exact truth: squared distance on the raw vectors
    import itertools

    data = dict(rows)
    hits = 0
    for q in range(3):
        truth = sorted(
            (i for i in data if i != q),
            key=lambda i: (
                sum((a - b) ** 2 for a, b in zip(data[q], data[i])),
                i,
            ),
        )[:10]
        approx = [r["neighbor_id"] for r in got if r["query_id"] == q]
        hits += len(set(truth) & set(approx))
    assert hits / 30 >= 0.5
    # deterministic: a rerun returns the identical frame
    again = similarity.pq_topk(emb, queries).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_pq_topk_rejects_indivisible_dim(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_topk(emb, emb)  # 3 dims into 4 subspaces


def test_semantic_dedup_report_drops_centroid_near_member(spark):
    """Two planted near-identical vectors: exactly one is dropped, and
    it is the member MORE similar to the cluster centroid (SemDeDup's
    keep-the-outlier rule); a lone far-out vector survives."""
    from avro_sql_spark.operators.similarity import semantic_dedup_report

    # ids 1-8 are the 8 unit axes (the k=8 seeds, one cluster each);
    # id 9 is a near-dup of id 1 and joins its cluster
    rows = [(i, [1.0 if j == i - 1 else 0.0 for j in range(8)]) for i in range(1, 9)]
    rows.append((9, [0.99, 0.12] + [0.0] * 6))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    rep = {r["cluster"]: r for r in semantic_dedup_report(emb).collect()}
    total_dropped = sum(r["n_dropped"] for r in rep.values())
    total_pairs = sum(r["n_pairs"] for r in rep.values())
    assert total_pairs == 1 and total_dropped == 1
    assert sum(r["n_kept"] for r in rep.values()) == 8


def test_gopher_repetition_signals_hand_truth(spark):
    """Per-(doc, n) integer signals match a hand-counted fixture,
    including the greedy (count DESC, gram ASC) top-gram tie-break."""
    from avro_sql_spark.operators.text import gopher_repetition_signals

    df = spark.createDataFrame(
        [(1, "a b a b a b c d a b")], "doc_id long, text string"
    )
    out = {r["n"]: r for r in gopher_repetition_signals(df).collect()}
    # words: a b a b a b c d a b -> top 2-gram "a b" x4 (len 3)
    assert (out[2]["top_chars"], out[2]["dup_occ"], out[2]["total_occ"]) == (12, 6, 9)
    assert (out[3]["top_chars"], out[3]["dup_occ"], out[3]["total_occ"]) == (10, 4, 8)
    assert (out[4]["top_chars"], out[4]["dup_occ"], out[4]["total_occ"]) == (14, 2, 7)
    assert (out[5]["dup_occ"], out[5]["total_occ"]) == (0, 6)
    assert (out[10]["top_chars"], out[10]["total_occ"]) == (19, 1)


def test_gopher_repetition_report_thresholds(spark):
    """A pathological repeated doc trips the integer-cross-multiplied
    gate; a diverse doc does not."""
    from avro_sql_spark.operators.text import gopher_repetition_report

    df = spark.createDataFrame(
        [
            (1, "spam ham " * 30, "bad"),
            # long enough that no single n-gram covers >16% of chars
            # (the raw Gopher thresholds assume a min-length gate)
            (2, " ".join(f"word{i} item{i * 7 % 97}" for i in range(60)), "good"),
        ],
        "doc_id long, text string, source string",
    )
    rep = {r["source"]: r for r in gopher_repetition_report(df).collect()}
    assert rep["bad"]["n_repetitive"] == 1
    assert rep["good"]["n_repetitive"] == 0
    assert rep["bad"]["top2_char_frac"] > 0.2


def test_ks_drift_hand_truth(spark):
    """Exact KS against a hand-computed two-sample fixture, including
    the integer numerator."""
    from avro_sql_spark.operators.profile import ks_drift

    a = spark.createDataFrame([("en", v) for v in [1, 2, 2, 3]], "lang string, v int")
    b = spark.createDataFrame([("en", v) for v in [2, 3, 3, 4, 4]], "lang string, v int")
    row = ks_drift(a, b, "v").collect()[0]
    # n=4, m=5; ECDFs: at v=1 |1*5-0*4|=5; v=2 |3*5-1*4|=11; v=3
    # |4*5-3*4|=8; v=4 |20-20|=0 -> D = 11/20 = 0.55
    assert (row["n_a"], row["n_b"], row["ks_num"]) == (4, 5, 11)
    assert row["ks_stat"] == 0.55


def test_ks_drift_identical_distributions_grouped(spark):
    from avro_sql_spark.operators.profile import ks_drift

    a = spark.createDataFrame([("en", v) for v in range(50)], "lang string, v int")
    out = ks_drift(a, a, "v").collect()
    assert len(out) == 1 and out[0]["ks_num"] == 0 and out[0]["ks_stat"] == 0.0


def test_heaps_curve_hand_truth(spark):
    """Cumulative token and vocabulary counts on a tiny ordered corpus
    of 10 docs, one per bucket: repeated words add tokens but not
    vocabulary."""
    from avro_sql_spark.operators.text import heaps_curve

    texts = ["a b", "a c", "a b", "d d"] + ["a a"] * 6
    docs = spark.createDataFrame(
        list(enumerate(texts, start=1)), "doc_id long, text string"
    )
    out = {r["bucket"]: (r["cum_tokens"], r["cum_vocab"]) for r in heaps_curve(docs).collect()}
    # vocab grows {a,b}, +c, -, +d, then nothing; tokens 2 per doc
    assert out == {
        1: (2, 2), 2: (4, 3), 3: (6, 3), 4: (8, 4), 5: (10, 4),
        6: (12, 4), 7: (14, 4), 8: (16, 4), 9: (18, 4), 10: (20, 4),
    }


def test_char_mass_median_hand_truth(spark):
    """Weighted vs unweighted median diverge on a skewed fixture: one
    huge doc holds over half the characters."""
    import __spark_entry__ as em

    # replicate the entry arithmetic on a local frame via the oracle in
    # DuckDB-free form: lens [10, 10, 10, 100] -> total 130; cum at the
    # 100-doc is 130 >= 65 first at len=100? cum(10,10,10)=30 < 65 ->
    # median_len = 100 (unweighted median would be 10)
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                "(1, 'en', 10), (2, 'en', 10), (3, 'en', 10), (4, 'en', 100))"
                " t(doc_id, lang, n_chars)")
    row = con.execute(em.oracle_sql()["char_mass_median"]).fetchone()
    assert row == ("en", 4, 130, 100)


def test_hard_negatives_excludes_same_label(spark):
    import math

    rows = [
        (i, [math.cos(i * 0.2), math.sin(i * 0.2)], i % 3)
        for i in range(24)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    out = similarity.hard_negatives(emb, emb.filter(F.col("vec_id") < 3)).collect()
    assert out, "expected some negatives"
    for r in out:
        # never a positive (same label), never self
        assert r["query_label"] != r["neighbor_label"]
        assert r["query_id"] != r["neighbor_id"]
        assert r["cos"] >= 0.0
    # ranked by cosine desc within each query
    for qid in (0, 1, 2):
        cos = [r["cos"] for r in out if r["query_id"] == qid]
        assert cos == sorted(cos, reverse=True)
        assert len(cos) <= 10


def test_random_projection_matches_manual_dot(spark):
    # the projected component must equal the literal-matrix dot product
    # (left fold) for a hand-checkable vector
    vec = [1.0 if j % 7 == 0 else 0.25 for j in range(64)]
    emb = spark.createDataFrame([(0, vec)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    comps = similarity._plane_components(16, 64, seed=11)
    got = similarity.random_projection(emb).collect()[0]["projected"]
    for p in range(16):
        acc = 0.0
        for j in range(64):
            acc += vec[j] * comps[p][j]
        assert got[p] == acc, f"component {p} mismatch"


def test_jl_shortlist_recall_bounds(spark):
    import math

    rows = [
        (i, [math.cos(i * 0.1 + 0.01 * j) for j in range(64)])
        for i in range(33)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.jl_shortlist_recall(emb, emb.filter(F.col("vec_id") < 2)).collect()
    assert len(out) == 2
    for r in out:
        # a 32-row shortlist of a 33-vector corpus is every other vector,
        # so it must recall everything
        assert r["n_shortlist"] == 32
        assert r["n_hit"] == 10
        assert r["recall_at_k"] == 1.0


def test_mmr_select_diversifies(spark):
    # the fixed query q splits into two orthogonal halves: vec 0 is q's
    # first 32 coordinates (relevance 0.737), vec 2 its last 32 (0.676).
    # vec 1 duplicates vec 0, so pure relevance would rank it second,
    # but its maxsim of 1.0 must push it behind the orthogonal vec 2;
    # vecs 4-7 point away from q (negative relevance), so they fill
    # the 8 picks last
    q = similarity._plane_components(1, 64, 23)[0]
    head = q[:32] + [0.0] * 32
    tail = [0.0] * 32 + q[32:]
    rows = [
        (0, head),
        (1, head),  # exact duplicate of 0
        (2, tail),  # orthogonal to 0, a little less relevant
        (3, [q[1], -q[0]] + [0.0] * 62),  # orthogonal to q: irrelevant
        (4, [-x for x in head]),
        (5, [-x for x in tail]),
        (6, [-x for x in q]),
        (7, [-x for x in q[:16]] + [0.0] * 48),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.mmr_select(emb).collect()
    assert [r["step"] for r in out] == list(range(1, 9))
    assert sorted(r["vec_id"] for r in out) == list(range(8))
    # relevance tie between 0 and 1 breaks to the lowest id
    assert out[0]["vec_id"] == 0
    # second pick is the orthogonal direction, not the duplicate:
    # 0.7*0.676 - 0.3*0 beats 0.7*0.737 - 0.3*1.0
    assert out[1]["vec_id"] == 2
    assert out[2]["vec_id"] == 1
    assert out[0]["score"] >= out[1]["score"] >= out[2]["score"]


def test_twopass_median_matches_sorted(spark):
    from avro_sql_spark.operators import profile

    vals = [float(x) for x in [9, 1, 7, 3, 5, 11, 2, 8, 4]]  # n=9, k=5 -> 5.0
    df = spark.createDataFrame([(v,) for v in vals], "value DOUBLE")
    r = profile.twopass_median(df).collect()[0]
    assert (r["n_rows"], r["rank"], r["median_value"]) == (9, 5, 5.0)
    # even n takes the LOWER median: k = ceil(n/2)
    df2 = spark.createDataFrame([(float(v),) for v in [1, 2, 3, 4]], "value DOUBLE")
    r2 = profile.twopass_median(df2).collect()[0]
    assert (r2["rank"], r2["median_value"]) == (2, 2.0)
    # degenerate all-equal input must not divide by zero
    df3 = spark.createDataFrame([(7.0,)] * 5, "value DOUBLE")
    assert profile.twopass_median(df3).collect()[0]["median_value"] == 7.0


def test_incremental_agg_merge_equals_recompute(spark):
    from avro_sql_spark.operators import profile

    from datetime import datetime

    # the delta is days 3, 10 and 17 (dayofmonth % 7 == 3); "b" has one
    # row on each side of the split
    df = spark.createDataFrame(
        [("a", float(i), datetime(2024, 1, 1 + i)) for i in range(20)]
        + [("b", 0.125, datetime(2024, 1, 3)), ("b", -2.5, datetime(2024, 1, 4))],
        "event_type STRING, value DOUBLE, ts TIMESTAMP",
    )
    out = {r["event_type"]: r for r in profile.incremental_agg_merge(df).collect()}
    assert out["a"]["n_events"] == 20
    assert out["a"]["total_value"] == sum(range(20))
    assert (out["b"]["min_value"], out["b"]["max_value"]) == (-2.5, 0.125)
    assert out["b"]["total_value"] == -2.375


def test_kneser_ney_hand_computed(spark):
    """Tiny corpus with known counts, checked against the closed-form
    interpolated-KN values (D=0.75)."""
    import math

    from avro_sql_spark.operators.text import kneser_ney_scores

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string"
    )
    # bigram types: {a b:2, b c:1}; c1(a)=2, c1(b)=1; fw(a)=1, fw(b)=1;
    # bw(b)=1, bw(c)=1; B=2
    d = 0.75
    p_ab = max(2 - d, 0) / 2 + d * 1 / 2 * (1 / 2)
    p_bc = max(1 - d, 0) / 1 + d * 1 / 1 * (1 / 2)
    rows = {r["doc_id"]: r for r in kneser_ney_scores(docs).collect()}
    assert rows[1]["n_bigrams"] == 2
    assert rows[1]["kn_logprob_mean"] == round(
        (math.log(p_ab) + math.log(p_bc)) / 2, 6
    )
    assert rows[2]["kn_logprob_mean"] == round(math.log(p_ab), 6)


def test_kneser_ney_sums_to_one_per_context(spark):
    """The KN invariant: for any context w1, P(w2|w1) summed over the
    FULL vocabulary equals 1 — Σ max(c-D,0)/c1 = (c1 - D·fw)/c1 and the
    continuation term restores exactly D·fw/c1. Recomputed locally from
    corpus counts for every context."""
    from collections import Counter

    from avro_sql_spark.operators.text import kneser_ney_scores  # noqa: F401

    texts = ["the cat sat on the mat", "the dog sat", "a cat on a mat"]
    toks = [t.split() for t in texts]
    bigrams = Counter((w[i], w[i + 1]) for w in toks for i in range(len(w) - 1))
    vocab = sorted({w for t in toks for w in t})
    d = 0.75
    b = len(bigrams)
    for w1 in {x for x, _ in bigrams}:
        c1 = sum(c for (a, _), c in bigrams.items() if a == w1)
        fw = sum(1 for (a, _) in bigrams if a == w1)
        total = 0.0
        for w2 in vocab:
            bw = sum(1 for (_, y) in bigrams if y == w2)
            total += max(bigrams.get((w1, w2), 0) - d, 0) / c1 + d * fw / c1 * bw / b
        assert abs(total - 1.0) < 1e-12, (w1, total)


def test_grouped_winsorized_stats_hand_computed(spark):
    """One group of 1..100: clamp points are the exact 5th and 95th
    smallest; two values clamp on each side; the winsorized mean is the
    closed-form sum."""
    from avro_sql_spark.operators.profile import grouped_winsorized_stats

    rows = [("a", float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    r = grouped_winsorized_stats(df).collect()[0]
    assert r["n_values"] == 100
    assert r["p_lo"] == 5.0 and r["p_hi"] == 95.0
    assert r["n_clamped_lo"] == 4 and r["n_clamped_hi"] == 5
    total = 5.0 * 4 + sum(range(5, 96)) + 95.0 * 5
    assert r["winsor_mean"] == round(total / 100, 6)


def test_grouped_winsorized_stats_groups_independent(spark):
    """A second group with a huge outlier must not move the first
    group's thresholds; the outlier clamps to its own group's p95."""
    from avro_sql_spark.operators.profile import grouped_winsorized_stats

    rows = [("a", float(v)) for v in range(1, 101)] + [
        ("b", 1.0), ("b", 2.0), ("b", 3.0), ("b", 1e9)
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r["event_type"]: r for r in grouped_winsorized_stats(df).collect()}
    assert out["a"]["p_lo"] == 5.0 and out["a"]["p_hi"] == 95.0
    # group b: n=4, lo rank ceil(20/100)=1 -> 1.0, hi rank ceil(380/100)=4 -> 1e9
    assert out["b"]["p_lo"] == 1.0 and out["b"]["p_hi"] == 1e9
    assert out["b"]["n_clamped_lo"] == 0 and out["b"]["n_clamped_hi"] == 0


def test_pareto_concentration_hand_computed(spark):
    """4 keys with totals 40/30/20/10: top 25% (1 key) holds 0.4, top
    50% (2 keys) holds 0.7; the 1% bucket still takes ceil(0.04)=1 key."""
    from avro_sql_spark.operators.profile import pareto_concentration

    rows = []
    for uid, tot in [(1, 40), (2, 30), (3, 20), (4, 10)]:
        rows += [(uid, float(tot) / 2)] * 2
    df = spark.createDataFrame(rows, "user_id long, value double")
    out = {r["pct"]: r for r in pareto_concentration(df).collect()}
    assert out[25]["top_keys"] == 1 and out[25]["value_share"] == 0.4
    assert out[50]["top_keys"] == 2 and out[50]["value_share"] == 0.7
    assert out[1]["top_keys"] == 1 and out[1]["value_share"] == 0.4


def test_fano_burstiness_hand_computed(spark):
    """Counts 2/2/2 per hour -> variance 0, fano 0; counts 1/3 -> mean 2,
    var 2, fano 1."""
    import datetime as dt

    from avro_sql_spark.operators.profile import fano_burstiness

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for h in range(3):
        rows += [("flat", base + dt.timedelta(hours=h, minutes=m)) for m in (1, 2)]
    rows += [("bursty", base + dt.timedelta(minutes=1))]
    rows += [("bursty", base + dt.timedelta(hours=1, minutes=m)) for m in (1, 2, 3)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    out = {r["event_type"]: r for r in fano_burstiness(df).collect()}
    assert out["flat"]["mean_per_hour"] == 2.0
    assert out["flat"]["var_per_hour"] == 0.0 and out["flat"]["fano"] == 0.0
    assert out["bursty"]["mean_per_hour"] == 2.0
    assert out["bursty"]["var_per_hour"] == 2.0 and out["bursty"]["fano"] == 1.0


def test_source_kl_matrix_against_naive_full_vocab(spark):
    """The algebraic collapse must equal the naive full-vocab KL sum
    (computed locally over every word incl. absent ones), and KL >= 0."""
    import math
    from collections import Counter

    from avro_sql_spark.operators.text import source_kl_matrix

    corp = {
        "s1": ["the cat sat", "the cat ran"],
        "s2": ["a dog ran", "the dog sat here"],
    }
    rows, i = [], 0
    for s, texts in corp.items():
        for t in texts:
            rows.append((i, t, "en", s, len(t)))
            i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r["source_a"], r["source_b"]): r["kl_divergence"]
        for r in source_kl_matrix(df).collect()
    }
    counts = {s: Counter(w for t in ts for w in t.split()) for s, ts in corp.items()}
    vocab = sorted({w for c in counts.values() for w in c})
    v = len(vocab)
    def p(s, w):
        return (counts[s].get(w, 0) + 1) / (sum(counts[s].values()) + v)
    for a in corp:
        for b in corp:
            if a == b:
                continue
            kl = sum(p(a, w) * math.log(p(a, w) / p(b, w)) for w in vocab)
            assert abs(got[(a, b)] - kl) < 1e-6, (a, b, got[(a, b)], kl)
            assert got[(a, b)] >= 0


def test_ivf_pq_topk_contract_and_cell_restriction(spark):
    """IVF+PQ: results honor the top-k/rank contract, every returned
    (query, neighbor) pair shares a probed cell, and the candidate set
    is a subset of plain PQ's (IVF only ever FILTERS candidates)."""
    import math

    rows = [
        (i, [math.cos(i * 0.3), math.sin(i * 0.3), float(i % 5), 1.0])
        for i in range(100)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.ivf_pq_topk(emb, queries).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["adist"], r["neighbor_id"]))
    assert set(per_q) == {0, 1, 2}
    for q, rs in per_q.items():
        rs.sort()
        assert [r[0] for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i][1] <= rs[i + 1][1] for i in range(len(rs) - 1))
        assert q not in {r[2] for r in rs}  # self excluded
    # determinism: identical second run
    again = similarity.ivf_pq_topk(emb, queries).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_blocklist_report_hand_computed(spark):
    from avro_sql_spark.operators.text import blocklist_report

    rows = [
        (1, "bad bad bad ok", "s1"),     # 3 hits -> quarantined
        (2, "bad ok ok", "s1"),          # 1 hit -> kept
        (3, "clean text here", "s2"),    # 0 hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in blocklist_report(df, ["bad"]).collect()}
    assert out["s1"]["n_docs"] == 2 and out["s1"]["n_quarantined"] == 1
    assert out["s1"]["total_hits"] == 4
    assert out["s1"]["quarantine_rate"] == 0.5
    assert out["s2"]["n_quarantined"] == 0 and out["s2"]["total_hits"] == 0


def test_incremental_join_agg_all_terms_contribute(spark):
    """Each of the four delta-decomposition terms must be non-empty on
    data whose split attributes mix across the join key (splitting on
    the key itself would leave cross terms structurally empty)."""
    from avro_sql_spark.operators.profile import incremental_join_agg

    orders = spark.createDataFrame(
        [(ok, ok % 3 + 1, float(ok * 10)) for ok in range(1, 13)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(1, 0, "A"), (2, 1, "B"), (3, 2, "A")],
        "c_custkey long, c_nationkey long, c_mktsegment string",
    )
    out = {r["c_mktsegment"]: r for r in incremental_join_agg(orders, customer).collect()}
    # full recompute: every order joins (custkey in 1..3)
    assert sum(r["n_orders"] for r in out.values()) == 12
    total = sum(r["revenue"] for r in out.values())
    assert total == sum(ok * 10 for ok in range(1, 13))


def test_cusum_drift_ramps_and_closes(spark):
    """A rate shift shows as a ramp; the final cusum of each group
    closes at ~0 (deviations sum to total - mean*n = 0)."""
    import datetime as dt

    from avro_sql_spark.operators.profile import cusum_drift

    base = dt.datetime(2024, 1, 1)
    rows = []
    # 4 quiet hours of 1 event, then 4 loud hours of 3 -> mean 2
    for h in range(4):
        rows.append(("a", base + dt.timedelta(hours=h)))
    for h in range(4, 8):
        rows += [("a", base + dt.timedelta(hours=h, minutes=m)) for m in (0, 1, 2)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    out = [r["cusum"] for r in cusum_drift(df).collect()]
    # quiet half ramps down to -4, loud half climbs back to 0
    assert out[3] == -4.0
    assert out[-1] == 0.0
    assert min(out) == -4.0


def test_seasonal_naive_backtest_hand_computed(spark):
    """Two days of hourly counts where day2 = day1 + 1 at every hour:
    every prediction errs by exactly 1 (under-forecast), and gap hours
    produce no prediction (timestamp join, not row lag)."""
    import datetime as dt

    from avro_sql_spark.operators.profile import seasonal_naive_backtest

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in (0, 1, 3):               # hour 2 is a GAP on day 1
        rows += [("a", base + dt.timedelta(hours=h, minutes=m)) for m in range(1)]
        rows += [("a", base + dt.timedelta(hours=24 + h, minutes=m)) for m in range(2)]
    # day-2 hour 2 exists but has no day-1 base -> must NOT be predicted
    rows += [("a", base + dt.timedelta(hours=26))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp_ntz")
    r = seasonal_naive_backtest(df).collect()[0]
    assert r["n_predictions"] == 3          # hours 0,1,3 of day 2 only
    assert r["mae"] == 1.0                  # |2-1| at each predicted hour
    assert r["mape"] == 0.5                 # 1/2 per prediction
    assert r["bias"] == -1.0                # pred below actual


def test_dataset_card_hand_computed(spark):
    from avro_sql_spark.operators.profile import dataset_card

    rows = [
        (1, "alpha beta gamma", "en", "s1", 16),
        (2, "alpha beta gamma", "en", "s2", 16),   # exact dup of doc 1
        (3, "delta epsilon", "de", "s1", 13),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    r = dataset_card(df).collect()[0]
    assert r["n_docs"] == 3 and r["n_sources"] == 2 and r["n_langs"] == 2
    assert r["n_tokens"] == 8
    assert r["n_distinct_docs"] == 2
    assert r["dup_rate"] == round(1 - 2 / 3, 6)
    assert r["gopher_pass_rate"] == 0.0  # all docs far below 30 tokens


def test_equi_depth_histogram_hand_computed(spark):
    """40 values into 16 buckets: rank-ceil sizes alternate 2/3,
    boundaries are exact data values."""
    from avro_sql_spark.operators.profile import equi_depth_histogram

    df = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 41)], "o_orderkey long, v double"
    )
    out = {r["bucket"]: r for r in equi_depth_histogram(df, "v", "o_orderkey").collect()}
    assert [out[b]["n_rows"] for b in range(1, 17)] == [2, 3] * 8
    assert out[1]["lo"] == 10.0 and out[1]["hi"] == 20.0
    assert out[16]["lo"] == 380.0 and out[16]["hi"] == 400.0


def test_disorder_audit_hand_computed(spark):
    """Arrival order 1,2,3 with event times 10:00, 09:00, 11:00: the
    second event is 3600s late; the third is on time."""
    import datetime as dt

    from avro_sql_spark.operators.profile import disorder_audit

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    df = spark.createDataFrame(
        [
            ("a", base, 1),
            ("a", base - dt.timedelta(hours=1), 2),
            ("a", base + dt.timedelta(hours=1), 3),
        ],
        "event_type string, ts timestamp_ntz, arrival long",
    )
    r = disorder_audit(df).collect()[0]
    assert r["n_events"] == 3 and r["n_late"] == 1
    assert r["max_lateness_s"] == 3600
    assert r["late_frac"] == round(1 / 3, 6)


def test_lexical_diversity_hand_computed(spark):
    """25 distinct tokens -> TTR 1.0; one token repeated 25x -> 0.04;
    a 30-token doc has exactly one full chunk; <25 tokens excluded."""
    from avro_sql_spark.operators.text import lexical_diversity

    import itertools
    import string

    words = ["".join(p) for p in itertools.product(string.ascii_lowercase, repeat=2)]
    uniq = " ".join(words[:25])
    docs = spark.createDataFrame(
        [
            (1, uniq + " extra tokens here overflow ignored"),
            (2, " ".join(["dup"] * 25)),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lexical_diversity(docs).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_chunks"] == 1 and out[1]["msttr"] == 1.0
    assert out[2]["n_chunks"] == 1 and out[2]["msttr"] == round(1 / 25, 6)


def test_term_burstiness_hand_computed(spark):
    """'aa' appears 30x across 10 docs -> burstiness 3; 'bb' once in
    each of 10 docs -> 1 (the function-word signature)."""
    from avro_sql_spark.operators.text import term_burstiness

    docs = spark.createDataFrame(
        [(i, "aa aa aa bb") for i in range(10)], "doc_id long, text string"
    )
    out = {r["term"]: r for r in term_burstiness(docs).collect()}
    assert out["aa"]["cf"] == 30 and out["aa"]["df"] == 10
    assert out["aa"]["burstiness"] == 3.0
    assert out["bb"]["burstiness"] == 1.0


def test_interarrival_stats_hand_computed(spark):
    """Regular 60s gaps -> mean 60, CV 0; gaps 10/110 -> mean 60,
    sample std = sqrt(5000), CV = sqrt(5000)/60."""
    import datetime as dt
    import math

    from avro_sql_spark.operators.profile import interarrival_stats

    base = dt.datetime(2024, 1, 1)
    rows = [("flat", base + dt.timedelta(seconds=60 * i), i) for i in range(4)]
    rows += [
        ("bursty", base, 10),
        ("bursty", base + dt.timedelta(seconds=10), 11),
        ("bursty", base + dt.timedelta(seconds=120), 12),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp_ntz, event_id long"
    )
    out = {r["event_type"]: r for r in interarrival_stats(df).collect()}
    assert out["flat"]["mean_gap_s"] == 60.0 and out["flat"]["cv"] == 0.0
    assert out["bursty"]["mean_gap_s"] == 60.0
    assert out["bursty"]["cv"] == round(math.sqrt(5000) / 60, 6)


def test_user_entropy_hand_computed(spark):
    """Uniform over 2 types -> ln 2; single type -> 0."""
    import math

    from avro_sql_spark.operators.profile import user_entropy

    rows = [(1, "a"), (1, "b"), (1, "a"), (1, "b"), (2, "a"), (2, "a")]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["user_id"]: r for r in user_entropy(df).collect()}
    assert out[1]["entropy"] == round(math.log(2), 6)
    assert out[2]["entropy"] == 0.0


def test_supplier_hhi_bounds(spark, tmp_path):
    """One nation with a monopoly supplier -> HHI 1; one with two equal
    suppliers -> 0.5."""
    import os

    from avro_sql_spark.operators.relational import supplier_hhi

    sup = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 1)], "s_suppkey long, s_nationkey long"
    )
    li = spark.createDataFrame(
        [(1, 100.0), (2, 50.0), (3, 50.0)],
        "l_suppkey long, l_extendedprice double",
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    sup.write.parquet(os.path.join(sf, "supplier.parquet"))
    li.write.parquet(os.path.join(sf, "lineitem.parquet"))
    out = {r["nationkey"]: r for r in supplier_hhi(spark, sf).collect()}
    assert out[0]["hhi"] == 1.0 and out[0]["n_suppliers"] == 1
    assert out[1]["hhi"] == 0.5 and out[1]["n_suppliers"] == 2


def test_benford_audit_hand_computed(spark):
    """Digits read from the floor-string: 19.5 -> 1, 250 -> 2, 0.5
    excluded; observed fractions exact."""
    from avro_sql_spark.operators.profile import benford_audit

    df = spark.createDataFrame(
        [(19.5,), (250.0,), (1000.0,), (0.5,)], "v double"
    )
    out = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_obs"] == 2 and out[1]["obs_frac"] == round(2 / 3, 6)
    import math

    assert out[1]["benford_frac"] == round(math.log10(2), 6)


def test_gini_coefficient_bounds(spark):
    """Equal totals -> 0; one whale among near-zeros -> close to
    (n-1)/n (the finite-sample maximum)."""
    from avro_sql_spark.operators.profile import gini_coefficient

    eq = spark.createDataFrame(
        [(u, 10.0) for u in range(1, 5)], "user_id long, value double"
    )
    assert gini_coefficient(eq).collect()[0]["gini"] == 0.0
    whale = spark.createDataFrame(
        [(1, 1e6)] + [(u, 0.000001) for u in range(2, 11)],
        "user_id long, value double",
    )
    g = gini_coefficient(whale).collect()[0]["gini"]
    assert 0.89 < g <= 0.9  # (n-1)/n = 0.9 at n=10


def test_kaplan_meier_hand_computed(spark):
    """3 signups: conversions at 10s and 20s, one censored at 15s.
    S(10) = 1 - 1/3 = 2/3; at t=20 only 1 at risk (censor left at 15):
    S(20) = 2/3 * (1 - 1/1) = 0."""
    import datetime as dt

    from avro_sql_spark.operators.profile import kaplan_meier

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, "signup", base), (1, "purchase", base + dt.timedelta(seconds=10)),
        (2, "signup", base), (2, "view", base + dt.timedelta(seconds=15)),
        (3, "signup", base), (3, "purchase", base + dt.timedelta(seconds=20)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp_ntz")
    out = {r["t_seconds"]: r for r in kaplan_meier(df).collect()}
    assert set(out) == {10, 20}
    assert out[10]["n_at_risk"] == 3 and out[10]["survival"] == round(2 / 3, 6)
    assert out[20]["n_at_risk"] == 1 and out[20]["survival"] == 0.0


def test_log_odds_terms_direction_and_symmetry(spark):
    """A term exclusive to A gets a positive z, exclusive to B negative;
    swapping the corpora flips every sign."""
    from avro_sql_spark.operators.text import log_odds_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple shared", "en", "A", 1),
            (2, "banana banana banana shared", "en", "B", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["term"]: r["log_odds_z"] for r in log_odds_terms(docs, "A", "B").collect()}
    assert out["apple"] > 0 and out["banana"] < 0
    assert abs(out["shared"]) < abs(out["apple"])
    flipped = {r["term"]: r["log_odds_z"] for r in log_odds_terms(docs, "B", "A").collect()}
    for term, z in out.items():
        assert flipped[term] == -z


def test_heldout_nll_oov_floor_and_no_leakage(spark):
    """A test doc whose tokens never appear in train scores exactly the
    OOV floor -ln(1/(n+V+1)) per token; known-token NLL is lower."""
    import math

    from avro_sql_spark.operators.text import heldout_nll
    from avro_sql_spark.operators.curation import hash_unit
    import pyspark.sql.functions as F

    rows = [(i, "alpha beta alpha") for i in range(40)] + [
        (100 + i, "zzz qqq") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # find which docs the deterministic lottery holds out
    test_ids = {
        r["doc_id"]
        for r in df.select("doc_id").filter(
            hash_unit(F.col("doc_id"), "lmeval") < 0.2
        ).collect()
    }
    out = {r["doc_id"]: r for r in heldout_nll(df).collect()}
    assert set(out) == test_ids and test_ids
    # train stats: recompute locally for the expected floor
    train_tokens = [
        w for r in rows if r[0] not in test_ids for w in r[1].split()
    ]
    n = len(train_tokens)
    v = len(set(train_tokens))
    floor = -math.log(1 / (n + v + 1))
    for did, r in out.items():
        if did >= 100 and not any(
            t in set(train_tokens) for t in ("zzz", "qqq")
        ):
            assert r["nll_per_token"] == round(floor, 6)
        assert r["nll_per_token"] <= floor + 1e-9


def test_weekday_hour_profile_known_dates(spark):
    """1970-01-01 was a Thursday (weekday 4 in the 0=Sunday formula);
    2024-01-07 a Sunday (0); hours extracted exactly; shares sum to 1."""
    import datetime as dt

    from avro_sql_spark.operators.profile import weekday_hour_profile

    rows = [
        (dt.datetime(1970, 1, 1, 5, 0),),
        (dt.datetime(2024, 1, 7, 23, 30),),
        (dt.datetime(2024, 1, 8, 0, 1),),   # Monday -> 1
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz")
    out = {(r["weekday"], r["hour"]): r for r in weekday_hour_profile(df).collect()}
    assert set(out) == {(4, 5), (0, 23), (1, 0)}
    # shares are rounded at 6dp, so the sum is within n*5e-7 of 1
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 2e-6


def test_scan_probe_leaves_in_memory_frames_alone(spark):
    """A frame with no input files (in-memory rows) can't be footer-read:
    the probe answers ``cap`` ("wide enough") and no repartition is
    added."""
    from avro_sql_spark.operators._scan import _scan_row_groups, spread

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k LONG, v STRING")
    assert df.inputFiles() == []
    assert _scan_row_groups(df, 8) == 8
    assert spread(df, "k") is df
    assert spread(df) is df


def test_scan_probe_counts_parquet_row_groups(spark, tmp_path):
    from avro_sql_spark.operators._scan import _scan_row_groups

    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.parquet(path)
    assert _scan_row_groups(spark.read.parquet(path), 8) == 1


def test_scan_probe_leaves_non_parquet_files_alone(spark, tmp_path):
    """Spark splits CSV by byte range, so the row-group bound does not
    apply: the probe answers ``cap`` instead of footer-reading a file
    that has no parquet footer."""
    from avro_sql_spark.operators import _scan

    path = str(tmp_path / "t")
    spark.range(100).selectExpr("id AS k").coalesce(1).write.csv(path)
    df = spark.read.csv(path, schema="k LONG")
    assert len(df.inputFiles()) == 1
    assert _scan._scan_row_groups(df, 8) == 8
    assert _scan.spread(df, "k") is df


def _write_row_groups(tmp_path, table, n_groups: int) -> str:
    import pyarrow.parquet as pq

    path = str(tmp_path / f"rg{n_groups}.parquet")
    pq.write_table(table, path, row_group_size=-(-table.num_rows // n_groups))
    assert pq.read_metadata(path).num_row_groups == n_groups
    return path


def test_spread_follows_row_groups(spark, tmp_path):
    """One row group scans as one task, so ``spread`` repartitions to
    ``defaultParallelism`` (hashed on the key, round-robin without one),
    also when the scan is cached: the cache keeps the scan's partitions.
    8 row groups already cover the 4 cores, so it adds nothing."""
    import re

    import pyarrow as pa

    from avro_sql_spark.operators._scan import spread

    n = spark.sparkContext.defaultParallelism
    table = pa.table({"k": list(range(80)), "v": [str(i) for i in range(80)]})
    wide = spark.read.parquet(_write_row_groups(tmp_path, table, 8))
    assert spread(wide, "k") is wide
    assert spread(wide) is wide
    narrow = spark.read.parquet(_write_row_groups(tmp_path, table, 1))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert re.search(rf"Exchange hashpartitioning\(k#\d+L?, {n}\)", plan(spread(narrow, "k")))
    assert f"Exchange RoundRobinPartitioning({n})" in plan(spread(narrow))
    narrow.cache().count()
    try:
        assert "Exchange hashpartitioning(k#" in plan(spread(narrow.select("k"), "k"))
    finally:
        narrow.unpersist()


def test_exact_duplicates_spreads_only_a_narrow_scan(spark, tmp_path):
    """The per-row fingerprint work is spread only when the scan is
    narrower than the cluster: over an 8-row-group copy of the same
    documents the plan has one Exchange fewer (the groupBy's own)."""
    import pyarrow.parquet as pq

    from tools.gen_plan_budgets import SF, plan_metrics

    src = f"{SF}/documents.parquet"
    assert pq.read_metadata(src).num_row_groups == 1
    wide = _write_row_groups(tmp_path, pq.read_table(src), 8)

    def exchanges(path):
        df = dedup.exact_duplicates(spark.read.parquet(path))
        return plan_metrics(df._jdf.queryExecution().executedPlan().toString())["exchanges"]

    assert exchanges(wide) == exchanges(src) - 1


def test_no_repartition_outside_scan_module():
    """``_scan.spread`` is the one place that decides a spread: any other
    ``.repartition(`` call in the package or the registry would shuffle
    unconditionally. (``repartitionByRange`` sets an output layout and
    is not a spread.)"""
    import ast
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = ["__spark_entry__.py"]
    for base, dirs, files in os.walk(os.path.join(root, "avro_sql_spark")):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths += [os.path.relpath(os.path.join(base, f), root) for f in sorted(files) if f.endswith(".py")]
    calls = [
        f"{rel}:{node.lineno}"
        for rel in paths
        if rel != os.path.join("avro_sql_spark", "operators", "_scan.py")
        for node in ast.walk(ast.parse(open(os.path.join(root, rel)).read()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "repartition"
    ]
    assert calls == [], f"{len(calls)} repartition calls outside _scan.spread: {calls}"
