"""Document-level text analysis operators (DataFrame in → DataFrame out)
wrapping the Column functions in :mod:`avro_sql_spark.functions.text`."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ._scan import spread


def analyze_documents(docs: DataFrame) -> DataFrame:
    """One-scan text profile: token counts, punctuation/stopword ratios,
    language guess, quality score, fingerprint. All codegen'd Column
    expressions — the scan cost IS the operator cost at 100 TB."""
    t = F.col("text")
    return spread(docs, "doc_id").select(
        F.col("doc_id"),
        T.whitespace_token_count(t).cast("long").alias("n_tokens_ws"),
        T.regex_token_count(t).cast("long").alias("n_tokens_re"),
        T.punct_ratio(t).alias("punct_ratio"),
        T.stopword_ratio(t).alias("stopword_ratio"),
        T.lang_id(t).alias("lang_guess"),
        T.quality_score(t).alias("quality"),
        T.fingerprint(t).alias("fp"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: ``top_frac`` (share
    of n-gram occurrences taken by the single most frequent n-gram) and
    ``dup_frac`` (share of occurrences that are repeats). Boilerplate
    and template spam score high on both.

    Shape: explode n-grams WITH multiplicity → count per (doc, gram) →
    re-aggregate per doc. Both aggregations hash-partition on the doc id
    (the gram only refines the first key), so the second groupBy reuses
    the first shuffle's locality; everything is map-side combined."""
    from ..functions.text import word_ngrams_of

    # tokenize once (see dedup._shingles): the gram transform must not
    # re-split the text per element
    grams = (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), F.split(F.lower(F.col("text")), " ").alias("w"))
        .select(F.col("doc_id"), F.explode(word_ngrams_of(F.col("w"))).alias("g"))
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_frac"),
        ((F.sum("c") - F.count(F.lit(1))).cast("double") / F.sum("c")).alias("dup_frac"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every character k-gram, slide a w-window over the
    hash sequence, keep each window's minimum — the selected minima are
    the doc's fingerprint set, guaranteeing any shared substring of
    length >= k+w-1 yields a shared fingerprint. The partial-overlap
    detector that whole-doc md5 (exact dedup) cannot be.

    The k-gram hash is the engine-portable md5-prefix integer (not a
    true O(1) rolling update — portability to the DuckDB oracle beats
    the constant factor; swap xxhash64 in for throughput if oracle
    parity is not needed).

    Shape: the whole pass — k-gram hashes, w-window minima, per-doc
    dedup — runs as array expressions *inside the row* (transform /
    slice / array_min / array_distinct), so fingerprint extraction is
    a narrow map with ZERO shuffles: no position explode (which would
    duplicate the full text per character), no per-doc sort window, no
    distinct exchange. Only the final explode to (doc, fp) rows leaves
    the row, and that output is already per-doc unique. Per-row cost is
    O(len·w) with an O(len) array held per row — bound document length
    upstream (chunk or truncate) if a corpus carries multi-MB docs."""
    lowered = F.lower(F.col("text"))
    n_grams = F.length(lowered) - (k - 1)

    def _span(stop):  # sequence(1, stop), empty when stop < 1 (sequence descends!)
        return F.when(stop >= 1, F.sequence(F.lit(1), stop)).otherwise(
            F.array().cast("array<int>")
        )

    # per-position k-gram hashes as one array column
    hashes = F.transform(
        _span(n_grams),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(lowered, i, k).cast("binary")), 1, 8), 16, 10
        ).cast("bigint"),
    )
    # each full window's minimum, then the doc's distinct fingerprint set
    fps = F.array_distinct(
        F.transform(
            _span(F.size(F.col("__h")) - (w - 1)),
            lambda j: F.array_min(F.slice(F.col("__h"), j, w)),
        )
    )
    return (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), hashes.alias("__h"))
        .select(F.col("doc_id"), F.explode(fps).alias("fp"))
    )


def winnow_overlap_pairs(docs: DataFrame) -> DataFrame:
    """Partial-overlap candidate pairs: docs sharing >= 4 winnowing
    fingerprints (16-grams, window 8) — the copy/quotation detector
    (MOSS-style) that exact dedup and whole-doc similarity both miss.

    Scale shape mirrors ngram_jaccard but on the winnowed hash set,
    which is ~1/w the k-gram count per doc, so the self-join shuffle is
    proportionally smaller; fingerprints shared by huge doc sets are the
    same skew risk as hot shingles (drop them upstream with a frequency
    cap if the corpus has boilerplate)."""
    fps = winnow_fingerprints(docs, k=16, w=8)
    # cached: both self-join sides consume fps; uncached, the md5 k-gram
    # + window-min array pass runs twice
    fps = fps.cache()
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= 4)
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF (ln-smoothed:
    tf * ln(N / df)) — keyword extraction / topic labeling.

    Shape: explode words → (doc, term) counts → term doc-frequencies →
    broadcast the (small) df table back → rank window per doc. Two
    shuffles (doc-term, term) plus the per-doc window; everything
    partial-aggregated. The score is rounded to 9 decimals before
    ranking so Spark's and DuckDB's ln() agree through the rank despite
    last-ulp libm differences, with (term) as the total tiebreak."""
    words = docs.select(
        F.col("doc_id"), F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # lazy scalar N (no driver-side count action): 1-row aggregate,
    # broadcast into the df table
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    df_ = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    scored = tf.join(F.broadcast(df_), "term").withColumn(
        "score", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 9)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "score", "rk")
    )


def unigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """Unigram language-model quality score (KenLM-lite): pass 1 builds
    corpus token frequencies, pass 2 scores each doc by the mean ln
    probability of its tokens. Low scores flag gibberish / OCR noise /
    off-corpus text — the cheap statistical filter run before any
    neural scorer.

    Tokenization matches ``token_topk`` (lowercase, pure [a-z]+ runs).
    Every scored token is in-vocabulary by construction (frequencies
    come from the same corpus), so no smoothing term is needed. Scale:
    the frequency table is a partial-aggregated shuffle on token; the
    score join broadcasts it (vocab ≪ corpus); per-doc aggregation
    shuffles on the doc id once. Mean ln p is rounded to 6 decimals so
    the float sum is stable across engines and partition orders."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(T.word_tokens(F.col("text"))).alias("token"),
    )
    freqs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = freqs.agg(F.sum("c").alias("n")).select("n")
    logp = freqs.crossJoin(F.broadcast(total)).select(
        "token", F.log(F.col("c") / F.col("n")).alias("lp")
    )
    return (
        toks.join(F.broadcast(logp), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("logprob_mean"),
        )
        .orderBy("doc_id")
    )


def source_quality_report(docs: DataFrame) -> DataFrame:
    """Per-source corpus health report: document count, exact-duplicate
    rate (via content fingerprints), language breadth, and size stats —
    the triage view that decides which crawl/source to up- or
    down-weight before mixing. One scan, one shuffle on source (the
    distinct-fingerprint count piggybacks per-source)."""
    return (
        docs.select(
            # fresh attributes: the distinct-aggregate rewrite below orders
            # its Expand groups by attribute id, so these pin the plan
            F.col("source").alias("source"),
            F.col("lang").alias("lang"),
            F.length(F.col("text")).alias("len"),
            T.fingerprint(F.col("text")).alias("fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("len").alias("total_chars"),
            F.min("len").alias("min_chars"),
            F.max("len").alias("max_chars"),
        )
        .withColumn(
            "dup_rate",
            F.round((F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6),
        )
        .orderBy("source")
    )


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Top-30 collocations by pointwise mutual information over adjacent
    token pairs — the statistical phrase detector used for tokenizer
    merges and stop-phrase lists. PMI = ln(p(ab) / (p(a)·p(b))) over
    corpus unigram/bigram frequencies; a floor of 10 occurrences
    suppresses the unstable low-frequency tail.

    Shape: tokens and adjacent pairs are built in-row (filter +
    transform), then two partial-aggregated shuffles (unigram, bigram
    counts); the tiny unigram table broadcasts back onto bigrams. The
    score is rounded to 6 decimals BEFORE ranking (rank-stable across
    engines despite last-ulp ln differences), pair text as tiebreak."""
    tk = T.word_tokens(F.col("text"))
    base = docs.select(tk.alias("tk")).filter(F.size("tk") >= 1)
    uni = (
        base.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    t1 = uni.agg(F.sum("c1").cast("double").alias("t1"))
    pairs = base.filter(F.size("tk") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tk"), i).alias("wa"),
                    F.element_at(F.col("tk"), i + 1).alias("wb"),
                ),
            )
        ).alias("p")
    ).select(F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb"))
    big = pairs.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c2"))
    t2 = big.agg(F.sum("c2").cast("double").alias("t2"))
    ua = uni.select(F.col("w").alias("wa"), F.col("c1").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c1").alias("cb"))
    scored = (
        big.filter(F.col("c2") >= 10)
        .join(F.broadcast(ua), "wa")
        .join(F.broadcast(ub), "wb")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            F.concat_ws(" ", "wa", "wb").alias("bigram"),
            F.col("c2").alias("n_pairs"),
            F.round(
                F.log(
                    (F.col("c2") / F.col("t2"))
                    / ((F.col("ca") / F.col("t1")) * (F.col("cb") / F.col("t1")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bigram").limit(30)


def quality_filter_observed(docs: DataFrame):
    """Gopher quality gate with FREE runtime metrics: ``df.observe``
    attaches (n_rows, n_pass) accumulators to the scan itself, so the
    pipeline learns its own pass rate from the one pass it was already
    making — no second scan, no count() action. At 100 TB a separate
    metrics query doubles the read bill; observations ride along.

    Returns ``(filtered_df, observation)``; read
    ``observation.get`` AFTER an action on the filtered frame."""
    from pyspark.sql import Observation

    obs = Observation("quality_filter")
    ok = T.gopher_pass(F.col("text"))
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(ok.cast("long")).alias("n_pass"),
    )
    return observed.filter(ok), obs


def bigram_logprob_scores(docs: DataFrame) -> DataFrame:
    """Bigram language-model quality score with add-k smoothing (k =
    0.5): pass 1 builds corpus bigram + unigram counts, pass 2 scores
    each doc by the mean ln P(w2|w1) = ln((c(w1 w2)+k) / (c(w1)+k·V))
    over its adjacent token pairs. Catches shuffled-word and template
    junk that the unigram score cannot (every token frequent,
    transitions absurd).

    Adjacency is computed IN-ROW: non-word tokens are filtered from the
    token array before pairing, so punctuation never fabricates or
    breaks a transition, and no positional explode+window is needed.
    Scale: the regex tokenization (the expensive in-row work) runs ONCE
    — spread across cores (``_scan.spread``) and ``.cache``d because
    both the count pass and the score pass consume it (caller owns
    unpersist, same convention as the dedup module). Per-bigram
    scores are computed on the VOCAB-sized count table (bc ⋈ broadcast
    uc), not per instance; the instance join then shuffles doc bigrams
    against that scored table (bigram vocab can exceed broadcast size);
    per-doc aggregation shuffles once on the doc id. Docs with fewer
    than two valid tokens have no transitions and are excluded, like
    the unigram scorer excludes token-free docs."""
    words = T.word_tokens(F.col("text"))
    toks = (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), words.alias("ws"))
        .cache()
    )
    n = F.size(F.col("ws"))
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("ws", i), F.element_at("ws", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bigrams = toks.select(F.col("doc_id"), F.explode(pairs).alias("bg"))
    bc = doc_bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    uc = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    v = uc.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        bc.withColumn("w", F.split(F.col("bg"), " ")[0])
        .join(F.broadcast(uc), "w")
        .crossJoin(F.broadcast(v))
        .select(
            "bg",
            F.log(
                (F.col("cb") + F.lit(0.5)) / (F.col("cu") + F.lit(0.5) * F.col("v"))
            ).alias("lp"),
        )
    )
    return (
        doc_bigrams.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("bigram_logprob_mean"),
        )
        .orderBy("doc_id")
    )


def kneser_ney_scores(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency score (Kneser & Ney 1995;
    Chen & Goodman 1999 §2.7) — the smoothing that backs off to how many
    CONTEXTS a word follows rather than how often it occurs, so "san
    francisco" boosts "francisco" only after "san":

        P(w2|w1) = max(c(w1 w2) − D, 0)/c(w1·)
                   + D·N1+(w1·)/c(w1·) · N1+(·w2)/B

    with c(w1·) = Σ_w2 c(w1 w2), N1+(w1·) = |{w2: c(w1 w2)>0}|,
    N1+(·w2) = |{w1: c(w1 w2)>0}|, B = distinct bigram types. Docs are
    scored by mean ln P over their adjacent token pairs — a sharper
    junk discriminator than add-k (:func:`bigram_logprob_scores`)
    because rare-but-fluent transitions are not flattened toward the
    uniform floor.

    Scale shape mirrors the add-k scorer: tokenize ONCE (cached, spread
    across cores), bigram counts from one shuffle; every KN term is an
    aggregate OF THE VOCAB-SIZED count table (c1/fw by one groupBy on
    w1, bw by one on w2, B a scalar), so the smoothing math never
    touches per-instance rows; the doc join shuffles doc bigrams
    against the scored vocab table once. All terms are integer counts —
    the DuckDB oracle replays the identical formula exactly."""
    words = T.word_tokens(F.col("text"))
    toks = (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), words.alias("ws"))
        .cache()
    )
    n = F.size(F.col("ws"))
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("ws", i), F.element_at("ws", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_bigrams = toks.select(F.col("doc_id"), F.explode(pairs).alias("bg"))
    bc = doc_bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    split = F.split(F.col("bg"), " ")
    typed = bc.select(
        "bg", "cb", split[0].alias("w1"), split[1].alias("w2")
    ).cache()
    left = typed.groupBy("w1").agg(
        F.sum("cb").alias("c1"), F.count(F.lit(1)).alias("fw")
    )
    right = typed.groupBy("w2").agg(F.count(F.lit(1)).alias("bw"))
    btypes = typed.agg(F.count(F.lit(1)).alias("b"))
    d = F.lit(0.75)
    scored = (
        typed.join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(btypes))
        .select(
            "bg",
            F.log(
                F.greatest(F.col("cb") - d, F.lit(0.0)) / F.col("c1")
                + d * F.col("fw") / F.col("c1") * F.col("bw") / F.col("b")
            ).alias("lp"),
        )
    )
    return (
        doc_bigrams.join(scored, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("kn_logprob_mean"),
        )
        .orderBy("doc_id")
    )


def vocab_coverage(docs: DataFrame) -> DataFrame:
    """Vocabulary concentration per group: how many distinct tokens does
    it take to cover 90% of the token occurrences — the tokenizer-
    budget / vocab-truncation planning number (a tight core vocab means
    aggressive truncation is safe; a flat distribution means it is not).

    A token is in the core set while the cumulative mass BEFORE it is
    still under the target (the first token crossing the threshold is
    included). Scale: token counts partial-aggregate on (group, token);
    the cumulative window sorts each group's VOCABULARY (desc count,
    token tiebreak) — bounded by distinct tokens, not corpus size, the
    acceptable low-cardinality-partition exception."""
    toks = docs.select(
        F.col("lang").alias("grp"),
        F.explode(T.word_tokens(F.col("text"))).alias("token"),
    )
    counts = toks.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("grp")
        .orderBy(F.desc("c"), F.col("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = Window.partitionBy("grp")
    ranked = counts.select(
        "grp",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("before"),
        F.sum("c").over(totals).alias("total"),
    )
    core = ranked.filter(F.col("before") < F.lit(0.9) * F.col("total"))
    return (
        core.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_core_tokens"),
            F.round(F.sum("c") / F.first("total"), 6).alias("covered_mass"),
        )
        .join(
            counts.groupBy("grp").agg(F.count(F.lit(1)).alias("n_vocab")),
            "grp",
        )
        .select(
            F.col("grp").alias("lang"),
            "n_vocab",
            "n_core_tokens",
            "covered_mass",
        )
        .orderBy("lang")
    )


def char_entropy_stats(docs: DataFrame) -> DataFrame:
    """Per-group character-entropy quality screen: Shannon entropy
    (bits) of each document's character distribution, aggregated to
    (avg, min, max, count below 3 bits). Natural text sits around
    4 bits/char; binary spew, repeated padding, and template boilerplate
    score far lower -- a standard cheap pre-filter before tokenization.

    Scale shape: the per-doc entropy is computed ENTIRELY in-row with
    higher-order array functions (split -> array_distinct -> counts via
    filter/size -> aggregate), i.e. zero shuffles for the expensive
    part; the only shuffle is the final tiny per-group aggregate. The
    distinct-x-length inner product is bounded by the alphabet (~40
    symbols for text), so per-row cost is O(40 * len) regardless of
    corpus size -- the shape that survives 100 TB. (A token-level
    entropy would have unbounded per-doc distinct counts; that variant
    belongs on the explode + two-shuffle path instead.)"""
    chars = F.filter(F.split(F.lower(F.col("text")), ""), lambda c: c != "")
    n = F.size(chars)
    distinct = F.array_distinct(chars)
    counts = F.transform(distinct, lambda c: F.size(F.filter(chars, lambda x: x == c)))
    # -sum p*log2 p; the +0.0 folds IEEE -0.0 (single-symbol docs) to 0.0
    entropy = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, k: acc + (k.cast("double") / n) * F.log2(k.cast("double") / n),
    ) + F.lit(0.0)
    per_doc = (
        spread(docs, "doc_id")
        # empty/NULL texts have no character distribution: exclude them,
        # matching the oracle's unnest (which emits no rows for them) —
        # n_docs therefore counts docs WITH text
        .filter(F.size(chars) > 0)
        .select(F.col("lang").alias("grp"), entropy.alias("h"))
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("h"), 6).alias("avg_entropy_bits"),
            F.round(F.min("h"), 6).alias("min_entropy_bits"),
            F.round(F.max("h"), 6).alias("max_entropy_bits"),
            F.sum((F.col("h") < 3.0).cast("long")).alias("n_low_entropy"),
        )
        .select(
            F.col("grp").alias("lang"),
            "n_docs",
            "avg_entropy_bits",
            "min_entropy_bits",
            "max_entropy_bits",
            "n_low_entropy",
        )
        .orderBy("lang")
    )


def bm25_topk(docs: DataFrame, queries: list[tuple[str, list[str]]]) -> DataFrame:
    """BM25 retrieval scoring: rank documents for each named query (a
    bag of terms) with the Robertson/Sparck-Jones formula —
    idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * |d|/avgdl)), with
    k1 = 1.2, b = 0.75 and idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).
    Returns the top-5 (query, doc, score) rows per query.

    Scale shape: ONE tokenize+explode pass builds (doc, term, tf) for
    query terms ONLY (the term filter is a broadcast semi-join, so the
    posting-list build prunes at the scan — no full inverted index is
    materialized); document lengths ride the same pass via a size()
    aggregate; df/N/avgdl are tiny broadcast aggregates; scoring is one
    grouped sum per (query, doc), and the final top-5 is a
    WindowGroupLimit, never a global sort."""
    sess = docs.sparkSession
    qt = sess.createDataFrame(
        [(qn, t) for qn, terms in queries for t in set(terms)],
        "query string, term string",  # explicit: empty query sets are legal
    )
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != ""
    )
    toks = (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), words.alias("ws"))
        .cache()
    )
    lens = toks.select(F.col("doc_id"), F.size("ws").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.select(F.col("doc_id"), F.explode("ws").alias("term"))
        .join(F.broadcast(qt.select("term").distinct()), "term", "left_semi")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(df_), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query",
            F.col("doc_id"),
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (1.2 + 1)
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
        .groupBy("query", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query", "doc_id", "score", "rank")
        .orderBy("query", "rank")
    )


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Zipf-law fit over the corpus token-frequency distribution: OLS of
    ln(count) on ln(rank), returning the slope (healthy natural-language
    corpora sit near -1), intercept, and R². A corpus whose slope drifts
    far from -1 — or whose fit degrades — is dominated by boilerplate,
    spam, or machine-generated text; this is the one-row corpus-health
    gauge run alongside per-document quality scores.

    Tokenization is :func:`~avro_sql_spark.functions.text.word_tokens`
    (shared with unigram/bigram logprob, PMI, vocab coverage — one token
    universe, replicated exactly by the DuckDB oracle).

    Scale shape: the token-frequency table is one partial-aggregated
    shuffle over the corpus; everything after runs on the VOCAB table
    (≪ corpus — but itself 10⁸–10⁹ terms at 100 TB, so ranking uses
    :func:`~avro_sql_spark.operators.curation.global_rank`'s two-pass
    range-partition device, never a single-task
    ``row_number().over(Window.orderBy(...))`` of the vocabulary). The
    regression is a single commutative aggregate (regr_slope /
    regr_intercept / regr_r2 are mergeable moment sums). Tied counts
    get distinct ranks via the token tie-break, which leaves the fitted
    line unchanged — equal counts contribute the same y for whichever
    rank permutation — so the result is deterministic. Rounded to
    4 decimals so moment-sum ordering differences across
    engines cannot flip a rounding boundary."""
    from .curation import global_rank

    toks = docs.select(F.explode(T.word_tokens(F.col("text"))).alias("token"))
    freqs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    ranked = global_rank(
        freqs, [F.desc("c"), F.asc("token")], rank_col="rank"
    ).select("c", "rank")
    ln_c, ln_r = F.log("c"), F.log("rank")
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("total_tokens"),
        F.round(F.regr_slope(ln_c, ln_r), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_c, ln_r), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_c, ln_r), 4).alias("r2"),
    )


def skipgram_pairs(docs: DataFrame) -> DataFrame:
    """Skip-gram co-occurrence counts — the (center, context) pair
    statistics a word2vec/GloVe-style embedding trainer consumes: for
    every token at position i, count each token at positions
    (i+1 .. i+2) as a directed context, then keep the top 100 pairs
    globally.

    Shape: tokenize ONCE into an array column, then generate the pairs
    IN-ROW with nested ``transform`` over the array + a length-bounded
    ``slice`` (the same no-self-join pattern as ``copurchase_pairs``) —
    the pair frame is linear in total tokens × 2, never quadratic
    in document length, and there is no join at all.  One shuffle for
    the (w1, w2) count (map-side combined), then TakeOrderedAndProject
    for the global top 100.  Counts are integers, so the result is
    hash-exact across engines."""
    # tokenize-once: the HOF lambdas below must reference a materialized
    # array column, not the split expression itself (no CSE inside
    # lambdas — see dedup._shingles)
    toks = spread(docs, "doc_id").select(
        F.col("doc_id"), T.word_tokens(F.col("text")).alias("w")
    )
    w = F.col("w")
    pairs = F.flatten(
        F.transform(
            w,
            lambda t, i: F.transform(
                F.slice(w, i + F.lit(2), F.lit(2)),
                lambda u: F.struct(t.alias("w1"), u.alias("w2")),
            ),
        )
    )
    return (
        toks.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(100)
    )


def tf_cosine_pairs(docs: DataFrame) -> DataFrame:
    """Sparse shingle-frequency cosine similarity join: document pairs
    whose raw-tf bag-of-3-gram vectors (over shingles with document
    frequency <= max_df = 100) have cosine >= 0.5 — the
    WEIGHTED-vector near-duplicate detector that complements the
    set-overlap family (Jaccard/MinHash/SimHash counts each shingle
    once; this keeps multiplicities, so templated repetition and
    length asymmetry score differently).

    Shape: tokenize ONCE, build word 3-grams in-row
    (``word_ngrams_of`` — no re-split per gram), hash each gram to a
    48-bit md5-derived BIGINT (the dedup family's oracle-replayable
    hash — every downstream shuffle and join carries an 8-byte key
    instead of a multi-word string), explode to (doc, gram_hash, tf);
    grams with df > max_df are dropped BEFORE pair generation, so
    fan-out per gram is bounded by max_df² — the absolute df cap is
    the 100 TB guard (a boilerplate shingle shared by N docs would
    otherwise emit N² candidate rows; high-df shingles carry no
    similarity signal).  Pairs come from per-gram POSTING LISTS (the
    canonical MapReduce similarity join): one term-keyed shuffle
    groups each gram's ≤ max_df postings, and the ordered C(df,2)
    pairs are emitted in-row — no self-join, no second term shuffle.
    The per-doc norm rides along in the posting struct so the pair
    aggregate finishes the cosine with no further joins.  Norms cover
    the SAME capped gram space, so the
    cosine is exact for the filtered vectors.  All products are
    integer (tf × tf) and the only float ops are one sqrt and one
    divide — both correctly rounded in IEEE, so Spark and an ANSI-SQL
    engine agree bit-for-bit before the final rounding.  (48-bit gram
    hashing can conflate shingles at extreme corpus sizes — the same
    accepted trade as the MinHash/Jaccard family.)"""
    from ..functions.text import word_ngrams_of

    gram_hash = F.conv(
        F.substring(F.md5(F.col("g").cast("binary")), 1, 12), 16, 10
    ).cast("long")
    toks = (
        spread(docs, "doc_id")
        .select(F.col("doc_id"), T.word_tokens(F.col("text")).alias("w"))
        .filter(F.size("w") >= 3)
        .select(F.col("doc_id"), F.explode(word_ngrams_of(F.col("w"), 3)).alias("g"))
        .select(F.col("doc_id"), gram_hash.alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df CAP as a broadcast ANTI-join on the HOT-term set, not a
    # count-over-term window: the window forced every posting of a
    # hot gram (df >> max_df) to co-locate in a single window task
    # before the filter discarded them — a skew bottleneck at scale on
    # exactly the stop-word-like grams max_df exists to drop (r8
    # ADVICE). The df aggregate is map-side combined (hot postings
    # shrink to one partial per map task), terms OVER the cap are few
    # by definition (boilerplate), and the anti-join drops their
    # postings map-side before any further shuffle — the
    # ngram_jaccard_pairs hot-set pattern (guide §2.5).
    hot = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 100)
        .select("term")
    )
    w_doc = Window.partitionBy("doc_id")
    tfn = (
        tf.join(F.broadcast(hot), "term", "left_anti")
        # norms cover the SAME capped gram space as before (the cap
        # filter runs first), and sum(tf*tf) over the doc partition is
        # the identical integer either cap form produces; the doc
        # window partition is document-bounded — never hot
        .withColumn(
            "nrm",
            F.sqrt(F.sum(F.col("tf") * F.col("tf")).over(w_doc).cast("double")),
        )
    )
    # posting-list pair generation (the canonical MapReduce similarity
    # join): group each gram's postings — bounded by max_df AFTER the
    # rare prefilter, so the collected array is never hot — sort by doc
    # id in-row, and emit the C(df,2) ordered pairs with a nested
    # transform + slice (no self-join, no second term shuffle)
    post = (
        tfn.groupBy("term")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("doc_id").alias("id"), "tf", "nrm"))
            ).alias("post")
        )
        .select("post")
    )
    p = F.col("post")
    pair_expr = F.flatten(
        F.transform(
            p,
            lambda x, i: F.transform(
                F.slice(p, i + F.lit(2), F.lit(100)),
                lambda y: F.struct(
                    x["id"].alias("doc_a"),
                    y["id"].alias("doc_b"),
                    (x["tf"] * y["tf"]).alias("prod"),
                    x["nrm"].alias("nrm_a"),
                    y["nrm"].alias("nrm_b"),
                ),
            ),
        )
    )
    dots = (
        post.select(F.explode(pair_expr).alias("e"))
        .select("e.*")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum("prod").alias("dot"),
            F.count(F.lit(1)).alias("n_common"),
            F.first("nrm_a").alias("nrm_a"),
            F.first("nrm_b").alias("nrm_b"),
        )
    )
    return (
        dots.select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("dot").cast("double") / (F.col("nrm_a") * F.col("nrm_b")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


def gopher_repetition_signals(docs: DataFrame) -> DataFrame:
    """The multi-n Gopher repetition table (Rae et al. 2021, Table A1)
    as one frame of per-(doc, n) INTEGER signals: ``top_chars`` (chars
    covered by the single most frequent word n-gram = count x gram
    length, the paper's "fraction of characters contained in the most
    frequent n-gram" numerator), ``dup_occ`` (occurrences belonging to
    n-grams seen >= 2 times) and ``total_occ`` — plus ``n_text_chars``
    as the character denominator. Everything stays integral so
    downstream corpus aggregates are EXACT (no float-summation-order
    sensitivity anywhere, unlike ratio-averaging).

    Shape: ONE tokenize + ONE explode for all n values (grams tagged
    with their n in-row), then a (doc, n, gram) count and a (doc, n)
    rollup — both hash-partition on the doc id, so the second shuffle
    reuses the first's locality; the top-gram argmax is a window over
    the (doc, n) key (partitions are document-sized, never global).
    Ties break (count DESC, gram ASC)."""
    from ..functions.text import word_ngrams_of

    ns = [2, 3, 4, 5, 10]  # top-gram signals read n = 2..4, dup-gram n = 5, 10
    base = spread(docs, "doc_id").select(
        F.col("doc_id"),
        F.length(F.col("text")).alias("n_text_chars"),
        F.split(F.lower(F.col("text")), " ").alias("w"),
    )
    def _tag(n: int):
        # NB: the lambda must be unary — a second (defaulted) parameter
        # would make F.transform pass the ARRAY INDEX into it
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    tagged = F.flatten(
        F.array(
            *[F.transform(word_ngrams_of(F.col("w"), n), _tag(n)) for n in ns]
        )
    )
    grams = base.select(
        F.col("doc_id"), "n_text_chars", F.explode(tagged).alias("t")
    ).select(
        F.col("doc_id"), "n_text_chars", F.col("t.n").alias("n"), F.col("t.g").alias("g")
    )
    per_gram = grams.groupBy("doc_id", "n_text_chars", "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("doc_id", "n").orderBy(F.desc("c"), F.asc("g"))
    return (
        per_gram.withColumn("_rk", F.row_number().over(w))
        .groupBy("doc_id", "n_text_chars", "n")
        .agg(
            F.max(
                F.when(F.col("_rk") == 1, F.col("c") * F.length("g"))
            ).alias("top_chars"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))
            ).alias("dup_occ"),
            F.sum("c").alias("total_occ"),
        )
    )


def gopher_repetition_report(docs: DataFrame) -> DataFrame:
    """Per-``source`` Gopher repetition gate: corpus character-mass
    fractions for the top-{2,3,4}-gram signals, occurrence fractions
    for the dup-{5,10}-gram signals, and how many documents fail ANY of
    the paper's thresholds (top2 > 0.20, top3 > 0.18, top4 > 0.16,
    dup5 > 0.15, dup10 > 0.10). Every threshold is evaluated by integer
    CROSS-MULTIPLICATION (e.g. top2 > 0.20 <=> 5*top_chars > chars) and
    every fraction is a single division of two exact integer sums — the
    whole report is bit-deterministic by construction, not by rounding
    discipline."""
    sig = gopher_repetition_signals(docs)

    def pull(n: int, col: str):
        return F.coalesce(
            F.max(F.when(F.col("n") == n, F.col(col))), F.lit(0)
        )

    per_doc = (
        # chars comes from the DOCUMENT side: a doc too short to emit
        # any n-gram has no sig rows, and taking the length from the
        # left-join's null side would zero its denominator (diverging
        # from the oracle, which always uses length(text))
        docs.select(
            F.col("doc_id"),
            F.col("source").alias("grp"),
            F.length(F.col("text")).alias("doc_chars"),
        )
        .join(sig, "doc_id", "left")
        .groupBy("doc_id", "grp")
        .agg(
            F.max("doc_chars").alias("chars"),
            pull(2, "top_chars").alias("t2"),
            pull(3, "top_chars").alias("t3"),
            pull(4, "top_chars").alias("t4"),
            pull(5, "dup_occ").alias("d5"),
            pull(5, "total_occ").alias("tot5"),
            pull(10, "dup_occ").alias("d10"),
            pull(10, "total_occ").alias("tot10"),
        )
    )
    repetitive = (
        (5 * F.col("t2") > F.col("chars"))
        | (50 * F.col("t3") > 9 * F.col("chars"))
        | (25 * F.col("t4") > 4 * F.col("chars"))
        | (20 * F.col("d5") > 3 * F.col("tot5"))
        | (10 * F.col("d10") > F.col("tot10"))
    )

    def frac(num: str, den: str):
        # NULL (not a crash) when a group's denominator sums to zero:
        # under the session's default ANSI mode a bare division raises
        # DIVIDE_BY_ZERO for e.g. a source whose docs are all shorter
        # than 10 tokens (SUM(tot10) = 0); the oracle guards identically
        return F.when(
            F.sum(den) > 0,
            F.round(F.sum(num).cast("double") / F.sum(den).cast("double"), 6),
        )

    return (
        per_doc.groupBy(F.col("grp").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(repetitive.cast("long")).alias("n_repetitive"),
            frac("t2", "chars").alias("top2_char_frac"),
            frac("t3", "chars").alias("top3_char_frac"),
            frac("t4", "chars").alias("top4_char_frac"),
            frac("d5", "tot5").alias("dup5_occ_frac"),
            frac("d10", "tot10").alias("dup10_occ_frac"),
        )
        .orderBy("source")
    )


def heaps_curve(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: stream the corpus in
    ``doc_id`` order, checkpoint after each of 10 buckets, and
    report cumulative token count and cumulative DISTINCT vocabulary —
    the saturation diagnostic that says whether more of the same data
    still buys new vocabulary (the complement of the Zipf rank-frequency
    fit). All exact integers.

    Scale shape: "first time each word appears" is one MIN aggregate
    per word (map-side combined) — the cumulative-distinct problem
    becomes a vocabulary-sized frame, never a corpus-wide running set.
    Doc -> bucket derives ARITHMETICALLY from curation.global_rank's
    exact two-pass range-partitioned rank over the SKINNY doc-id
    projection (no task ever sorts more than one range partition —
    a global NTILE window would drag every doc id through ONE task at
    10^11 docs); the bucket formula reproduces NTILE semantics bit-for-
    bit (first n%b buckets get ceil(n/b) rows, the rest floor(n/b)), so
    the oracle stays DuckDB's one-line ntile(). The final cumulative
    sums run over the 10-row frame."""
    from pyspark.sql.window import Window

    from ..functions.text import word_tokens
    from .curation import global_rank

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(word_tokens(F.col("text"))).alias("word"),
    )
    ids = docs.select(F.col("doc_id").alias("doc"))
    tot = ids.agg(F.count(F.lit(1)).alias("nn"))
    bucket_of = (
        global_rank(ids, [F.col("doc")], rank_col="rk")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc",
            F.expr(
                "CAST(CASE WHEN rk <= (nn % 10) * (nn DIV 10 + 1)"
                " THEN (rk - 1) DIV (nn DIV 10 + 1) + 1"
                " ELSE (nn % 10)"
                "  + (rk - (nn % 10) * (nn DIV 10 + 1) - 1)"
                "    DIV (nn DIV 10) + 1"
                " END AS INT)"
            ).alias("bucket"),
        )
    )
    tagged = toks.join(bucket_of, "doc")
    first_seen = tagged.groupBy("word").agg(F.min("bucket").alias("fb"))
    per_bucket = (
        tagged.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .join(
            first_seen.groupBy(F.col("fb").alias("bucket")).agg(
                F.count(F.lit(1)).alias("n_new")
            ),
            "bucket",
            "left",
        )
        .na.fill({"n_new": 0})
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_bucket.select(
        "bucket",
        F.sum("n_tok").over(w).alias("cum_tokens"),
        F.sum("n_new").over(w).alias("cum_vocab"),
    ).orderBy("bucket")


def source_kl_matrix(docs: DataFrame) -> DataFrame:
    """Pairwise KL divergence between per-source add-1-smoothed unigram
    language models — the domain-similarity matrix behind data-selection
    (Moore & Lewis 2010 score corpora by exactly this cross-entropy
    difference) and mixture design: KL(A‖B) ≈ 0 means B's model already
    covers A, high KL means A brings novel text.

    With P_s(w) = (c_sw + 1)/(n_s + V) over the GLOBAL vocab of size V,
    the full-vocab sum collapses algebraically (ΣP = 1 absorbs every
    absent-word term) to

        KL(A‖B) = ln(n_B+V) − ln(n_A+V) + (E1_A − X_AB − LB_B)/(n_A+V)

    with per-source scalars E1_s = Σ_{w∈s}(c+1)ln(c+1),
    LB_s = Σ_{w∈s}ln(c+1), and the only pairwise piece
    X_AB = Σ_{w∈A∩B} c_Aw·ln(c_Bw+1). X comes from the posting-list
    pattern (the source_overlap / copurchase_pairs shape): group the
    vocab-sized counts table by word ONCE, hold each word's
    (source, count) list — bounded by the source universe — and emit
    the ordered source pairs IN-ROW; no vocab self-join, no sort-merge
    join, no full-vocab × pair materialization. One per-source
    aggregate and a sources²-row assembly finish the job. The oracle
    replays the same decomposition, keeping float-sum magnitudes (and
    thus cross-engine ulp drift) identical."""
    toks = docs.select(
        F.col("source").alias("s"),
        F.explode(T.word_tokens(F.col("text"))).alias("w"),
    )
    counts = toks.groupBy("s", "w").agg(F.count(F.lit(1)).alias("c")).cache()
    v = counts.agg(F.countDistinct("w").alias("v"))
    lc1 = F.log(F.col("c") + F.lit(1.0))
    per = counts.groupBy("s").agg(
        F.sum("c").alias("n"),
        F.sum((F.col("c") + F.lit(1.0)) * lc1).alias("e1"),
        F.sum(lc1).alias("lb"),
    )
    posting = counts.groupBy("w").agg(
        F.collect_list(F.struct("s", "c")).alias("sc")
    )
    m = F.size("sc")

    def _el(k):
        return F.element_at("sc", k)

    pair_terms = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.transform(
                F.sequence(F.lit(1), m),
                lambda j: F.struct(
                    _el(i).getField("s").alias("sa"),
                    _el(j).getField("s").alias("sb"),
                    (
                        _el(i).getField("c")
                        * F.log(_el(j).getField("c") + F.lit(1.0))
                    ).alias("t"),
                ),
            ),
        )
    )
    x = (
        posting.filter(m >= 2)
        .select(F.explode(pair_terms).alias("p"))
        .filter(F.col("p.sa") != F.col("p.sb"))
        .groupBy(F.col("p.sa").alias("sa"), F.col("p.sb").alias("sb"))
        .agg(F.sum("p.t").alias("x"))
    )
    pa = per.select(
        F.col("s").alias("sa"), F.col("n").alias("na"), F.col("e1").alias("e1a")
    )
    pb = per.select(
        F.col("s").alias("sb"), F.col("n").alias("nb"), F.col("lb").alias("lbb")
    )
    grid = (
        pa.crossJoin(pb)
        .filter(F.col("sa") != F.col("sb"))
        .join(x, ["sa", "sb"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "sa",
            "sb",
            "na",
            "nb",
            "e1a",
            "lbb",
            F.coalesce(F.col("x"), F.lit(0.0)).alias("x"),
            F.col("v").cast("double").alias("vd"),
        )
    )
    kl = (
        F.log(F.col("nb") + F.col("vd"))
        - F.log(F.col("na") + F.col("vd"))
        + (F.col("e1a") - F.col("x") - F.col("lbb"))
        / (F.col("na") + F.col("vd"))
    )
    return (
        grid.select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.round(kl, 6).alias("kl_divergence"),
        )
        .orderBy("source_a", "source_b")
    )


def blocklist_report(docs: DataFrame, terms: "list[str]") -> DataFrame:
    """Per-source blocklist screening: exact-token matches against a
    literal term list, counted WITH multiplicity in-row, and a doc is
    quarantined when its hit count exceeds 2 — the
    content-safety gate every corpus pipeline runs before mixing (the
    occurrence threshold, not mere presence, is what keeps a quoted
    mention from nuking a document).

    Scale shape: the blocklist inlines as a literal array into the scan
    (no join, no broadcast table needed at realistic blocklist sizes —
    thousands of terms is a few KB of plan), the hit count is one
    in-row filter+size over the shared tokenizer, and the report is a
    single groupBy bounded by the source universe. For million-term
    blocklists swap the literal for a broadcast semi-join on the
    token — same output contract."""
    lit_terms = F.array(*[F.lit(t) for t in terms])
    hits = F.size(
        F.filter(
            T.word_tokens(F.col("text")),
            lambda w: F.array_contains(lit_terms, w),
        )
    )
    h = docs.select(F.col("source").alias("source"), hits.alias("hits"))
    q = (F.col("hits") > 2).cast("bigint")
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(q).alias("n_quarantined"),
            F.sum("hits").alias("total_hits"),
            F.round(F.sum(q) / F.count(F.lit(1)), 6).alias("quarantine_rate"),
        )
        .orderBy("source")
    )


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Mean segmental type-token ratio (MSTTR, Johnson 1944): split
    each doc's token stream into fixed-size chunks, take distinct/size
    per FULL chunk, average — the lexical-diversity score that, unlike
    raw TTR, does not collapse with document length (long docs always
    repeat more; fixed windows remove the length confound). Template
    spam scores low, natural prose high.

    Entirely IN-ROW (sequence → slice → array_distinct per chunk, one
    ascending fold for the mean) — a narrow map fused into the scan,
    zero shuffles before the final ordering. Docs with fewer than
    25 tokens have no full chunk and are excluded."""
    ws = T.word_tokens(F.col("text"))
    d = spread(docs, "doc_id").select(F.col("doc_id"), ws.alias("ws"))
    n_full = F.floor(F.size("ws") / 25).cast("int")
    ttrs = F.transform(
        F.sequence(F.lit(0), n_full - 1),
        lambda i: F.size(
            F.array_distinct(F.slice("ws", i * 25 + 1, 25))
        ).cast("double")
        / 25,
    )
    msttr = F.aggregate(ttrs, F.lit(0.0), lambda acc, x: acc + x) / n_full
    return (
        d.filter(n_full >= 1)
        .select(
            F.col("doc_id"),
            n_full.alias("n_chunks"),
            F.round(msttr, 6).alias("msttr"),
        )
        .orderBy("doc_id")
    )


def term_burstiness(docs: DataFrame) -> DataFrame:
    """Term burstiness (Church & Gale 1995) of the top 30 terms found in
    at least 10 documents: mean occurrences per CONTAINING document,
    cf/df — near 1 for function words that sprinkle evenly, high for
    topical terms that cluster where they appear. The dispersion
    statistic behind keyword weighting and stopword discovery that raw
    frequency cannot provide.

    One tokenize-explode pass into a (doc, term) count (both shuffles
    key on the term after the first combine), then a vocab-sized
    aggregate: cf = Σ counts, df = row count. Integer inputs, ONE
    division, a 9dp pre-round before ranking (the tfidf_top_terms
    convention) with the term as the total tiebreak."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(T.word_tokens(F.col("text"))).alias("w"),
    )
    per_doc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    stats = per_doc.groupBy("w").agg(
        F.sum("c").alias("cf"), F.count(F.lit(1)).alias("df")
    )
    return (
        stats.filter(F.col("df") >= 10)
        .select(
            F.col("w").alias("term"),
            F.col("cf").cast("bigint").alias("cf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(F.col("cf") / F.col("df"), 9).alias("burstiness"),
        )
        .orderBy(F.desc("burstiness"), F.asc("term"))
        .limit(30)
    )


def log_odds_terms(docs: DataFrame, source_a: str, source_b: str) -> DataFrame:
    """Discriminative terms between two corpora by smoothed log-odds
    z-score (Monroe, Colaresi & Quinn 2008 "Fightin' Words", the
    Dirichlet-prior form with a uniform α): for each term,
    δ = ln((cᴬ+α)/(nᴬ+αV−cᴬ−α)) − ln((cᴮ+α)/(nᴮ+αV−cᴮ−α)), scored by
    z = δ/√(1/(cᴬ+α)+1/(cᴮ+α)) — the statistically-calibrated answer
    to "what words make corpus A sound like A", where raw frequency
    ratios just surface rare noise.

    One tokenize pass filtered to the two sources, vocab-sized counts
    pivoted per side, all-integer inputs to a fixed composition of
    ln/sqrt (identical on both engines), a 9dp pre-round before the
    rank with the term tiebreak. Returns the top 20 by |z| with the
    sign carried (positive ⇒ A-leaning)."""
    toks = docs.filter(
        F.col("source").isin(source_a, source_b)
    ).select(
        F.col("source").alias("s"),
        F.explode(T.word_tokens(F.col("text"))).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.sum((F.col("s") == source_a).cast("long")).alias("ca"),
        F.sum((F.col("s") == source_b).cast("long")).alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    a = F.lit(1.0)
    j = counts.crossJoin(F.broadcast(totals))
    ca, cb = F.col("ca").cast("double"), F.col("cb").cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    v = F.col("v").cast("double")
    delta = F.log((ca + a) / (na + a * v - ca - a)) - F.log(
        (cb + a) / (nb + a * v - cb - a)
    )
    z = delta / F.sqrt(F.lit(1.0) / (ca + a) + F.lit(1.0) / (cb + a))
    return (
        j.select(
            F.col("w").alias("term"),
            F.col("ca").cast("bigint").alias("count_a"),
            F.col("cb").cast("bigint").alias("count_b"),
            F.round(z, 9).alias("log_odds_z"),
        )
        .orderBy(F.desc(F.abs(F.col("log_odds_z"))), F.asc("term"))
        .limit(20)
    )


def heldout_nll(docs: DataFrame) -> DataFrame:
    """Held-out language-model evaluation — the TRAIN/TEST discipline
    the in-corpus scorers (unigram_logprob) skip: an add-1 unigram LM
    fits on the deterministic hash-split train docs only, and the
    report is per-test-doc negative log-likelihood per token, with
    out-of-vocabulary tokens falling to the 1/(n+V+1) smoothing floor
    (the +1 virtual OOV type). The eval-set perplexity a data-quality
    intervention must move, measured without leakage.

    The split reuses the md5 row-lottery (engine-stable, leakage-free
    by construction); the model is the vocab-sized train count table
    broadcast into one test-token join; per-doc aggregation shuffles
    once on the doc id. NLL floats are the usual sub-ulp drift under
    the 6dp round."""
    from .curation import hash_unit

    is_test = hash_unit(F.col("doc_id"), "lmeval") < 0.2
    toks = docs.select(
        F.col("doc_id"), is_test.alias("is_test"),
        F.explode(T.word_tokens(F.col("text"))).alias("w"),
    )
    train = toks.filter(~F.col("is_test"))
    counts = train.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    scal = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    test = toks.filter(F.col("is_test"))
    scored = (
        test.join(F.broadcast(counts), "w", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            F.col("doc_id"),
            (
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(1.0))
                    / (F.col("n") + F.col("v") + F.lit(1.0)).cast("double")
                )
            ).alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("nll_per_token"),
        )
        .orderBy("doc_id")
    )


def good_turing_report(docs: DataFrame) -> DataFrame:
    """Good–Turing unseen-mass estimate over word n-grams (Good 1953;
    the Gale & Sampson 1995 "simple Good–Turing" first step): from the
    frequency-of-frequencies table of word 3-gram counts,
    the probability mass of UNSEEN n-grams is P0 = N1/N — the number
    that says how open-ended the corpus still is (near 0: saturated /
    heavily duplicated; large: keep crawling). One row: vocab size,
    total n-grams, N1..N3, unseen mass, singleton fraction, and the
    smoothed count r*(1) = 2·N2/N1 (what a singleton is really worth).

    Shape: one n-gram explode (RAW multiplicities — not the
    distinct-set shingle view; GT statistics are occurrence counts)
    + two integer aggregations (counts → freq-of-freqs); everything
    after is arithmetic on ≤max-count rows. All-integer inputs make
    every output a closed-form double. The split is projected ONCE and
    grams build on the array (word_ngrams_of) — inlining the split into
    the gram lambda re-splits the text per gram (the 20x trap its
    docstring documents)."""
    from ..functions.text import word_ngrams_of

    grams = docs.select(
        F.split(F.lower(F.col("text")), " ").alias("ws")
    ).select(F.explode(word_ngrams_of(F.col("ws"), 3)).alias("g"))
    freqs = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    fof = freqs.groupBy("c").agg(F.count(F.lit(1)).alias("n_r"))
    nr = lambda r: F.max(F.when(F.col("c") == r, F.col("n_r")))  # noqa: E731
    agg = fof.agg(
        F.sum(F.col("c") * F.col("n_r")).alias("n_total"),
        F.sum("n_r").alias("vocab"),
        F.coalesce(nr(1), F.lit(0)).alias("n1"),
        F.coalesce(nr(2), F.lit(0)).alias("n2"),
        F.coalesce(nr(3), F.lit(0)).alias("n3"),
    )
    return agg.select(
        F.col("vocab").cast("bigint").alias("vocab"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("n3").cast("bigint").alias("n3"),
        F.round(F.col("n1") / F.col("n_total").cast("double"), 6).alias(
            "unseen_mass"
        ),
        F.round(F.col("n1") / F.col("vocab").cast("double"), 6).alias(
            "singleton_frac"
        ),
        F.round(
            F.lit(2.0) * F.col("n2") / F.nullif(F.col("n1"), F.lit(0)).cast("double"),
            6,
        ).alias("r1_star"),
    )


def typo_candidate_pairs(words: DataFrame) -> DataFrame:
    """Edit-distance-1 candidate pairs over a vocabulary by SymSpell's
    deletion neighborhood (Garbe 2012, public domain algorithm): each
    word emits itself plus its |w| single-deletion variants as join
    keys; two words sharing a key are candidates (covers insert /
    delete / substitute at distance 1, plus some distance-2 noise the
    exact ``levenshtein`` filter removes). The standard spell-correct /
    entity-conflation candidate generator.

    Scale shape: keys are linear in vocab × word length and the match
    is ONE equi-join on the key — never an all-pairs distance matrix
    (the classic quadratic trap). The levenshtein verify runs only on
    candidates. Works on a VOCABULARY frame (≪ corpus)."""
    w = F.col("w")
    dels = F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.concat(
            F.substring(w, F.lit(1), i - 1),
            F.substring(w, i + 1, F.length(w)),
        ),
    )
    keys = words.select(
        w.alias("wd"), F.col("c").alias("cnt"),
        F.explode(F.array_union(F.array(w), dels)).alias("k"),
    )
    pairs = (
        keys.alias("a")
        .join(keys.alias("b"), "k")
        .filter(F.col("a.wd") < F.col("b.wd"))
        .select(
            F.col("a.wd").alias("word_a"),
            F.col("b.wd").alias("word_b"),
            F.col("a.cnt").alias("count_a"),
            F.col("b.cnt").alias("count_b"),
        )
        .distinct()
        .filter(F.levenshtein(F.col("word_a"), F.col("word_b")) == 1)
    )
    return pairs.orderBy("word_a", "word_b")


def textrank_keywords(docs: DataFrame) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): a word
    co-occurrence graph (undirected, weight = co-occurrence count
    within 2 positions) scored by weighted PageRank —
    ``tr(w) = (1-d) + d·Σ_v w(v,w)/wdeg(v)·tr(v)`` from 1.0, fixed
    10 iterations — then the top 20 words by score. The classic
    unsupervised keyword/keyphrase starter.

    Shape: pair generation is IN-ROW over the tokenized array (the
    skipgram device — linear in tokens × window, no self-join); the
    graph lives on the VOCAB frame (≪ corpus), edges+coefficients
    localCheckpoint once, and each round is one broadcast join + one
    vocab-sized aggregate. Fixed rounds make the result a closed-form
    expression a bounded recursive CTE replays; scores round at 6dp
    (per-node sums are ≤vocab float terms — the pagerank-proven
    class)."""
    from ..functions.text import word_tokens

    toks = docs.select(word_tokens(F.col("text")).alias("w"))
    m = F.size("w")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m - 1, F.lit(0))),
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + 2, m)),
                lambda j: F.struct(
                    F.least(F.element_at("w", i), F.element_at("w", j)).alias("a"),
                    F.greatest(F.element_at("w", i), F.element_at("w", j)).alias("b"),
                ),
            ),
        )
    )
    und = (
        toks.filter(m >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    # symmetrize in ONE pass over the co-occurrence aggregate (the
    # connected_components device): the former two-branch union re-ran
    # the aggregate tail once per direction in both edge consumers
    edges = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a").alias("src"), F.col("b").alias("dst"), F.col("wt")
                ),
                F.struct(
                    F.col("b").alias("src"), F.col("a").alias("dst"), F.col("wt")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.wt")
    wdeg = edges.groupBy("src").agg(F.sum("wt").alias("wd"))
    coef = (
        edges.join(wdeg, "src")
        .select(
            "src", "dst",
            (F.col("wt").cast("double") / F.col("wd").cast("double")).alias("cf"),
        )
        .localCheckpoint(eager=True)  # vocab^2-bounded; consumed per round
    )
    nodes = coef.select(F.col("src").alias("word")).distinct().localCheckpoint(
        eager=True
    )
    ranks = nodes.select("word", F.lit(1.0).alias("tr"))
    for i in range(10):
        contribs = (
            coef.join(
                F.broadcast(ranks.withColumnRenamed("word", "src")), "src"
            )
            .select("dst", (F.col("cf") * F.col("tr")).alias("m"))
            .groupBy(F.col("dst").alias("word"))
            .agg(F.sum("m").alias("s"))
        )
        ranks = nodes.join(contribs, "word", "left").select(
            "word",
            (
                F.lit(1.0 - 0.85)
                + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("tr"),
        )
        if (i + 1) < 10:
            # lazy: each round's ranks has ONE consumer (next round's
            # broadcast), so the 10-round chain folds into the final
            # action — one job instead of one construction job per
            # round (pagerank's no-dangling-pass rationale)
            ranks = ranks.localCheckpoint(eager=False)
    return (
        ranks.select("word", F.round("tr", 6).alias("textrank"))
        .orderBy(F.desc("textrank"), F.asc("word"))
        .limit(20)
    )


def entropy_rate_bigram(docs: DataFrame) -> DataFrame:
    """Per-source bigram entropy rate H(w₂|w₁) and its perplexity —
    the text-complexity number LM curricula sort by (low entropy rate:
    templated/boilerplate text; high: diverse prose), computed from
    the maximum-likelihood bigram model: H = −Σ p(w₁,w₂)·ln p(w₂|w₁)
    = −(1/N)·Σ c₁₂·ln(c₁₂/c₁).

    Shape: bigrams build IN-ROW (the pmi_collocations device), the
    context totals c₁ come from regrouping the bigram counts (NOT the
    unigram table — the last token of each doc has no successor), and
    each summand c₁₂·ln(c₁₂/c₁) quantizes at 9dp into DECIMAL(38,9)
    so the vocab-sized sum is order-free; the only unquantized float
    ops are the final division and exp, single IEEE ops the oracle
    replays."""
    tk = T.word_tokens(F.col("text"))
    base = docs.select(F.col("source").alias("s"), tk.alias("tk")).filter(
        F.size("tk") >= 2
    )
    pairs = base.select(
        "s",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("tk"), i).alias("wa"),
                    F.element_at(F.col("tk"), i + 1).alias("wb"),
                ),
            )
        ).alias("p"),
    ).select("s", F.col("p.wa").alias("wa"), F.col("p.wb").alias("wb"))
    big = pairs.groupBy("s", "wa", "wb").agg(F.count(F.lit(1)).alias("c12"))
    ctx = big.groupBy("s", "wa").agg(F.sum("c12").alias("c1"))
    term = F.round(
        F.col("c12")
        * F.log(F.col("c12").cast("double") / F.col("c1").cast("double")),
        9,
    ).cast("decimal(38,9)")
    per = (
        big.join(ctx, ["s", "wa"])
        .select("s", F.col("c12"), term.alias("t"))
        .groupBy("s")
        .agg(
            F.sum("c12").alias("n"),
            F.sum("t").alias("ssum"),
        )
    )
    ctxn = ctx.groupBy("s").agg(F.count(F.lit(1)).alias("n_contexts"))
    h = -(F.col("ssum").cast("double") / F.col("n").cast("double"))
    return (
        per.join(ctxn, "s")
        .select(
            F.col("s").alias("source"),
            F.col("n").cast("long").alias("n_bigrams"),
            F.col("n_contexts").cast("long").alias("n_contexts"),
            (F.round(h, 6) + F.lit(0.0)).alias("entropy_rate_nats"),
            F.round(F.exp(h), 6).alias("perplexity"),
        )
        .orderBy("source")
    )


def burrows_delta(docs: DataFrame) -> DataFrame:
    """Burrows' Delta (Burrows 2002) stylometric distance between all
    source pairs — the classic authorship-attribution measure: z-score
    each source's relative frequency of the corpus' top 30 function words
    against the cross-source distribution, then Delta = mean |z_a−z_b|.
    Low Delta says two crawls share register/boilerplate even when
    their vocabularies differ — a mixing signal KL misses because
    Delta looks only at the high-frequency head.

    Shape: the top-term selection is a map-side top-k (orderBy+limit =
    TakeOrdered, no full vocab sort), everything after lives on the
    bounded 30-terms × sources grid. Relative frequencies quantize at
    9dp, squared deviations at 12dp, |z_a−z_b| at 9dp — every
    cross-row sum is an order-free DECIMAL; μ, σ, z are single-op
    scalar chains the oracle replays."""
    toks = docs.select(
        F.col("source").alias("s"),
        F.explode(T.word_tokens(F.col("text"))).alias("w"),
    )
    # counts fans out into three consumers (source totals, the top-k
    # selection, and the grid join) — pin ONE materialization so the
    # corpus tokenize+shuffle runs once, not per consumer
    counts = (
        toks.groupBy("s", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    ns = counts.groupBy("s").agg(F.sum("c").alias("n"))
    top = (
        counts.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), F.asc("w"))
        .limit(30)
        .select("w")
    )
    grid = (
        ns.crossJoin(F.broadcast(top))
        .join(counts, ["s", "w"], "left")
        .na.fill({"c": 0})
        .select(
            "s",
            "w",
            F.round(
                F.col("c").cast("double") / F.col("n").cast("double"), 9
            )
            .cast("decimal(38,9)")
            .alias("f"),
        )
    )
    k1 = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("k"), F.sum("f").alias("sf")
    )
    withm = grid.join(F.broadcast(k1), "w").select(
        "s",
        "w",
        "f",
        (F.col("sf").cast("double") / F.col("k").cast("double")).alias("m"),
        "k",
    )
    d2 = F.round(
        (F.col("f").cast("double") - F.col("m"))
        * (F.col("f").cast("double") - F.col("m")),
        12,
    ).cast("decimal(38,12)")
    sig = withm.groupBy("w", "m", "k").agg(F.sum(d2).alias("sd2"))
    sigma = F.sqrt(
        F.col("sd2").cast("double") / (F.col("k").cast("double") - F.lit(1.0))
    )
    z = (
        withm.join(
            F.broadcast(sig.select("w", sigma.alias("sg"))), "w"
        )
        .select(
            "s",
            "w",
            (
                (F.col("f").cast("double") - F.col("m"))
                / F.nullif(F.col("sg"), F.lit(0.0))
            ).alias("z"),
        )
        # top_terms x sources rows; the pair join consumes it twice
        .localCheckpoint(eager=True)
    )
    za = z.select(F.col("s").alias("source_a"), "w", F.col("z").alias("za"))
    zb = z.select(F.col("s").alias("source_b"), "w", F.col("z").alias("zb"))
    pair_term = F.round(F.abs(F.col("za") - F.col("zb")), 9).cast(
        "decimal(38,9)"
    )
    return (
        za.join(F.broadcast(zb), "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(pair_term).alias("sab"), F.count(F.lit(1)).alias("kt"))
        .select(
            "source_a",
            "source_b",
            F.round(
                F.col("sab").cast("double") / F.col("kt").cast("double"), 6
            ).alias("delta"),
        )
        .orderBy("source_a", "source_b")
    )


def script_profile(docs: DataFrame) -> DataFrame:
    """Per-source Unicode-script composition: the fraction of
    characters that are Latin letters, digits, whitespace, CJK
    ideographs, or other — the first-pass corpus audit that catches a
    "Chinese" crawl that is 80% Latin boilerplate or an English one
    stuffed with digit tables, before any language-ID model runs.

    Counting is subtraction of regexp-stripped lengths (chars minus
    chars-after-removing-class) — one scan, no tokenization, integer
    per-class counts summed exactly; the five fractions are single
    divisions. The oracle replays the same character classes (RE2 and
    Java regex agree on literal BMP ranges)."""
    t = F.col("text")
    ln = F.length(t)

    def cnt(pattern: str) -> Column:
        return ln - F.length(F.regexp_replace(t, pattern, ""))

    per_doc = docs.select(
        F.col("source").alias("s"),
        ln.alias("total"),
        cnt("[a-zA-Z]").alias("latin"),
        cnt("[0-9]").alias("digit"),
        cnt(r"\s").alias("space"),
        cnt("[一-鿿]").alias("cjk"),
    )
    agg = per_doc.groupBy("s").agg(
        F.sum("total").alias("total"),
        F.sum("latin").alias("latin"),
        F.sum("digit").alias("digit"),
        F.sum("space").alias("space"),
        F.sum("cjk").alias("cjk"),
    )
    tot = F.col("total").cast("double")

    def frac(c: str) -> Column:
        return F.round(F.col(c).cast("double") / tot, 6)

    return agg.select(
        F.col("s").alias("source"),
        F.col("total").cast("long").alias("n_chars"),
        frac("latin").alias("latin_frac"),
        frac("digit").alias("digit_frac"),
        frac("space").alias("space_frac"),
        frac("cjk").alias("cjk_frac"),
        F.round(
            (
                F.col("total")
                - F.col("latin")
                - F.col("digit")
                - F.col("space")
                - F.col("cjk")
            ).cast("double")
            / tot,
            6,
        ).alias("other_frac"),
    ).orderBy("source")


def posting_list_histogram(docs: DataFrame) -> DataFrame:
    """Document-frequency histogram of the inverted index in power-of-
    two buckets — the search-engine capacity table: how many terms are
    hapax noise (bucket 1), how many live in the skippable mid-range,
    and how heavy the stopword head is (the last buckets dominate
    posting storage and WAND upper bounds).

    Bucket = bit-length of df (``length(bin(df))`` — exact integer
    arithmetic, immune to the float log2 boundary problem at exact
    powers of two). One tokenize + distinct pass, one vocab aggregate,
    one buckets-sized regroup; everything integer."""
    df_counts = (
        docs.select(
            F.col("doc_id").alias("d"),
            F.explode(T.word_tokens(F.col("text"))).alias("w"),
        )
        .distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    bucket = F.length(F.expr("bin(df)"))
    return (
        df_counts.select(bucket.alias("bucket"), "df")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("total_postings"),
            F.max("df").alias("max_df"),
        )
        .select(
            F.col("bucket").cast("long").alias("df_bits"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("total_postings").cast("long").alias("total_postings"),
            F.col("max_df").cast("long").alias("max_df"),
        )
        .orderBy("df_bits")
    )


def vocab_gini(docs: DataFrame) -> DataFrame:
    """Gini coefficient of the term-frequency distribution — the
    one-number head-heaviness of the vocabulary (0: every term equally
    common; →1: a few stopwords carry all the mass), the companion
    summary to the Zipf slope and the df histogram.

    Exactness: term counts rank by (count, term) through the
    scale-safe ``global_rank`` device (no single-task vocab sort);
    Gini = (2·Σ i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending ranks i is
    exact integer arithmetic in DECIMAL(38,0) with one final
    division pair."""
    from ..operators.curation import global_rank

    counts = (
        docs.select(F.explode(T.word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = global_rank(
        counts, [F.col("c"), F.col("w")], rank_col="i", total_col="nv"
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    s = ranked.agg(
        F.max("nv").alias("n"),
        F.sum(dec(F.col("c"))).alias("sx"),
        F.sum(dec(F.col("i")) * dec(F.col("c"))).alias("six"),
    )
    n = F.col("n").cast("decimal(38,0)")
    gini = (
        (F.lit(2) * F.col("six")).cast("double")
        / (n * F.col("sx")).cast("double")
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.col("sx").cast("long").alias("total_tokens"),
        (F.round(gini, 6) + F.lit(0.0)).alias("vocab_gini"),
    )


def chao1_richness(docs: DataFrame) -> DataFrame:
    """Chao1 nonparametric vocabulary-richness estimate per source
    (Chao 1984; the bias-corrected form in Colwell & Coddington 1994):
    from the frequency-of-frequencies of word counts, the number of
    word types the corpus HASN'T shown yet is estimated from the
    singletons/doubletons ratio — chao1 = V + f1(f1-1)/(2(f2+1)) —
    alongside the Good-Turing sample coverage 1 - f1/N. The pair
    answers the crawl-planning question "how much of this source's
    vocabulary have we actually seen?" (coverage near 1 + chao1 near V:
    saturated; large chao1 gap: keep crawling). Complements
    :func:`good_turing_report`, which estimates unseen probability
    MASS; chao1 estimates unseen TYPE COUNT.

    Exactness: every input to the two output ratios is an exact
    integer (f1, f2 fit long; the f1(f1-1) product is computed in
    DECIMAL(38,0) so the estimate stays exact past int64 vocabularies);
    the single division each is the only float op, written identically
    in the oracle. Scale shape: one token explode + two integer
    aggregations (the word-count -> freq-of-freq reduction), both
    map-side combined; the output frame is sources-sized."""
    from ..functions.text import word_tokens

    toks = docs.select(
        F.col("source").alias("s"),
        F.explode(word_tokens(F.col("text"))).alias("w"),
    )
    counts = toks.groupBy("s", "w").agg(F.count(F.lit(1)).alias("c"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    per = counts.groupBy("s").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, F.lit(1)).otherwise(F.lit(0))).alias(
            "f1"
        ),
        F.sum(F.when(F.col("c") == 2, F.lit(1)).otherwise(F.lit(0))).alias(
            "f2"
        ),
    )
    chao1 = F.col("vocab").cast("double") + (
        (dec(F.col("f1")) * dec(F.col("f1") - F.lit(1))).cast("double")
        / (F.lit(2.0) * (F.col("f2") + F.lit(1)).cast("double"))
    )
    coverage = F.lit(1.0) - (
        F.col("f1").cast("double") / F.col("n_tokens").cast("double")
    )
    return per.select(
        F.col("s").alias("source"),
        F.col("vocab").cast("long").alias("vocab_size"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        (F.round(chao1, 6) + F.lit(0.0)).alias("chao1_estimate"),
        (F.round(coverage, 6) + F.lit(0.0)).alias("coverage"),
    ).orderBy("source")


def length_lognormal_fit(docs: DataFrame) -> DataFrame:
    """Method-of-moments lognormal fit of the document-length
    distribution per source — the standard length model for natural
    text corpora (Mitzenmacher 2004 survey): report mu/sigma of
    ln(length), the implied median exp(mu) and mean exp(mu+sigma^2/2),
    and flag sources whose implied mean wildly exceeds the observed
    one (a heavy-tail / contamination smell the plain mean hides).

    Exactness: each ln(length) quantizes to the INTEGER round(ln*1e9)
    (the jackknife device — a DECIMAL(38,9) square would overflow
    precision 38 and diverge between engines), so the moment sums are
    exact DECIMAL(38,0); the final exp/division float ops are written
    identically in the oracle. Scale shape: one map-side-combined
    aggregate per source."""
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    ti = F.round(
        F.log(F.col("n_chars").cast("double")) * F.lit(1000000000.0), 0
    ).cast("long")
    per = (
        docs.filter(F.col("n_chars") > 0)
        .select(F.col("source").alias("s"), ti.alias("ti"), F.col("n_chars"))
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("ti"))).alias("st"),
            F.sum(dec(F.col("ti")) * dec(F.col("ti"))).alias("stt"),
            F.sum(dec(F.col("n_chars"))).alias("sl"),
        )
        # a singleton source makes the sample variance 0/0 (NaN with
        # engine-specific bits); the fit needs n >= 2 (mirrored HAVING)
        .filter(F.col("n") > 1)
    )
    n = F.col("n").cast("double")
    mu = F.col("st").cast("double") / n / F.lit(1000000000.0)
    var = (
        (dec(F.col("n")) * F.col("stt") - F.col("st") * F.col("st")).cast(
            "double"
        )
        / (n * (n - F.lit(1.0)))
        / F.lit(1e18)
    )
    mean_obs = F.col("sl").cast("double") / n
    mean_est = F.exp(mu + var / F.lit(2.0))
    return per.select(
        F.col("s").alias("source"),
        F.col("n").cast("long").alias("n_docs"),
        (F.round(mu, 6) + F.lit(0.0)).alias("mu_log"),
        (F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6) + F.lit(0.0)).alias(
            "sigma_log"
        ),
        (F.round(F.exp(mu), 6) + F.lit(0.0)).alias("median_est"),
        (F.round(mean_est, 6) + F.lit(0.0)).alias("mean_est"),
        (F.round(mean_obs, 6) + F.lit(0.0)).alias("mean_observed"),
        (mean_est > F.lit(1.5) * mean_obs).alias("heavy_tail_flag"),
    ).orderBy("source")


def hoeffding_adequacy_report(docs: DataFrame) -> DataFrame:
    """Per-source sample-size adequacy via the Hoeffding bound
    (Hoeffding 1963): the quality score lives in [0,1], so with n docs
    the 95% half-width on its mean is eps = sqrt(ln(2/0.05) / (2n))
    regardless of the distribution — the distribution-free answer to
    "is this source's sample big enough to trust its quality mean to
    +/-2 points?". Reports n, the mean, eps, and the adequacy verdict
    per source.

    Exactness: quality quantizes at 6 dp into DECIMAL(38,6) sums;
    ln(2/0.05) = ln 40 is a shared double literal (3.6888794541139363)
    so both engines evaluate the same sqrt/division tree. Scale shape:
    one per-source aggregate (map-side combined), sources-sized
    output."""
    from ..functions.text import quality_score

    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.round(quality_score(F.col("text")), 6) + F.lit(0.0)).cast(
                "decimal(38,6)"
            )
        ).alias("sq"),
    )
    n = F.col("n").cast("double")
    eps = F.sqrt(F.lit(3.6888794541139363) / (F.lit(2.0) * n))
    return per.select(
        F.col("source"),
        F.col("n").cast("long").alias("n_docs"),
        (F.round(F.col("sq").cast("double") / n, 6) + F.lit(0.0)).alias(
            "mean_quality"
        ),
        (F.round(eps, 6) + F.lit(0.0)).alias("epsilon95"),
        (eps <= F.lit(0.02)).alias("adequate"),
    ).orderBy("source")


def mcnemar_gate_compare(docs: DataFrame) -> DataFrame:
    """McNemar's paired test (McNemar 1947, continuity-corrected)
    between the full Gopher gate and the cheap 3-component heuristic
    (q3 >= 2) on the SAME documents — the right test for "do the two
    gates disagree systematically, or just randomly?" because paired
    verdicts make the independent two-sample test invalid; only the
    discordant cells carry information: chi2 = (|b - c| - 1)^2 /
    (b + c), b = gopher-only passes, c = heuristic-only passes.

    Exactness: both gates and all four cells are integer counts off
    ONE projection of the shared Gopher signal columns (the
    scan-once device from quality_calibration); the final chi2 and its
    Bowling-approximation p are the only float ops, identical both
    engines. Scale shape: one scan, one global aggregate row."""
    from ..functions.text import (
        gopher_pass_of,
        gopher_signal_columns,
        punct_ratio,
    )

    text = F.col("text")
    sig = gopher_signal_columns(text)
    projected = docs.select(
        *(c.alias(k) for k, c in sig.items()),
        punct_ratio(text).alias("punct"),
    )
    n_ws = F.col("n_ws")
    stop_ratio = F.col("stop_hits") / F.nullif(n_ws, F.lit(0))
    q3 = (
        F.when((n_ws >= 5) & (n_ws <= 100000), 1).otherwise(0)
        + F.when(F.col("punct") <= 0.2, 1).otherwise(0)
        + F.when(stop_ratio.cast("double") >= 0.05, 1).otherwise(0)
    )
    a = gopher_pass_of(
        n_ws,
        F.col("stop_hits"),
        F.col("mean_word_len"),
        F.col("symbol_ratio"),
        F.col("alpha_frac"),
    )
    flags = projected.select(
        F.when(a, 1).otherwise(0).alias("ga"),
        F.when(q3 >= 2, 1).otherwise(0).alias("hb"),
    )
    s = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("hb") == 1), 1).otherwise(0)
        ).alias("both_pass"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("hb") == 0), 1).otherwise(0)
        ).alias("only_gopher"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("hb") == 1), 1).otherwise(0)
        ).alias("only_heuristic"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("hb") == 0), 1).otherwise(0)
        ).alias("neither"),
    )
    b, c = F.col("only_gopher"), F.col("only_heuristic")
    # standard continuity clamp: |b-c| <= 1 means zero evidence, not
    # a spurious 1/(b+c) statistic
    diff = F.greatest(
        F.abs(b - c).cast("double") - F.lit(1.0), F.lit(0.0)
    )
    chi2 = (diff * diff) / F.nullif((b + c).cast("double"), F.lit(0.0))
    z = F.sqrt(chi2)
    phi = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(-(F.lit(0.07056) * z * z * z + F.lit(1.5976) * z))
    )
    return s.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("both_pass").cast("long").alias("both_pass"),
        F.col("only_gopher").cast("long").alias("only_gopher"),
        F.col("only_heuristic").cast("long").alias("only_heuristic"),
        F.col("neither").cast("long").alias("neither"),
        (F.round(chi2, 6) + F.lit(0.0)).alias("mcnemar_chi2"),
        (
            F.round(F.lit(2.0) * (F.lit(1.0) - phi), 9) + F.lit(0.0)
        ).alias("p_value"),
    )


def template_prefix_report(docs: DataFrame) -> DataFrame:
    """Boilerplate / template detection by normalized prefix: two or
    more documents opening with the same first 24 characters
    (lowercased, trimmed, whitespace-collapsed) are template candidates
    — the cheap high-precision screen crawl pipelines run BEFORE fuzzy
    dedup, because license headers / cookie banners / scraped nav bars
    share exact prefixes long before they share shingles. Top templates
    by document count, with the source spread (a template spanning many
    sources is infrastructure boilerplate, not an author's style).

    Exactness: string normalization is the fingerprint device
    (identical regex both engines; DuckDB side uses the 'g' flag);
    counts are integers, the share is one rounded division. Scale
    shape: hash groupBy on the prefix (map-side combined) — never
    pairwise; the top-k rank runs on the filtered template frame."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    pre = docs.select(
        F.substring(norm, 1, 24).alias("prefix"), "source"
    )
    groups = (
        pre.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .localCheckpoint(eager=True)  # templates-sized, forked below
    )
    tot = docs.agg(F.count(F.lit(1)).alias("total"))
    ranked = groups.crossJoin(F.broadcast(tot)).select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("n_docs"), F.asc("prefix")))
        .alias("rk"),
    ).filter(F.col("rk") <= 10)
    return ranked.select(
        F.col("rk").cast("long").alias("rank"),
        "prefix",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        (
            F.round(
                F.col("n_docs").cast("double")
                / F.col("total").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("corpus_share"),
    ).orderBy("rank")


def robust_zscore_docs(docs: DataFrame) -> DataFrame:
    """Per-source robust length-outlier report via median absolute
    deviation: modified z = 0.6745 (len - median) / MAD on n_chars —
    the length-anomaly screen that survives the heavy tails mean/sigma
    z-scores drown in (one 10 MB doc inflates sigma and masks every
    other outlier). Both medians are EXACT order statistics read from
    cumulative counts over the per-source length DOMAIN (the
    twopass_median device, partitioned by source) — no sort of data
    rows, no percentile approximation.

    Scale shape: two (source, value)-domain aggregates + cumulative
    windows PARTITIONED BY SOURCE (bounded by the per-source distinct-
    length domain, shuffled on source — no global window), one
    per-source verdict aggregate."""

    def per_source_median(df: DataFrame, col: str, out: str) -> DataFrame:
        dom = df.groupBy("source", col).agg(F.count(F.lit(1)).alias("k"))
        wd = (
            Window.partitionBy("source")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wt = Window.partitionBy("source")
        cum = dom.select(
            "source",
            F.col(col).alias("v"),
            F.sum("k").over(wd).alias("cum"),
            F.sum("k").over(wt).alias("nd"),
        )
        return cum.groupBy("source").agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("nd") / 2), F.col("v")
                )
            ).alias(out)
        )
    lens = docs.select("source", F.col("n_chars").alias("len"))
    med = per_source_median(lens, "len", "med")
    dev = lens.join(med, "source").select(
        "source", "len", "med", F.abs(F.col("len") - F.col("med")).alias("ad")
    )
    mad = per_source_median(dev, "ad", "mad")
    z = (
        F.lit(0.6745)
        * (F.col("len") - F.col("med")).cast("double")
        / F.nullif(F.col("mad").cast("double"), F.lit(0.0))
    )
    scored = dev.join(mad, "source").select("source", "len", "med", "mad", z.alias("z"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("med").cast("long").alias("median_len"),
            F.max("mad").cast("long").alias("mad_len"),
            F.sum(
                F.when(F.abs(F.col("z")) > F.lit(3.5), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            (F.round(F.max(F.abs(F.col("z"))), 6) + F.lit(0.0)).alias(
                "max_abs_z"
            ),
        )
        .orderBy("source")
    )


def quality_gate_pareto(docs: DataFrame) -> DataFrame:
    """Knock-out analysis of the five Gopher gate constraints: per
    constraint, how many documents fail it, how many fail ONLY it
    (the docs that one constraint alone removes), and the pass rate
    the corpus would have if that constraint were dropped — the
    filter-tuning Pareto view that says which knob actually moves
    yield. All five verdicts come from ONE projection of the shared
    signal columns (the scan-once device), so the whole report is one
    scan + one aggregate row, unpivoted to a row per constraint.

    Exactness: integer counts; two rounded divisions per row."""
    from ..functions.text import gopher_signal_columns

    sig = gopher_signal_columns(F.col("text"))
    p = docs.select(*(c.alias(k) for k, c in sig.items()))
    fails = {
        "token_count": ~((F.col("n_ws") >= 30) & (F.col("n_ws") <= 100000)),
        "mean_word_len": ~(
            (F.col("mean_word_len") >= 3.0)
            & (F.col("mean_word_len") <= 10.0)
        ),
        "symbol_ratio": ~(F.col("symbol_ratio") <= 0.05),
        "alpha_fraction": ~(F.col("alpha_frac") >= 0.8),
        "stopword_hits": ~(F.col("stop_hits") >= 1),
    }
    # NULL-signal rows (empty text) fail every constraint: ~NULL is
    # NULL, so wrap in coalesce(cond, true)
    f = {k: F.coalesce(v, F.lit(True)) for k, v in fails.items()}
    n_fail_all = sum(
        F.when(c, 1).otherwise(0) for c in f.values()
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, cond in f.items():
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"fail_{name}")
        )
        aggs.append(
            F.sum(
                F.when(cond & (n_fail_all == 1), 1).otherwise(0)
            ).alias(f"only_{name}")
        )
        aggs.append(
            F.sum(
                F.when(n_fail_all - F.when(cond, 1).otherwise(0) == 0, 1)
                .otherwise(0)
            ).alias(f"passdrop_{name}")
        )
    s = docs.sparkSession.createDataFrame(
        [(k,) for k in f], "gate_constraint string"
    )
    one = p.agg(*aggs)
    wide = F.broadcast(one).crossJoin(s)
    pick = lambda pre: F.coalesce(  # noqa: E731
        *[
            F.when(F.col("gate_constraint") == name, F.col(f"{pre}_{name}"))
            for name in f
        ]
    )
    return wide.select(
        "gate_constraint",
        F.col("n_docs").cast("long").alias("n_docs"),
        pick("fail").cast("long").alias("n_fail"),
        pick("only").cast("long").alias("n_fail_only"),
        (
            F.round(
                pick("passdrop").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("pass_rate_if_dropped"),
    ).orderBy("gate_constraint")


def cohens_kappa_gates(docs: DataFrame) -> DataFrame:
    """Cohen's kappa agreement (Cohen 1960) between the full Gopher
    gate and the cheap q3 heuristic — the chance-corrected companion
    to :func:`mcnemar_gate_compare`: McNemar asks "do they disagree
    SYSTEMATICALLY", kappa asks "how much better than coin-flipping is
    their agreement" (kappa = (p_o - p_e)/(1 - p_e)); a gate pair can
    pass McNemar yet have near-zero kappa on an imbalanced corpus.

    Exactness: the same four integer cells as mcnemar (one shared-
    signal projection, one aggregate row); the marginal products and
    the final ratio are the only float ops."""
    from ..functions.text import (
        gopher_pass_of,
        gopher_signal_columns,
        punct_ratio,
    )

    text = F.col("text")
    sig = gopher_signal_columns(text)
    projected = docs.select(
        *(c.alias(k) for k, c in sig.items()),
        punct_ratio(text).alias("punct"),
    )
    n_ws = F.col("n_ws")
    stop_ratio = F.col("stop_hits") / F.nullif(n_ws, F.lit(0))
    q3 = (
        F.when((n_ws >= 5) & (n_ws <= 100000), 1).otherwise(0)
        + F.when(F.col("punct") <= 0.2, 1).otherwise(0)
        + F.when(stop_ratio.cast("double") >= 0.05, 1).otherwise(0)
    )
    a = gopher_pass_of(
        n_ws,
        F.col("stop_hits"),
        F.col("mean_word_len"),
        F.col("symbol_ratio"),
        F.col("alpha_frac"),
    )
    flags = projected.select(
        F.when(a, 1).otherwise(0).alias("ga"),
        F.when(q3 >= 2, 1).otherwise(0).alias("hb"),
    )
    s = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("hb") == 1), 1).otherwise(0)
        ).alias("bb"),
        F.sum(
            F.when((F.col("ga") == 1) & (F.col("hb") == 0), 1).otherwise(0)
        ).alias("og"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("hb") == 1), 1).otherwise(0)
        ).alias("oh"),
        F.sum(
            F.when((F.col("ga") == 0) & (F.col("hb") == 0), 1).otherwise(0)
        ).alias("nn"),
    )
    n = F.col("n").cast("double")
    po = (F.col("bb") + F.col("nn")).cast("double") / n
    pa = (F.col("bb") + F.col("og")).cast("double") / n
    pb = (F.col("bb") + F.col("oh")).cast("double") / n
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    kappa = (po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        (F.round(po, 6) + F.lit(0.0)).alias("p_observed"),
        (F.round(pe, 6) + F.lit(0.0)).alias("p_expected"),
        (F.round(kappa, 6) + F.lit(0.0)).alias("kappa"),
    )


def g2_keyness_terms(docs: DataFrame) -> DataFrame:
    """Dunning log-likelihood keyness (Dunning 1993 G^2) of vocabulary
    terms between the ``src1`` source family and the rest of
    the corpus — corpus linguistics' standard "what words characterize
    this subcorpus" test, more robust at low counts than the
    chi-square and complementary to log_odds_terms' Bayesian-smoothed
    z: G^2 = 2 (a ln(a/E_a) + b ln(b/E_b)) with expected counts from
    the pooled margin; the sign is carried by the direction of the
    rate comparison (positive = family-leaning, decided by the EXACT
    integer cross-product a*N_b > b*N_a).

    Terms with an empty cell or pooled count below 20 are
    excluded (0 ln 0 handling and rare-noise cap, mirrored in the
    oracle). One tokenize pass, integer cells, fixed ln composition,
    9 dp pre-round + term tiebreak into a distributed TakeOrdered —
    the log_odds_terms scale shape."""
    toks = docs.select(
        F.col("source").startswith("src1").alias("fam"),
        F.explode(T.word_tokens(F.col("text"))).alias("w"),
    )
    counts = toks.groupBy("w").agg(
        F.sum(F.col("fam").cast("long")).alias("a"),
        F.sum((~F.col("fam")).cast("long")).alias("b"),
    )
    totals = counts.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    j = (
        counts.filter(
            (F.col("a") > 0)
            & (F.col("b") > 0)
            & ((F.col("a") + F.col("b")) >= 20)
        )
        .crossJoin(F.broadcast(totals))
    )
    a, b = F.col("a").cast("double"), F.col("b").cast("double")
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ea = na * (a + b) / (na + nb)
    eb = nb * (a + b) / (na + nb)
    g2 = F.lit(2.0) * (a * F.log(a / ea) + b * F.log(b / eb))
    # sign via DECIMAL(38,0) cross-products: raw BIGINT a*nb can
    # exceed int64 at corpus scale, where Spark (non-ANSI) wraps
    # silently while the oracle would raise — the cochran_armitage
    # dec() device, mirrored in the oracle
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    signed = F.when(
        dec("a") * dec("nb") > dec("b") * dec("na"), F.round(g2, 9)
    ).otherwise(-F.round(g2, 9)) + F.lit(0.0)
    return (
        j.select(
            F.col("w").alias("term"),
            F.col("a").cast("long").alias("count_family"),
            F.col("b").cast("long").alias("count_rest"),
            signed.alias("g2_signed"),
        )
        .orderBy(F.desc(F.abs(F.col("g2_signed"))), F.asc("term"))
        .limit(20)
    )


def ngram_novelty_report(docs: DataFrame) -> DataFrame:
    """Cross-document n-gram novelty by source — the self-BLEU-style
    diversity reading for training corpora (Zhu et al. 2018 measure
    template-ness the same way): for each source, the fraction of its
    (doc, distinct n-gram) incidences whose n-gram appears in exactly
    one document corpus-wide. Low novelty = the source is template
    boilerplate repeating shared n-grams; high = fresh text. The
    per-source mean document frequency is reported alongside (how
    shared the shared grams are).

    Exactness: everything is integer counting on the shared distinct
    n-gram shingle frame (functions.text.word_shingles — the same
    gram universe the Jaccard/MinHash dedup entries replay); the two
    final per-source ratios are the only float ops. Scale shape: one
    explode -> df groupBy (map-side combined), one gram-keyed
    equi-join back (both sides hash-partitioned on the gram, never
    all-pairs), one per-source fold; the df frame carries no text,
    only (gram, df)."""
    from ..functions.text import word_ngrams_of

    # tokenize ONCE into a materialized array column before the gram
    # transform (word_shingles(text, n) would inline its split() into
    # every element_at of every gram — Catalyst does no CSE inside
    # higher-order-function lambdas — re-splitting the text n times per
    # shingle): the _shingles recipe, identical gram multiset
    grams = (
        spread(docs, "doc_id")
        .select(
            "doc_id",
            F.col("source"),
            F.split(F.lower(F.col("text")), " ").alias("w"),
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(word_ngrams_of(F.col("w"), 3))).alias("g"),
        )
    )
    # two-level aggregation instead of joining per-gram df back onto
    # the FULL string-keyed incidence frame (which also re-ran the
    # tokenize+explode scan a second time): shingles are DISTINCT per
    # doc (word_shingles), so count per (gram, source) = docs in that
    # source containing the gram, df = its gram-level sum, and every
    # per-source sum folds over the gram×source frame with identical
    # integers — n_incidences = Σc, novel = Σ_{df=1} c, sdf = Σ c·df.
    # The gram-keyed join now carries gram-domain rows, not incidences,
    # and the scan+explode runs once (guide §2.3: aggregate before you
    # shuffle, shuffle the proxy not the payload).
    per_gs = grams.groupBy("g", "source").agg(F.count(F.lit(1)).alias("c"))
    # df via an unordered window sum over the gram partition: one
    # exchange on g, no second aggregate + join back (per-gram groups
    # are doc-bounded, so no window skew)
    joined = per_gs.withColumn(
        "df", F.sum("c").over(Window.partitionBy("g"))
    )
    return (
        joined.groupBy("source")
        .agg(
            F.sum("c").alias("n_incidences"),
            F.sum(
                F.when(F.col("df") == 1, F.col("c")).otherwise(F.lit(0))
            ).alias("novel"),
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * F.col("df").cast("decimal(38,0)")
            ).alias("sdf"),
        )
        .select(
            "source",
            F.col("n_incidences").cast("long").alias("n_incidences"),
            F.col("novel").cast("long").alias("n_novel"),
            (
                F.round(
                    F.col("novel").cast("double")
                    / F.col("n_incidences").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("novelty_frac"),
            (
                F.round(
                    F.col("sdf").cast("double")
                    / F.col("n_incidences").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_df"),
        )
        .orderBy("source")
    )


# the compact shared RAKE delimiter lexicon — embedded identically in
# the DuckDB oracle (module constant so both sides import ONE list)
RAKE_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "from", "has", "have", "he", "her", "his", "i", "if", "in", "is",
    "it", "its", "not", "of", "on", "or", "our", "she", "that", "the",
    "their", "they", "this", "to", "was", "we", "were", "will", "with",
    "you",
)


def rake_keyphrases(docs: DataFrame) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus —
    the multi-word companion to textrank_keywords (single tokens):
    candidate phrases are maximal runs of content tokens between
    stopword/punctuation delimiters (the gaps-and-islands device:
    island id = running delimiter count per doc); each phrase scores
    sum over member words of deg(w)/freq(w), where freq counts the
    word's occurrences in candidate phrases and deg adds the lengths
    of the phrases containing it — long phrases with well-connected
    words win.

    Exactness: token runs, phrase strings, freq and deg are pure
    integer/string operations on the shared single-space
    tokenization; each deg/freq term is 9 dp-quantized into
    DECIMAL(38,9) so per-phrase sums are order-free; identical
    phrases share identical scores by construction, and the top-k
    orders by the exact decimal score with a phrase tiebreak. Scale
    shape: one posexplode, per-doc running-sum windows (partitioned
    by doc, never global), word-keyed equi-joins, a distributed
    TakeOrdered top 20."""
    from pyspark.sql.window import Window as W

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias("i", "w"),
    )
    delim = (~F.col("w").rlike("^[a-z]+$")) | F.col("w").isin(
        *RAKE_STOPWORDS
    )
    fl = toks.select("doc_id", "i", "w", delim.cast("int").alias("dl"))
    wisl = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    isl = fl.select("*", F.sum("dl").over(wisl).alias("g"))
    cw = isl.filter(F.col("dl") == 0).select("doc_id", "g", "i", "w")
    ph = (
        cw.groupBy("doc_id", "g")
        .agg(
            F.count(F.lit(1)).alias("len"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("i").alias("i"), F.col("w").alias("w")
                            )
                        )
                    ),
                    lambda s: s["w"],
                ),
            ).alias("phrase"),
        )
        .filter(F.col("len") <= 4)
    )
    cw2 = cw.join(ph.select("doc_id", "g", "len"), ["doc_id", "g"])
    wstat = cw2.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("len").alias("deg")
    )
    terms = (
        cw2.join(wstat, "w")
        .groupBy("doc_id", "g")
        .agg(
            F.sum(
                F.round(
                    F.col("deg").cast("double")
                    / F.col("freq").cast("double"),
                    9,
                ).cast("decimal(38,9)")
            ).alias("s9")
        )
    )
    return (
        ph.join(terms, ["doc_id", "g"])
        .groupBy("phrase")
        .agg(
            F.max("len").alias("nw"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("s9").alias("s9"),
        )
        .orderBy(F.desc("s9"), F.asc("phrase"))
        .limit(20)
        .select(
            "phrase",
            F.col("nw").cast("long").alias("n_words"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            (F.round(F.col("s9").cast("double"), 6) + F.lit(0.0)).alias(
                "rake_score"
            ),
        )
    )
