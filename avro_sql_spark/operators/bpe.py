"""Distributed BPE (byte-pair encoding) tokenizer training
(SURVEY.md §2.2 'Text analysis' — the tokenizer-construction step of an
LLM data pipeline, beyond the BPE-ish *counting* the text module does).

Classic Sennrich-style BPE trains on the WORD-FREQUENCY table, not the
raw corpus — and that is exactly the distributed shape: one corpus scan
builds (word, freq) [vocabulary-sized, tiny next to the corpus], then
every merge round runs on that table: adjacent-pair counts are an
explode + freq-weighted sum (map-side combined), the single best pair
comes to the driver (the only driver state is the merge list), and the
merge applies in-row with an ``aggregate`` left-fold — the same greedy
leftmost-first semantics as the reference implementation. The word
table localCheckpoints per round so N merges never deepen the plan.

Determinism: ties in the best-pair choice break on (count desc, left,
right) — so the merge sequence is a closed-form function of the corpus,
and the round-1 pair counts are SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._pins import RoundPins


def word_freq_tokens(docs: DataFrame) -> DataFrame:
    """(word, freq, toks) over the SHARED tokenizer's words
    (functions.text.word_tokens — whitespace split, pure ^[a-z]+$ — so
    the learned merges cover the same token universe as the unigram/
    bigram/PMI/vocab statistics); toks is the character sequence plus
    the classic ``</w>`` end-of-word marker."""
    from ..functions.text import word_tokens

    words = docs.select(
        F.explode(word_tokens(F.col("text"))).alias("word")
    )
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    return wf.select(
        "word",
        "freq",
        F.concat(F.split(F.col("word"), ""), F.array(F.lit("</w>"))).alias("toks"),
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-pair counts over the current token arrays
    — every position counts (the classic statistic). One explode + one
    partially-aggregated sum; rows bounded by distinct pairs."""
    m = F.size("toks")
    pairs = F.transform(
        F.sequence(F.lit(1), m - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("left"),
            F.element_at("toks", i + 1).alias("right"),
        ),
    )
    return (
        words.filter(m >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("n"))
    )


def _apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite every token array merging (left, right) -> left+right,
    greedy leftmost-first (an ``aggregate`` left-fold: merge when the
    accumulator's last token is `left` and the current is `right`, else
    append — matches reference BPE exactly, including the aaa→[aa,a]
    and aaaa→[aa,aa] cases)."""
    merged = F.lit(left + right)

    def step(acc, x):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        return F.when(
            can,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return words.withColumn(
        "toks",
        F.aggregate(
            "toks", F.array().cast("array<string>"), step
        ),
    )


def train_bpe_state(docs: DataFrame) -> "tuple[list[tuple], DataFrame]":
    """The 8-merge training loop behind :func:`train_bpe`, also returning the
    FINAL rewritten word table (word, freq, toks) — the state a
    tokenizer-application pass needs (see :func:`bpe_fertility`).
    Driver state is the merge list only; each round is one pair-count
    aggregate over the vocabulary-sized word table plus an in-row
    rewrite, localCheckpointed LAZILY so the merges never deepen the
    plan while each round costs exactly ONE job (the top-pair collect
    materializes that round's rewritten words) — and a caller that
    never consumes the final word table (train_bpe) never pays the
    last rewrite at all."""
    rounds = RoundPins()
    words = rounds.pin(word_freq_tokens(docs))
    merges = []
    for rank in range(8):
        top = (
            pair_counts(words)
            .orderBy(F.desc("n"), "left", "right")
            .limit(1)
            .collect()
        )
        rounds.materialized()
        if not top:
            break
        t = top[0]
        merges.append((rank, t["left"], t["right"], t["left"] + t["right"], t["n"]))
        words = rounds.pin(_apply_merge(words, t["left"], t["right"]))
    return merges, words


def train_bpe(docs: DataFrame) -> DataFrame:
    """Learn 8 BPE merges; returns (rank, left, right, merged, n) — the
    merge table a tokenizer ships."""
    spark: SparkSession = docs.sparkSession
    merges, _words = train_bpe_state(docs)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, n bigint"
    )


def bpe_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer-efficiency audit: train 8 BPE merges on the
    corpus, then report per ``source`` the FERTILITY (subword tokens
    per word) and compression (chars per token) the tokenizer achieves
    there — the table that decides whether a tokenizer is retrained
    before a new data mixture ships (a domain with outlier fertility
    wastes sequence length).

    Scale shape: the apply pass never re-tokenizes the corpus — the
    final word table (vocabulary-sized) already holds each word's
    post-merge token count, and it joins the per-(group, word)
    occurrence counts as a BROADCAST build side (a vocabulary is
    bounded; the corpus is not). All sums are integers; each reported
    ratio is one division of two exact sums."""
    _merges, words = train_bpe_state(docs)
    from ..functions.text import word_tokens

    vocab = words.select(
        "word",
        F.size("toks").alias("n_toks"),
        F.length("word").alias("n_chars"),
    )
    occ = (
        docs.select(F.col("source").alias("grp"), F.explode(word_tokens(F.col("text"))).alias("word"))
        .groupBy("grp", "word")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        occ.join(F.broadcast(vocab), "word")
        .groupBy(F.col("grp").alias("source"))
        .agg(
            F.sum("occ").alias("n_words"),
            F.sum(F.col("occ") * F.col("n_toks")).alias("n_tokens"),
            F.round(
                F.sum(F.col("occ") * F.col("n_toks")).cast("double")
                / F.sum("occ").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum(F.col("occ") * F.col("n_chars")).cast("double")
                / F.sum(F.col("occ") * F.col("n_toks")).cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )
