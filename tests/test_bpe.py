"""Golden tests for operators/bpe.py against hand-computed merges on
the classic Sennrich low/lower/newest/widest corpus."""

import pytest

from avro_sql_spark.operators.bpe import (
    pair_counts,
    train_bpe,
    word_freq_tokens,
)


@pytest.fixture(scope="module")
def corpus(spark):
    text = " ".join(["low"] * 3 + ["lower"] * 2 + ["newest"] * 5 + ["widest"] * 3)
    return spark.createDataFrame([(text,)], ["text"])


def test_word_freq_tokens(corpus):
    rows = {r["word"]: (r["freq"], r["toks"]) for r in word_freq_tokens(corpus).collect()}
    assert rows["low"] == (3, ["l", "o", "w", "</w>"])
    assert rows["newest"][0] == 5
    assert rows["newest"][1][-1] == "</w>"


def test_pair_counts_round1(corpus):
    pc = {(r["left"], r["right"]): r["n"] for r in pair_counts(word_freq_tokens(corpus)).collect()}
    # hand-computed: es/st/t</w> all 8; we = 2(lower) + 5(newest) = 7
    assert pc[("e", "s")] == 8 and pc[("s", "t")] == 8 and pc[("t", "</w>")] == 8
    assert pc[("w", "e")] == 7
    assert pc[("l", "o")] == 5 and pc[("o", "w")] == 5


def test_train_bpe_golden_sequence(corpus):
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["n"])
        for r in train_bpe(corpus).orderBy("rank").collect()
    ]
    # ties break (count desc, left, right): e<s<t lexicographically at
    # 8, then e<l<n<o among the five pairs at 5, "ew"<"l" next
    assert got == [
        (0, "e", "s", "es", 8),
        (1, "es", "t", "est", 8),
        (2, "est", "</w>", "est</w>", 8),
        (3, "e", "w", "ew", 5),
        (4, "ew", "est</w>", "ewest</w>", 5),
        (5, "l", "o", "lo", 5),
        (6, "lo", "w", "low", 5),
        (7, "n", "ewest</w>", "newest</w>", 5),
    ]


def test_apply_merge_greedy_leftmost(spark):
    # aaa -> [aa, a]; aaaa -> [aa, aa] — the classic greedy edge cases
    from avro_sql_spark.operators.bpe import _apply_merge

    df = spark.createDataFrame(
        [("x", 1, ["a", "a", "a"]), ("y", 1, ["a", "a", "a", "a"])],
        ["word", "freq", "toks"],
    )
    got = {r["word"]: r["toks"] for r in _apply_merge(df, "a", "a").collect()}
    assert got == {"x": ["aa", "a"], "y": ["aa", "aa"]}


def test_bpe_fertility_hand_truth(spark):
    """Fertility after the 8 merges follows the merge table: a word
    the merges cover is one token, a word they only partly cover keeps
    its unmerged tail."""
    from avro_sql_spark.operators.bpe import bpe_fertility, train_bpe

    df = spark.createDataFrame(
        [(1, "abc abc", "s1"), (2, "abc defghij", "s2")],
        "doc_id long, text string, source string",
    )
    merges = [(r["left"], r["right"], r["n"]) for r in train_bpe(df).collect()]
    # hand trace: abc (freq 3) merges fully first, (a,b) winning the
    # round-1 tie at 3 by left; then every defghij pair ties at 1 and
    # the leftmost wins, so the 8th merge stops at "defghi"
    assert merges == [
        ("a", "b", 3),
        ("ab", "c", 3),
        ("abc", "</w>", 3),
        ("d", "e", 1),
        ("de", "f", 1),
        ("def", "g", 1),
        ("defg", "h", 1),
        ("defgh", "i", 1),
    ]
    # final toks: "abc" -> [abc</w>] (1), "defghij" -> [defghi, j, </w>] (3)
    out = {r["source"]: r for r in bpe_fertility(df).collect()}
    # s1 = {abc x2}: 2 tokens over 2 words, 6 chars
    assert (out["s1"]["n_words"], out["s1"]["n_tokens"]) == (2, 2)
    assert out["s1"]["fertility"] == 1.0
    assert out["s1"]["chars_per_token"] == 3.0
    # s2 = {abc, defghij}: 1 + 3 = 4 tokens over 2 words, 10 chars
    assert (out["s2"]["n_words"], out["s2"]["n_tokens"]) == (2, 4)
    assert out["s2"]["fertility"] == 2.0
    assert out["s2"]["chars_per_token"] == 2.5
