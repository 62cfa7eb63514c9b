"""Text-analysis column functions for large-scale training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions`` — no
Python UDFs — so the expressions stay inside whole-stage codegen and cost
one scan at 100 TB. Each function returns a ``Column`` usable in any
select/filter; the matching DuckDB-oracle SQL lives in
``__spark_entry__.py`` (same arithmetic, so results hash-match).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# token pattern: words | numbers | single non-space symbol (BPE-ish
# pre-tokenization, RE2-compatible so DuckDB computes the same counts)
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# tiny deterministic stopword inventories for the language heuristic
_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " los ", " y "],
}
EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def whitespace_token_count(text: Column) -> Column:
    """Number of single-space-separated tokens — a deliberate PROXY, not
    an exact tokenizer: empty text counts as 1 and runs of spaces add
    tokens (size(split(text, ' '))). The DuckDB oracles reproduce this
    exact arithmetic, which is the contract; use regex_token_count for
    a stricter count."""
    return F.size(F.split(text, " "))


def word_tokens(text: Column) -> Column:
    """Lowercased pure-alpha tokens as an in-row array: whitespace split,
    keep only ^[a-z]+$ — THE tokenizer every LM-statistics operator
    (unigram/bigram logprob, PMI, vocab coverage, token top-k) shares,
    so the token universe can never drift between them (the DuckDB
    oracles replicate this exact filter)."""
    return F.filter(
        F.split(F.lower(text), r"\s+"), lambda w: w.rlike("^[a-z]+$")
    )


def regex_token_count(text: Column) -> Column:
    """BPE-ish pre-token count via regexp_count (JVM regex, one pass)."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN))


def _occurrences(text: Column, needle: str) -> Column:
    """Substring occurrence count via replace-and-measure. Known PROXY
    limitation shared (deliberately) with the DuckDB oracles: for
    space-delimited needles, ADJACENT occurrences undercount because
    each match consumes the trailing space the next match needs
    (' the the the ' counts 2 of 3 ' the '). Acceptable for the
    heuristic signals built on it; do not use it as an exact counter."""
    return (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / len(needle)


def _stopword_hits(text: Column) -> Column:
    """Total EN stopword occurrences over the padded lowercased text —
    the single definition shared by stopword_ratio and gopher_pass."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = None
    for w in EN_STOPWORDS:
        occ = _occurrences(padded, f" {w} ")
        hits = occ if hits is None else hits + occ
    return hits


def lang_id(text: Column) -> Column:
    """Marker-word language heuristic: count marker hits per language over
    the lowercased text, pick the max via a CASE cascade (fixed precedence
    en>fr>de>es on ties; 'unknown' when nothing matches). The DuckDB
    oracle mirrors the same greatest() + CASE, so labels hash-match."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = {
        lang: sum([_occurrences(padded, m) for m in markers[1:]], _occurrences(padded, markers[0]))
        for lang, markers in _LANG_MARKERS.items()
    }
    mx = F.greatest(*scores.values())
    expr = F.when(mx <= 0, F.lit("unknown"))
    for lang in _LANG_MARKERS:
        expr = expr.when(scores[lang] == mx, F.lit(lang))
    # NULL text falls through every branch; the docstring's contract is
    # 'unknown' whenever nothing matches
    return expr.otherwise(F.lit("unknown"))


def punct_ratio(text: Column) -> Column:
    """Punctuation chars / total chars (NULL for empty text — the nullif
    denominator; quality_score's punct gate therefore scores empty text
    0, matching the DuckDB oracle's identical arithmetic)."""
    puncts = F.length(text) - F.length(F.regexp_replace(text, r"[.!?,;:]", ""))
    return (puncts / F.nullif(F.length(text), F.lit(0))).cast("double")


def stopword_ratio(text: Column) -> Column:
    """English stopword tokens / whitespace tokens."""
    return (
        _stopword_hits(text)
        / F.nullif(whitespace_token_count(text).cast("double"), F.lit(0))
    ).cast("double")


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards reasonable length,
    sentence punctuation, and natural stopword density."""
    n_tokens = whitespace_token_count(text).cast("double")
    length_ok = F.when((n_tokens >= 5) & (n_tokens <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) >= 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return ((length_ok + punct_ok + stop_ok) / F.lit(3.0)).cast("double")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, trimmed, whitespace-collapsed). Used as the exact-dedup
    key; identical in Spark and DuckDB."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized.cast("binary"))


def word_shingles(text: Column) -> Column:
    """Distinct 3-word shingles of the lowercased text as
    ``array<string>`` — the input to MinHash / Jaccard dedup. The
    distinct-set view of :func:`word_ngrams` (one gram builder, two
    views). Pure Column expression, no Python."""
    return F.array_distinct(word_ngrams(text))


def mean_word_length(text: Column) -> Column:
    """Mean characters per whitespace token (Gopher repetition/quality
    signal). Non-space chars / token count — same arithmetic as the
    DuckDB oracle (replace + length), no split materialization."""
    non_space = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return (non_space / F.nullif(whitespace_token_count(text).cast("double"), F.lit(0))).cast(
        "double"
    )


def symbol_word_ratio(text: Column) -> Column:
    """Gopher symbol-to-word ratio: occurrences of '#' or '...' per
    whitespace token."""
    hits = _occurrences(text, "#") + _occurrences(text, "...")
    return (hits / F.nullif(whitespace_token_count(text).cast("double"), F.lit(0))).cast("double")


def alpha_word_fraction(text: Column) -> Column:
    """Fraction of tokens containing at least one ASCII letter (Gopher's
    80%-alphabetic rule). Higher-order filter over the split — one pass,
    no explode."""

    def has_alpha(w: Column) -> Column:
        return w.rlike("[a-z]")

    words = F.split(F.lower(text), " ")
    n_alpha = F.size(F.filter(words, has_alpha))
    return (n_alpha / F.nullif(F.size(words).cast("double"), F.lit(0))).cast("double")


def gopher_signal_columns(text: Column) -> dict[str, Column]:
    """The five row-local signals :func:`gopher_pass` gates on, as
    named Columns. Project these ONCE and feed the projected columns to
    :func:`gopher_pass_of` when another expression over the same text
    (e.g. quality_score's indicator components) shares them — the
    sharing is then explicit in the plan instead of relying on codegen
    subexpression elimination to dedupe the 10-stopword replace chain
    across conditional branches."""
    return {
        "n_ws": whitespace_token_count(text).cast("double"),
        "stop_hits": _stopword_hits(text),
        "mean_word_len": mean_word_length(text),
        "symbol_ratio": symbol_word_ratio(text),
        "alpha_frac": alpha_word_fraction(text),
    }


def gopher_pass_of(
    n: Column, stop_hits: Column, mwl: Column, symbol_ratio: Column, alpha_frac: Column
) -> Column:
    """Gopher gate over ALREADY-PROJECTED signal columns (see
    :func:`gopher_signal_columns`); :func:`gopher_pass` is the
    plain-text convenience form of this."""
    return (
        (n >= 30)
        & (n <= 100_000)
        & (mwl >= 3.0)
        & (mwl <= 10.0)
        & (symbol_ratio <= 0.05)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 1)
    )


def gopher_pass(text: Column) -> Column:
    """Gopher-style document quality gate (Rae et al. 2021 §A1.1,
    adapted): token-count window, mean-word-length window, symbol ratio,
    alphabetic-word fraction, and a minimum count of English stopwords.
    Pure Column expression — fuses into the scan, row-local, no shuffle."""
    sig = gopher_signal_columns(text)
    return gopher_pass_of(
        sig["n_ws"],
        sig["stop_hits"],
        sig["mean_word_len"],
        sig["symbol_ratio"],
        sig["alpha_frac"],
    )


# conservative patterns: the goal is deterministic, engine-portable
# masking (both regexes are RE2/Java compatible), not perfect recall
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_PATTERN = "\\+?[0-9][0-9() .-]{6,}[0-9]"


def redact_pii(text: Column) -> Column:
    """Mask email addresses and phone-like digit runs with typed tokens
    ([EMAIL], [PHONE]) — the pre-training scrub pass. Two JVM regex
    passes, row-local; emails first so their digits don't half-match the
    phone pattern."""
    no_email = F.regexp_replace(text, EMAIL_PATTERN, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_PATTERN, "[PHONE]")


def word_ngrams_of(words: Column, n: int = 2) -> Column:
    """n-word grams of an ALREADY-TOKENIZED array column. Operators on
    long texts or wide n should project the split into a materialized
    column and call this: :func:`word_ngrams` inlines its split() into
    every element_at of every gram (Catalyst does not CSE inside
    higher-order-function lambdas), which re-splits the text n times per
    gram — measured 20x on 8-word spans over a compacted scan."""
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1))),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)]),
    )
    return F.when(k > 0, grams).otherwise(F.array().cast("array<string>"))


def word_ngrams(text: Column) -> Column:
    """All 3-word grams of the lowercased text (NOT deduplicated —
    repetition analysis needs multiplicities; :func:`word_shingles` is
    the distinct-set variant for Jaccard/MinHash). For hot paths see
    :func:`word_ngrams_of`."""
    return word_ngrams_of(F.split(F.lower(text), " "), 3)
