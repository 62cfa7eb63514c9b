"""Join strategy utilities beyond Catalyst's defaults (SURVEY.md §2.2
'Joins'): explicit salting for skewed keys, and a guarded broadcast.

AQE's skew-join handles *shuffle-partition* skew at runtime; salting is
for the harder case — a single join KEY so hot that one task would
receive it all (classic at 100 TB: null-ish default ids, bot users).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Inner equi-join where ``big``'s hot keys are split across
    16 tasks: big side gets a random-ish (hash-derived,
    deterministic) salt, small side is replicated once per bucket, and
    the join key becomes (key, salt). Row multiplicity is unchanged —
    each big row matches exactly one replica of its key."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(16))
    big_salted = big.withColumn("_salt", salt.cast("int"))
    small_salted = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(15)))
    )
    return big_salted.join(small_salted, [key, "_salt"]).drop("_salt")


def _round_bits(num_bits: int) -> int:
    """Normalize a filter size to a positive multiple of 64 (the packed
    word width) — build and probe both normalize, so any raw value stays
    consistent between them."""
    if num_bits <= 0:
        from ..errors import AvroSqlError

        raise AvroSqlError(f"bloom filter num_bits must be positive, got {num_bits}")
    return ((num_bits + 63) // 64) * 64


def _bloom_hashes(key, num_bits: int, k: int) -> "list":
    """k probe positions via Kirsch-Mitzenmacher double hashing:
    h_i = (h1 + i*h2) mod m, both base hashes JVM-side xxhash64."""
    # reduce both base hashes mod m BEFORE combining: i*h2 on the raw
    # 64-bit hash overflows a long (ANSI mode raises); in modular space
    # the products stay tiny and (h1 + i*h2) mod m is unchanged
    h1 = F.pmod(F.xxhash64(key), F.lit(num_bits))
    # force h2 odd (|1): h2 ≡ 0 mod m would collapse all k probes onto
    # h1 (one bit per key, FP rate degrades to the raw bit-load); odd
    # h2 is also coprime with the power-of-two default m
    h2 = F.pmod(F.xxhash64(key, F.lit(0x9747B28C)), F.lit(num_bits)).bitwiseOR(
        F.lit(1)
    )
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(k)]


def build_bloom(df: DataFrame, key: str, num_bits: int = 1 << 18) -> "list[int]":
    """Distributed Bloom-filter build over ``df[key]``: every row emits
    its k = 7 bit positions in-row (explode), positions fold into 64-bit
    words with a ``bit_or`` partial aggregate, and only the packed words
    (num_bits/64 longs — kilobytes) reach the driver. No row-at-a-time
    Python, no key collect; the filter size is fixed by num_bits, not
    the key count. Size rule of thumb: ~10 bits/key for ~1% false
    positives at k=7."""
    num_bits = _round_bits(num_bits)
    positions = F.array(*_bloom_hashes(F.col(key), num_bits, 7))
    words = (
        df.select(F.explode(positions).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            # shiftleft with a COLUMN shift amount needs call_function
            # (the Python wrapper only takes a literal int)
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod("pos", F.lit(64)).cast("int"),
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .collect()
    )
    dense = [0] * (num_bits // 64)
    for r in words:
        dense[r["w"]] = r["bits"]
    return dense


def bloom_might_contain(key, words: "list[int]", num_bits: int):
    """Membership-test Column against a built filter: k = 7 probes into the
    word array, all pure JVM arithmetic inside codegen (array index +
    shift + mask per probe). The probes run inside ONE ``forall`` over
    the position array so the word-array literal appears once in the
    expression tree — an unrolled AND would embed k copies of the
    (num_bits/64)-element literal in every task binary."""
    num_bits = _round_bits(num_bits)
    # ONE parsed SQL array literal: F.lit on a 4096-element Python list
    # issues a Py4J round trip per element (~2 s of driver time per
    # call); the expr string parses JVM-side in milliseconds
    arr = F.expr("array(" + ",".join(f"{w}L" for w in words) + ")")

    def _probe(pos):
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        return (
            F.call_function(
                "shiftright", word, F.pmod(pos, F.lit(64)).cast("int")
            ).bitwiseAND(F.lit(1).cast("long"))
            == 1
        )

    return F.forall(F.array(*_bloom_hashes(key, num_bits, 7)), _probe)


def bloom_prefilter_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Selective inner join with a Bloom prefilter on the BIG side: the small
    side's keys are folded into a fixed-size filter (build_bloom), the
    big side drops non-matching rows BEFORE its shuffle, then the real
    equi-join runs on the survivors. False positives pass the filter but
    are eliminated by the join, so the result is EXACTLY the plain join
    — the filter only cuts the shuffled volume (at 100 TB, a selective
    dim join shuffles the whole fact table without this; with it, only
    rows that can match move). This is the hand-rolled, always-on form
    of Spark's runtime row-level bloom pushdown, usable when the
    optimizer won't inject one (non-equi plans, reused filters, or a
    filter persisted across jobs). The join is inner because pre-pruning
    unmatched BIG rows preserves only inner (and semi) semantics:
    outer/anti joins NEED the unmatched rows the filter removes."""
    num_bits = _round_bits(1 << 18)
    words = build_bloom(small, key, num_bits)
    pruned = big.filter(bloom_might_contain(F.col(key), words, num_bits))
    return pruned.join(small, key)


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Broadcast hint guarded by a cheap count (at most 1,000,000 rows)
    — for dimension tables of unknown size in generic pipelines. (On a
    real deployment prefer statistics / AQE; the explicit hint is for
    when stats are missing.)"""
    n = df.limit(1_000_001).count()
    return F.broadcast(df) if n <= 1_000_000 else df

def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
) -> DataFrame:
    """Entity-resolution-style fuzzy matching: pairs of rows whose
    ``name_col`` values are within 2 Levenshtein edits,
    restricted to rows sharing ``block_cols`` (the classic blocking-key
    trick). Returns (id_a, id_b, name_a, name_b, distance), id_a < id_b.

    Scale shape: an UNBLOCKED fuzzy join is O(n^2) and impossible at
    100 TB; blocking turns it into an equi-join on the block key, so the
    shuffle is one hash exchange per side and the quadratic cost applies
    only within a block (choose block keys so blocks stay ~1e3-1e4
    rows; add a length bucket or name prefix to split hot blocks — same
    skew reasoning as :func:`salted_join`). The Levenshtein filter runs
    JVM-side inside codegen, never in Python."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("name_a"),
        *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(block_cols)],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
        *[F.col(c).alias(f"_bk{i}") for i, c in enumerate(block_cols)],
    )
    keys = [f"_bk{i}" for i in range(len(block_cols))]
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= 2)
        .select("id_a", "id_b", "name_a", "name_b", "distance")
    )
