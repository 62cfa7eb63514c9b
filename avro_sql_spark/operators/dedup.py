"""Deduplication operators for training-data pipelines (north-star scope;
the reference has no dedup — SURVEY.md §2.2).

Four families, all shuffle-architected for 100 TB:

 - **exact**: md5 fingerprint of normalized text → groupBy hash. One
   shuffle on a 128-bit key, partial-agg'd map-side; skew-free because
   hashes are uniform.
 - **MinHash + LSH**: shingle → minhash signature (affine universal-hash
   family over md5-derived bases, all JVM-side Column expressions) →
   band → bucket-join. Candidate pairs come from joining on
   (band, band_hash) — i.e. only near-duplicates shuffle together; the
   cross product never materializes. The hash family is deterministic
   integer arithmetic, so the whole pipeline is DuckDB-oracle-checkable.
 - **SimHash**: 64-bit fingerprint whose Hamming distance approximates
   cosine over token sets; banded the same way for scale.
 - **n-gram Jaccard**: exact set Jaccard via shingle explode +
   self-join on shingle — the verifier for candidate pairs (and the
   DuckDB-oracle-checkable ground truth at small SF).

Cache contract: pair-generating operators (`minhash_candidate_pairs`,
`simhash_candidate_pairs`, `ngram_jaccard_pairs`, `decontaminate`)
``.cache()`` multi-consumer intermediates; since they return lazy
transformations they cannot unpersist them. Callers running many
pipelines in one long-lived session own cleanup —
``spark.catalog.clearCache()`` between pipelines (LRU eviction otherwise
bounds it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint
from ._pins import RoundPins

# MinHash permutation family: h_i(s) = (a_i * x(s) + b_i) mod P, the
# textbook 2-universal family over the Mersenne prime P = 2^31-1, with
# x(s) = (first 48 bits of md5(s)) mod P and (a_i, b_i) derived from the
# permutation index by the fixed formula below (Knuth/xxhash
# multiplicative constants). Unlike seeded xxhash64 this is plain
# integer arithmetic on an md5, so a DuckDB oracle replays it
# bit-for-bit. The multiplier a_i spans the FULL [1, P-1] range — a
# small-positive-coefficient variant (a < 2^20 over 40-bit bases) was
# tried first and is NOT min-wise independent: with every coefficient
# positive and no modular wrap of the product, the hash is
# order-preserving in the base, so one shingle with a small base wins
# the min for nearly every i and a one-word edit flipped ~50 of 64
# signature lanes (measured). Full-range multiply mod P scrambles the
# order per permutation, which is the property minhash needs.
# ANSI-overflow-safety: x < 2^31, a < 2^31 ⇒ a*x < 2^62, + b < 2^31
# keeps every intermediate < 2^63 (int64-exact in Spark and DuckDB).
_MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def _minhash_params(i: int) -> "tuple[int, int]":
    a = ((i + 1) * 2654435761) % (_MINHASH_P - 1) + 1
    b = ((i + 1) * 2246822519) % _MINHASH_P
    return a, b


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Repartition on the id before compute-heavy per-doc work.

    A small/compacted input (one parquet file → one partition) would
    otherwise serialize the whole shingle/hash computation onto a single
    core. The partition count must be EXPLICIT: a bare repartition(col)
    participates in AQE partition coalescing, which sees "few MB of text"
    and merges the shuffle back to one partition — AQE can't know the
    downstream per-row compute is heavy. defaultParallelism scales with
    the cluster. The shuffled payload (id + text) is far cheaper than the
    per-doc compute it unlocks."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key))


def _shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int, out_id: "str | None" = None
) -> DataFrame:
    """Exploded DISTINCT word n-shingles as (out_id, s_raw) STRINGS —
    spread across the cluster first (see :func:`_spread`) and tokenized
    ONCE into a materialized array column before the gram transform.
    Calling word_shingles(text, n) directly inlines its split() into
    every element_at of every gram (Catalyst does no CSE inside
    higher-order-function lambdas), re-splitting the text n times per
    shingle — measured ~20x on 8-word spans over a compacted scan."""
    from ..functions.text import word_ngrams_of

    out = out_id or id_col
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias(out), F.split(F.lower(F.col(text_col)), " ").alias("w")
    )
    return toks.select(
        out, F.explode(F.array_distinct(word_ngrams_of(F.col("w"), n))).alias("s_raw")
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fingerprint, n_copies, canonical_id) for groups with >1 member."""
    return (
        _spread(docs, id_col).select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per fingerprint — the 100 TB
    version of dropDuplicates(text): dedup on the 16-byte hash, never on
    the full text column."""
    keep = (
        _spread(docs, id_col).select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", num_hashes: int = 64, shingle: int = 3
) -> DataFrame:
    """(id, signature array<bigint>) — min over shingles of the
    full-range universal-hash family (a_i*x + b_i) mod 2^31-1 on an
    md5-derived base (see ``_minhash_params``), all JVM-side.

    Shape: explode shingles → k affine hashes per shingle → groupBy(id)
    with k MIN aggregates → pack array. The k aggregates are combined
    map-side (partial aggregation), so the shuffle carries one k-long row
    per doc per partition — not per shingle — and the expression tree
    stays small enough for fast codegen (k wide array-fold expressions
    were ~100× slower to compile). md5 runs ONCE per shingle (the k
    permutations are multiply-add-mod on its 48-bit cut), and the whole
    family is deterministic integer arithmetic the DuckDB oracle
    replicates exactly."""
    sh = _shingles(docs, id_col, text_col, shingle)
    p = F.lit(_MINHASH_P)
    based = sh.select(
        F.col(id_col),
        (
            F.conv(F.substring(F.md5(F.col("s_raw").cast("binary")), 1, 12), 16, 10).cast("long")
            % p
        ).alias("x"),
    )
    # the k permutation columns, the k MIN aggregates, and the array
    # packing are built as SQL STRINGS (one parse each / one selectExpr
    # round trip) — Column-by-Column composition cost ~1.5 s of DRIVER
    # time per call in Py4J round trips (same fix as simhash); the
    # parsed trees and generated code are identical
    hashed = based.selectExpr(
        f"`{id_col}`",  # backticks: selectExpr must quote what F.col would
        *[
            f"({a} * x + {b}) % {_MINHASH_P} AS h{i}"
            for i, (a, b) in ((i, _minhash_params(i)) for i in range(num_hashes))
        ],
    )
    mins = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(num_hashes)]
    )
    return mins.selectExpr(
        f"`{id_col}`",
        "array(" + ", ".join(f"h{i}" for i in range(num_hashes)) + ") AS signature",
    )


def _band_rows(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Skinny (id, band_idx, band_hash) rows from a minhash signature
    table — the single definition of the banding key used by every LSH
    consumer (batch pairs + incremental gate), so a banding change can
    never diverge between them. Validates that ``bands`` divides
    ``num_hashes``: a silent remainder would drop hashes from every band
    key and lower recall below what the caller asked for."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            f"(remainder {num_hashes % bands} hashes would be dropped)"
        )
    rows_per_band = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                # band key = md5 of the comma-joined band slice, cut to
                # 15 hex chars (60-bit bigint): same shuffle width as a
                # long hash, and — unlike xxhash64 — the DuckDB oracle
                # reproduces it (string_agg ORDER BY i, md5, substring)
                lambda b: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)[i].cast("string")
                                    for i in range(rows_per_band)
                                ],
                            ).cast("binary")
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 3,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows, hash each
    band, self-join on (band_idx, band_hash). Only same-bucket docs meet
    in the shuffle; estimated Jaccard = matching minhash fraction."""
    # cache the per-doc signature table: it has THREE consumers (band
    # explode + both re-attach joins) and Catalyst does not reuse the
    # aggregation exchange across them — uncached, the whole
    # shingle-explode + k-hash + k-min pipeline would run three times.
    # One 8k-byte row per doc, far smaller than the corpus; the
    # CacheManager dedupes repeated calls by logical plan.
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle).cache()
    # the band self-join shuffles SKINNY rows (id, band_idx, band_hash =
    # 24 bytes) — not the 64-long signature, which would ride the shuffle
    # `bands` times per doc. Signatures re-attach once per side AFTER
    # candidate pairs are deduped, via two per-doc joins.
    banded = _band_rows(sigs, id_col, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle:
    explode shingles, self-join on shingle, count intersections, divide by
    union. This shuffles |shingles| rows (not |docs|²).

    Hot shingles are the skew risk at scale: a shingle shared by N docs
    emits N² candidate rows, and at web scale boilerplate shingles have
    N in the millions. ``max_doc_freq`` is the skew bound — shingles in
    more than that many docs are dropped BEFORE the self-join (one extra
    count per shingle, then a broadcast anti-join against the tiny hot
    set), capping any bucket at max_doc_freq². Jaccard is then computed
    over the retained-shingle universe on both sides of the ratio, so
    the score stays a true set Jaccard (of the filtered sets) rather
    than a mixed-denominator estimate.

    ``candidates``: an optional (id_a, id_b) frame (id_a < id_b, the
    family's pair orientation). When given, the exact Jaccard is
    computed ONLY for those pairs — the intersection comes from joining
    each candidate's two shingle sets instead of the full shingle
    self-join, so the pair-generation shuffle is candidate-bounded
    instead of Σ df² (the calibration pattern: score the LSH candidate
    list exactly without paying the all-sharing-pairs join). Pairs
    sharing no shingle simply emit no row — identical to the full join,
    which never generates them either. Sizes still count the FULL
    retained-shingle sets, so each pair's score is bit-identical to the
    unrestricted computation."""
    # shingles are hashed to 64-bit ints BEFORE the self-join: the join
    # key shuffles as 8 bytes instead of a 20-40 byte string — at scale
    # the pair join is shuffle-bound, so key width is the cost. xxhash64
    # collisions (~n²/2⁶⁴) are negligible against shingle-set sizes.
    sh = (
        _shingles(docs, id_col, text_col, shingle, out_id="id")
        .select("id", F.xxhash64("s_raw").alias("s"))
        # cached: consumed by per-doc sizes AND both self-join sides (and
        # the doc-frequency pass when capped) — uncached, the explode+hash
        # pipeline re-executes per consumer
        .cache()
    )
    if max_doc_freq is not None:
        # sh is distinct per (doc, shingle) (word_shingles dedupes), so
        # a plain count per shingle IS the document frequency
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        # the filtered table again feeds sizes + both join sides
        sh = sh.join(F.broadcast(hot), "s", "left_anti").cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if candidates is not None:
        cand = candidates.select("id_a", "id_b")
        # restrict both shingle sides to docs that appear in a candidate
        # pair before any wide join — the b-side equi-join then shuffles
        # candidate-doc shingles only, never the corpus
        ids_a = cand.select(F.col("id_a").alias("id"))
        ids_b = cand.select(F.col("id_b").alias("id"))
        sh_a = sh.join(ids_a.distinct(), "id", "left_semi")
        sh_b = sh.join(ids_b.distinct(), "id", "left_semi")
        inter = (
            sh_a.select(F.col("id").alias("id_a"), "s")
            .join(cand, "id_a")
            .join(
                sh_b.select(F.col("id").alias("b_id"), F.col("s").alias("b_s")),
                (F.col("id_b") == F.col("b_id")) & (F.col("s") == F.col("b_s")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word shingles: for each bit, sum +1/-1 votes of
    each shingle's hash bit, emit the sign bitmap. The shingle hash is
    md5-derived (two 32-bit hex cuts recombined with shiftleft/OR — pure
    bit ops, so no ANSI overflow even when bit 63 lands set), which a
    DuckDB oracle replays bit-for-bit; seeded xxhash64 could not be.

    Shape: explode → hash → PACKED bit-count SUM aggregates (map-side
    combined) → OR the sign bits. Same partial-agg rationale as
    minhash_signatures: shuffle is one skinny row per doc per partition,
    and codegen stays fast.

    Packing: three bit-counters ride per long in base-2^20 lanes
    (bits 3j, 3j+1, 3j+2 of the hash count in lanes 0/20/40 of sum j),
    cutting 64 SUM aggregate buffers to 22. Lane capacity bounds docs at
    2^20 shingles (~5 MB of text) before a counter could carry into the
    next lane — far above real documents; a runtime assert fails loudly
    on such inputs instead of corrupting (pre-chunk them upstream)."""
    ex = (
        _shingles(docs, id_col, text_col, 3)
        .select(F.col(id_col), F.md5(F.col("s_raw").cast("binary")).alias("m"))
        .select(
            F.col(id_col),
            # 64-bit hash = (first 8 hex chars as hi) << 32 | (next 8 as
            # lo): bit ops only, so a set bit 63 is a sign-bit pattern,
            # never an arithmetic overflow (ANSI-safe in Spark & DuckDB)
            F.expr(
                "shiftleft(cast(conv(substring(m, 1, 8), 16, 10) as bigint), 32)"
                " | cast(conv(substring(m, 9, 8), 16, 10) as bigint)"
            ).alias("h"),
        )
    )

    # branch-free votes: ones_b = popcount of bit b over shingle hashes;
    # +1/-1 vote sum = 2*ones_b - n, so bit b is set iff 2*ones_b > n.
    # shiftright+AND terms codegen tighter than when/otherwise branches.
    # The ~150 sub-expressions are built as SQL STRINGS (one F.expr/
    # parse each) instead of Column-by-Column: per-operator Py4J round
    # trips made plain Column composition ~1.5 s of DRIVER time per
    # call; the parsed trees and generated code are identical.
    packs = [list(range(j, min(j + 3, 64))) for j in range(0, 64, 3)]

    def _packed_term(bits: list[int]) -> str:
        return " + ".join(
            f"((shiftright(h, {b}) & 1) * cast({1 << (20 * lane)} as bigint))"
            for lane, b in enumerate(bits)
        )

    votes = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"sum({_packed_term(bits)})").alias(f"p{j}")
            for j, bits in enumerate(packs)
        ],
    )
    lane_mask = (1 << 20) - 1
    sim = F.expr(
        " | ".join(
            # shiftleft(1L, 63) wraps to the sign bit, as intended
            f"(case when (shiftright(p{j}, {20 * lane}) & {lane_mask}) * 2 > n "
            f"then shiftleft(cast(1 as bigint), {b}) else cast(0 as bigint) end)"
            for j, bits in enumerate(packs)
            for lane, b in enumerate(bits)
        )
    )
    # enforce the lane-capacity bound instead of silently corrupting: a
    # doc with >= 2^20 shingles would carry into the neighboring lane.
    # assert_true returns NULL on pass, so the guard wraps the output
    # expression (an unused guard column would be pruned by Catalyst).
    guard = F.assert_true(
        F.col("n") < F.lit(1 << 20),
        F.lit(
            "simhash: document has >= 2^20 shingles — packed bit lanes "
            "would overflow; pre-chunk pathological documents"
        ),
    )
    return votes.select(F.col(id_col), F.when(guard.isNull(), sim).alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-banded SimHash near-dup pairs: split the 64-bit fingerprint
    into ``blocks`` equal bit-blocks, equi-join on (block_idx, block_bits),
    then exact-verify with a popcount distance filter.

    Pigeonhole guarantee: two fingerprints within Hamming distance
    ``blocks - 1`` agree on at least one whole block, so with the default
    ``blocks = max_hamming + 1`` recall is exact — every qualifying pair
    collides in some band. Same scale shape as
    ``minhash_candidate_pairs``: the band self-join shuffles skinny
    (id, block_idx, block_bits) rows, only same-bucket docs ever meet,
    and fingerprints re-attach per-doc AFTER pair dedup.
    """
    if blocks < max_hamming + 1:
        raise ValueError(
            f"blocks={blocks} cannot guarantee recall at max_hamming={max_hamming}; "
            f"need blocks >= max_hamming + 1"
        )
    # cached: consumed by the band explode and both re-attach joins;
    # caller owns cleanup (spark.catalog.clearCache between pipelines)
    sigs = simhash(docs, id_col, text_col).cache()
    width = 64 // blocks
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    # arithmetic shift is fine: the AND clears sign-fill bits
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)).cast("long")
                    for b in range(blocks)
                ]
            )
        ).alias("block_idx", "block_bits"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_bits") == F.col("b.block_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    use_lsh: bool = False,
    planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold.

    ``use_lsh=False``: exact all-pairs — the correctness baseline (and
    DuckDB-oracle-checkable), O(n²): small SF only. ``use_lsh=True``: the
    scale path — bucket by random-hyperplane sign signature, then one
    vectorized gram matrix per bucket via ``applyInPandas`` (Arrow batch
    in, BLAS matmul, pairs above threshold out). Each vector lives in
    exactly one bucket, so no candidate join ever materializes and no
    pair is emitted twice. Recall <1 for pairs straddling a hyperplane —
    raise it by lowering ``planes``; raising ``planes`` shrinks buckets
    (each bucket must fit one executor's memory, the operative knob at
    100 TB). Measured 6x faster than the bucket-equi-join + per-pair
    cosine formulation at sf0.1."""
    from ..functions.vectors import cosine

    if use_lsh:
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import DoubleType, StructField, StructType

        from .similarity import hyperplane_signature

        id_type = emb.schema[id_col].dataType
        out_schema = StructType(
            [
                StructField("id_a", id_type),
                StructField("id_b", id_type),
                StructField("cos", DoubleType()),
            ]
        )

        def gram(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            m = np.stack(pdf[vec_col].values).astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            cos = m @ m.T
            iu, ju = np.triu_indices(len(ids), k=1)
            keep = cos[iu, ju] >= threshold
            ia, ib = ids[iu[keep]], ids[ju[keep]]
            return pd.DataFrame(
                {
                    "id_a": np.minimum(ia, ib),
                    "id_b": np.maximum(ia, ib),
                    "cos": cos[iu, ju][keep],
                }
            )

        # plan-time dim probe (one-row scan, same pattern as
        # gram_covariance): the hyperplane literals need the length
        head = emb.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
        dim = len(head[0]) if head is not None else 1
        bucketed = emb.withColumn(
            "bucket", hyperplane_signature(f"`{vec_col}`", planes, dim=dim)
        )
        return bucketed.groupBy("bucket").applyInPandas(gram, out_schema)

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    return joined.select(
        "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos")
    ).filter(F.col("cos") >= threshold)


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.5,
    max_iterations: int = 10,
) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs -> connected
    components by iterative min-label propagation -> (id, cluster_id)
    where cluster_id is the smallest doc id in the component.

    This is the genuinely iterative operator: each round is one join +
    one min-aggregate, the classic Spark connected-components loop (see
    :func:`connected_components`). Oracle-checked end-to-end since the
    minhash family became deterministic integer arithmetic — the DuckDB
    twin replays the estimated edges and resolves the components with a
    WITH RECURSIVE reachability CTE."""
    pairs = minhash_candidate_pairs(docs, id_col, text_col).filter(
        F.col("est_jaccard") >= est_threshold
    )
    nodes = docs.select(F.col(id_col).alias("id"))
    return connected_components(nodes, pairs, max_iterations=max_iterations)


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 10,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``nodes`` is an (id) frame, ``pairs`` an undirected edge list;
    returns (id, cluster_id) where cluster_id is the smallest id in the
    component.

    Scale shape: each round is ONE edges-to-labels equi-join + ONE
    min-aggregate, both hash-partitioned on the node id; rounds needed =
    graph diameter (near-dup components are shallow). Labels
    localCheckpoint per round so the plan depth stays constant, and the
    loop exits early once no label changes. Deterministic (min is
    order-free), so with deterministic edges the result is
    SQL-oracle-checkable (recursive reachability CTE)."""
    # symmetrize in ONE pass over the pair frame: each pair row emits
    # both directions through an exploded 2-element array. Callers pass
    # DERIVED pair frames (banded MinHash joins, prefix self-joins with
    # exact verification), and the former two-branch union re-executed
    # that whole derivation once per direction — union subtrees only
    # share work at exchange boundaries and the verification tail has
    # none (measured: the exact-Jaccard verify pass ran twice in
    # jaccard_dup_clusters, ~2 s of its ~7 s)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("cluster_id")).cache()
    rounds = RoundPins()
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # the new label and the did-it-move flag are computed in the SAME
        # select, so the convergence probe below reads the materialized
        # checkpoint instead of re-running the round's join (min-label
        # only ever decreases, so "< old" is exactly "changed")
        new_val = F.least(
            F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
        )
        # localCheckpoint (not cache): truncates the lineage so the
        # logical plan doesn't deepen by one join per round — with plain
        # cache, analysis time and recovery cost grow linearly in
        # iterations, which is what kills long CC runs at scale. LAZY:
        # the convergence count below computes every partition (a full
        # aggregate, no limit short-circuit), so it also fills the pin
        # and no separate checkpoint action runs. A round is still about
        # 6 jobs: the pin's shuffle-map stages plus the count's two
        # (_pins module docstring).
        new_labels = rounds.pin(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                new_val.alias("cluster_id"),
                (new_val < F.col("cluster_id")).alias("_chg"),
            )
        )
        changed = new_labels.filter("_chg").count()
        rounds.materialized()
        # round 0's labels are a .cache() frame, outside the pins; on
        # later rounds' checkpoints DataFrame.unpersist is a no-op
        labels.unpersist()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # exhausting the budget with labels still moving means some
        # component has diameter > max_iterations: the result would be
        # silently partial (and any exact oracle would mismatch with no
        # pointer at the cause) — fail loudly instead
        from ..errors import AvroSqlError

        raise AvroSqlError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (component diameter exceeds the budget); raise "
            "max_iterations"
        )
    edges.unpersist()
    return labels.orderBy("id")


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "exact",
    shingle: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Remove training documents that leak evaluation content — the
    benchmark-decontamination pass every training pipeline needs.

    ``method="exact"``: drop train docs whose normalized-text md5
    fingerprint appears in the test set. One anti-join on a 16-byte key;
    the test fingerprint set is usually tiny → broadcast, so the train
    side never shuffles.

    ``method="ngram"``: drop train docs sharing ≥``threshold`` n-gram
    Jaccard with ANY test doc — catches paraphrased/partial leaks.
    Bipartite version of :func:`ngram_jaccard_pairs`: shingles of both
    sides meet in a shingle-keyed join (shuffle is |shingles|, never
    |train|×|test|), with the same ``max_doc_freq`` hot-shingle guard.

    ``method="containment"``: drop train docs CONTAINING ≥``threshold``
    of some test doc's shingles (Broder's one-sided containment
    |T∩R| / |T|). The right contamination test when train docs are much
    longer than benchmark items: a 10-line eval question embedded in a
    10-page train doc has tiny Jaccard (union is dominated by the train
    doc) but containment ~1. Same bipartite shingle-join plan as
    ``ngram`` — only the acceptance arithmetic differs.
    """
    if method == "exact":
        test_fps = test.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
        keyed = train.withColumn("__fp", fingerprint(F.col(text_col)))
        return (
            keyed.join(
                F.broadcast(test_fps), keyed["__fp"] == test_fps["fp"], "left_anti"
            ).drop("__fp")
        )
    if method not in ("ngram", "containment"):
        raise ValueError(
            f"unknown method {method!r} (use 'exact', 'ngram' or 'containment')"
        )
    # same hashed-key rationale as ngram_jaccard_pairs: the bipartite
    # join shuffles 8-byte ints, not shingle strings
    tr = _shingles(train, id_col, text_col, shingle, out_id="tid").select(
        "tid", F.xxhash64("s_raw").alias("s")
    )
    # the test/benchmark side stays un-spread (it is the small side; a
    # repartition would add an exchange for nothing) but still
    # tokenizes once before the gram transform
    from ..functions.text import word_ngrams_of

    te = (
        test.select(
            F.col(id_col).alias("eid"), F.split(F.lower(F.col(text_col)), " ").alias("w")
        )
        .select(
            "eid", F.explode(F.array_distinct(word_ngrams_of(F.col("w"), shingle))).alias("s_raw")
        )
        .select("eid", F.xxhash64("s_raw").alias("s"))
    )
    # each side feeds its size aggregate AND the bipartite join (plus the
    # doc-frequency pass when capped) — cache so explode+hash runs once
    tr, te = tr.cache(), te.cache()
    if max_doc_freq is not None:
        hot = (
            tr.select(F.col("tid").alias("d"), "s").union(te.select(F.col("eid").alias("d"), "s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        tr = tr.join(F.broadcast(hot), "s", "left_anti")
        te = te.join(F.broadcast(hot), "s", "left_anti")
    tr_sizes = tr.groupBy("tid").agg(F.count(F.lit(1)).alias("tn"))
    te_sizes = te.groupBy("eid").agg(F.count(F.lit(1)).alias("en"))
    inter = (
        tr.join(te, "s")
        .groupBy("tid", "eid")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    score = (
        # containment of the TEST doc in the train doc: |T∩R| / |T|
        F.col("i").cast("double") / F.col("en")
        if method == "containment"
        else F.col("i").cast("double") / (F.col("tn") + F.col("en") - F.col("i"))
    )
    contaminated = (
        inter.join(tr_sizes, "tid")
        .join(te_sizes, "eid")
        .filter(score >= threshold)
        .select(F.col("tid").alias(id_col))
        .distinct()
    )
    return train.join(contaminated, id_col, "left_anti")


def incremental_dedup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Continuous-ingest dedup: drop new documents whose content
    fingerprint already exists in the historical corpus, then dedup the
    batch against itself (min-id representative). The anti join runs on
    16-byte hashes, never full text — at 100 TB the `seen` side is a
    fingerprint-only table a fraction of corpus size, and the join
    shuffles hashes, not documents.

    Cites the reference's per-record model (AvroSql.scala:67-84 — one
    record in, one record out): the batch-vs-history shape is what that
    host-driven model cannot express and a table engine gets for free."""
    new_fp = new_docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    seen_fp = seen_docs.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    fresh = new_fp.join(seen_fp, "fp", "left_anti")
    keep = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return new_docs.join(keep, id_col, "left_semi")


def duplicated_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    n: int = 8,
    heavy_frac: float = 0.5,
) -> DataFrame:
    """Exact duplicated-SPAN report (substring-level dedup signal, the
    metric behind suffix-array training-data dedup a la Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, the fraction of its n-word spans that also occur in
    at least one OTHER document, aggregated per ``group_col`` — average
    duplicated-span fraction, and how many docs are "heavy" (>=
    ``heavy_frac`` of their spans duplicated). Docs shorter than ``n``
    words contribute no spans and are excluded.

    Scale shape: spans are hashed to 64-bit keys before any shuffle
    (xxhash64 — skinny rows, same trick as the shingle self-joins), the
    span-frequency aggregate combines map-side, and the freq re-attach
    is a post-aggregation equi-join (one row per distinct span on the
    build side). The exploded span frame feeds two consumers
    (frequency count + re-attach) so it is cached per the module cache
    contract. Hot spans (stop-phrase n-grams) skew the re-attach join;
    AQE skew-join handles it, and raising ``n`` shrinks hot-span mass.
    """
    from ..functions.text import word_ngrams_of

    # spread + tokenize-once: without the repartition the explode runs
    # on the compacted scan's 1-3 partitions, and word_shingles would
    # re-split the text n times per span (no CSE inside lambda) — the
    # two together measured ~20x on this operator at sf0.1
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("did"),
        F.col(group_col).alias("grp"),
        F.split(F.lower(F.col(text_col)), " ").alias("w"),
    )
    sh = (
        toks.select(
            "did",
            "grp",
            F.explode(F.array_distinct(word_ngrams_of(F.col("w"), n))).alias("span"),
        )
        .withColumn("h", F.xxhash64("span"))
        .drop("span")
        .cache()
    )
    # spans are distinct within a doc (word_shingles dedups), so a plain
    # count per hash IS the number of docs containing the span
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        sh.join(freq, "h")
        .groupBy("did", "grp")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("dup_spans"),
        )
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.col("dup_spans") / F.col("n_spans")), 9).alias("avg_dup_frac"),
            F.sum(
                (F.col("dup_spans") >= F.lit(heavy_frac) * F.col("n_spans")).cast("long")
            ).alias("n_heavy"),
        )
        .withColumnRenamed("grp", group_col)
        .orderBy(group_col)
    )


def jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the AllPairs /
    PPJoin candidate bound — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    identical output to :func:`ngram_jaccard_pairs` at the same
    threshold, but the self-join runs only on each document's PREFIX —
    its ``|d| - ceil(t*|d|) + 1`` globally-rarest shingles — instead of
    all of them. Two sets with Jaccard >= t must share at least one
    prefix shingle under any consistent global order, so no pair is
    missed; exact verification then computes true Jaccard on the
    candidates.

    Scale shape vs the full self-join: at t=0.5 the join input drops to
    ~half the shingle rows, and — because the global order is
    document-frequency ASCENDING — prefixes preferentially hold RARE
    shingles, so the hot-shingle N^2 bucket blowup that forces
    ``max_doc_freq`` capping in the plain join largely disappears
    without changing the answer. Verification attaches the full (hashed,
    sorted) shingle arrays only to surviving candidate pairs and
    computes the intersection in-row (``array_intersect``), no second
    shingle shuffle. The per-doc array frame feeds multiple consumers
    (prefix explode + both verification sides) and is cached per the
    module contract; the shingle frame has a single consumer since the
    df window replaced the groupBy+join and needs no cache."""
    sh = _shingles(docs, id_col, text_col, shingle, out_id="id").select(
        "id", F.xxhash64("s_raw").alias("s")
    )
    # deterministic global order: (doc frequency asc, hash asc); each
    # doc's shingles sorted into that order, prefix = first p entries.
    # df is attached with a count-over-window instead of the former
    # groupBy(s)+join-back: ONE s-keyed exchange of the shingle rows
    # instead of two (and no cache of the shingle frame needed — it now
    # has a single consumer). Skew exposure is unchanged: the join this
    # replaces shuffled the same rows by the same key; the window adds
    # only an in-partition sort. Same integers, same rows.
    wdf = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    )
    ranked = wdf.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("df", "s"))).alias("rs")
    )
    arr = F.transform(F.col("rs"), lambda r: r["s"])
    n = F.size("rs")
    plen = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    d = ranked.select(
        F.col("id"), arr.alias("toks"), F.slice(arr, F.lit(1), plen).alias("prefix")
    ).cache()
    pref = d.select("id", F.explode("prefix").alias("s"))
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    withsets = cand.join(
        d.select(F.col("id").alias("id_a"), F.col("toks").alias("ta")), "id_a"
    ).join(d.select(F.col("id").alias("id_b"), F.col("toks").alias("tb")), "id_b")
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (F.size("ta") + F.size("tb") - inter)
    return withsets.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def incremental_near_dup(
    new_docs: DataFrame,
    seen_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Continuous-ingest NEAR-duplicate gate (the MinHash companion to
    :func:`incremental_dedup`'s exact-fingerprint pass): drop new docs
    whose estimated Jaccard vs ANY historical doc reaches ``threshold``.
    In production the historical side is the stored signature table —
    signatures are computed once at ingest and reused every batch, so
    the recurring cost is banding + one band equi-join, never
    re-shingling the corpus.

    Scale shape: both sides band their signatures (skinny 24-byte band
    rows), meet in ONE equi-join on (band_idx, band_hash), matched new
    docs verify against the candidate's full signature (re-attached
    post-dedup), and survivors come back via a broadcast-friendly
    left_anti on ids. No new-vs-new comparison — within-batch dedup is
    :func:`minhash_candidate_pairs`'s job if wanted."""
    def _banded(sigs: DataFrame):
        return _band_rows(sigs, id_col, num_hashes, bands)

    new_sigs = minhash_signatures(new_docs, id_col, text_col, num_hashes).cache()
    seen_sigs = minhash_signatures(seen_docs, id_col, text_col, num_hashes).cache()
    cand = (
        _banded(new_sigs)
        .alias("n")
        .join(
            _banded(seen_sigs).alias("s"),
            (F.col("n.band_idx") == F.col("s.band_idx"))
            & (F.col("n.band_hash") == F.col("s.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"), F.col(f"s.{id_col}").alias("seen_id")
        )
        .distinct()
    )
    est = (
        cand.join(
            new_sigs.select(F.col(id_col).alias("new_id"), F.col("signature").alias("sig_n")),
            "new_id",
        )
        .join(
            seen_sigs.select(F.col(id_col).alias("seen_id"), F.col("signature").alias("sig_s")),
            "seen_id",
        )
        .select(
            "new_id",
            (
                F.size(F.filter(F.zip_with("sig_n", "sig_s", lambda a, b: a == b), lambda x: x))
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    dupes = est.filter(F.col("est_jaccard") >= threshold).select(
        F.col("new_id").alias(id_col)
    ).distinct()
    return new_docs.join(dupes, id_col, "left_anti")


def remove_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Duplicated-span REMOVAL (the transform behind the
    :func:`duplicated_span_stats` report, a la Lee et al. 2022): every
    n-word span occurring in >= 2 documents keeps its copies only in the
    OWNER document (the smallest doc id containing the span — a
    deterministic, coordination-free election: just ``min(doc_id)`` in
    the span-frequency aggregate); in all other documents the tokens
    covered by that span are dropped and the text is rebuilt. Returns
    the input rows plus ``n_tokens_before`` / ``n_tokens_after`` and the
    rebuilt ``text_col``. Span MATCHING is case-insensitive (tokens are
    lowercased before hashing) but the rebuilt text keeps each surviving
    token's ORIGINAL case; inter-token whitespace is normalized to
    single spaces (the rebuild is token-level by construction).

    Scale shape: span instances are (doc, pos, xxhash64) rows — skinny
    before any shuffle; ownership is a countDistinct+min aggregate on
    the span hash (map-side combined); the removal join is span-hash
    equi (AQE skew-join absorbs stop-phrase spans); covered positions
    collect per doc (bounded by doc length) and the rebuild is IN-ROW:
    a boolean coverage mask via `exists` over the start list, cost
    O(len x starts). A document that is almost entirely duplicated
    spans degrades toward O(len^2) in that mask — for adversarial-long
    docs, merge the start list into intervals in a pandas UDF first.
    The instance frame feeds two consumers (ownership + removal join)
    so it is cached per the module cache contract."""
    # _wo: original-case tokens for the rebuild; _ws: lowercased twins
    # for span hashing. Both come from the same \s+ split, so positions
    # align one-to-one.
    toks = (
        docs.withColumn("_wo", F.split(F.col(text_col), r"\s+"))
        .withColumn("_ws", F.transform(F.col("_wo"), F.lower))
        .withColumn("_nw", F.size("_ws"))
    )
    starts = F.when(
        F.col("_nw") >= n, F.sequence(F.lit(1), F.col("_nw") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    inst = (
        toks.select(
            F.col(id_col).alias("did"),
            F.explode(starts).alias("pos"),
            F.col("_ws"),
        )
        .select(
            "did",
            "pos",
            F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("_ws"), F.col("pos"), n))
            ).alias("h"),
        )
        .cache()
    )
    owners = inst.groupBy("h").agg(
        F.count_distinct("did").alias("nd"), F.min("did").alias("owner")
    )
    removals = (
        inst.join(owners.filter(F.col("nd") >= 2), "h")
        .filter(F.col("did") != F.col("owner"))
        .groupBy("did")
        .agg(F.array_distinct(F.collect_list("pos")).alias("rm"))
    )
    out = toks.join(removals, F.col(id_col) == F.col("did"), "left").drop("did")
    keep = F.filter(
        F.sequence(F.lit(1), F.col("_nw")),
        lambda i: ~F.exists(
            F.coalesce(F.col("rm"), F.array().cast("array<int>")),
            lambda s: (s <= i) & (i < s + n),
        ),
    )
    return (
        out.withColumn("_keep", keep)
        .withColumn("n_tokens_before", F.col("_nw").cast("long"))
        .withColumn("n_tokens_after", F.size("_keep").cast("long"))
        .withColumn(
            text_col,
            F.concat_ws(
                " ", F.transform(F.col("_keep"), lambda i: F.element_at("_wo", i))
            ),
        )
        .drop("_wo", "_ws", "_nw", "rm", "_keep")
    )


def source_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    prefix_len: "int | None" = None,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    number of duplicate documents (normalized-text fingerprints) they
    share and the Jaccard overlap of their fingerprint sets. The triage
    view before mixing crawls — two sources with high overlap mostly
    re-crawl each other and double-weighting them skews the mixture; it
    is also the cheap screen for benchmark contamination between an
    eval source and a train source.

    ``prefix_len`` fingerprints only the first N normalized characters
    (head dedup): re-crawls and syndicated boilerplate share document
    heads long after trailing chrome/timestamps diverge, so the head
    fingerprint catches overlap the full-text hash misses — at the cost
    of some false sharing between legitimately same-opening documents.
    ``None`` hashes the full text (exact-duplicate overlap only).

    Scale shape: NO fingerprint self-join. Distinct (fp, source) pairs
    come from one shuffle; the per-fingerprint source-set is a
    ``collect_set`` BOUNDED by the number of sources (a handful), and
    the C(sources,2) pairs per fingerprint are generated IN-ROW from
    the sorted set — the same linear pair-generation shape as
    ``copurchase_pairs``. Per-source totals are a second aggregate on
    the same skinny frame and broadcast back (sources² rows)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    if prefix_len is not None:
        normalized = F.substring(normalized, 1, prefix_len)
    fps = docs.select(
        F.md5(normalized.cast("binary")).alias("fp"),
        F.col(source_col).alias("source"),
    ).distinct()
    totals = fps.groupBy("source").agg(F.count(F.lit(1)).alias("n_fps"))
    sets_ = fps.groupBy("fp").agg(F.array_sort(F.collect_set("source")).alias("ss"))
    m = F.size("ss")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda i: F.transform(
                F.sequence(i + 1, m),
                lambda j: F.struct(
                    F.element_at("ss", i).alias("source_a"),
                    F.element_at("ss", j).alias("source_b"),
                ),
            ),
        )
    )
    shared = (
        sets_.filter(m >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = F.broadcast(totals.select(F.col("source").alias("source_a"), F.col("n_fps").alias("na")))
    tb = F.broadcast(totals.select(F.col("source").alias("source_b"), F.col("n_fps").alias("nb")))
    return (
        shared.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def cluster_representatives(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_threshold: float = 0.5,
) -> DataFrame:
    """The dedup family's OUTPUT step: elect one representative document
    per near-duplicate cluster (longest text wins, smallest id breaks
    ties) — the frame a curation pipeline actually keeps after
    :func:`near_dup_clusters` labels the corpus.

    The election is a max-struct argmax aggregate — (n_chars, -id)
    under MAX gives longest-then-smallest-id — NOT a row_number window,
    so a pathological boilerplate mega-cluster is partial-aggregated
    map-side instead of sorted on one task (same rationale as
    cdc_snapshot). One extra shuffle on cluster_id over a skinny
    (cluster_id, id, n_chars) frame."""
    clusters = near_dup_clusters(
        docs, id_col=id_col, text_col=text_col, est_threshold=est_threshold
    )
    sized = clusters.join(
        docs.select(F.col(id_col).alias("id"), "n_chars"), "id"
    )
    agg = sized.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.struct(F.col("n_chars"), (-F.col("id")).alias("neg_id"))).alias("m"),
    )
    return agg.select(
        "cluster_id",
        (-F.col("m.neg_id")).alias("rep_id"),
        "n_members",
        F.col("m.n_chars").alias("rep_n_chars"),
    ).orderBy("cluster_id")


def capture_recapture_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL underlying
    document population behind every source pair (Chapman 1951; the
    Lincoln-Petersen mark-recapture estimator with the +1 bias
    correction, defined even at zero overlap): treating source A's
    fingerprint set as the marked sample and source B's as the
    recapture, N_hat = (nA+1)(nB+1)/(m+1) - 1 estimates how many
    distinct documents the two crawls are jointly drawing from, and
    coverage = union/N_hat says how much of that pool is already
    crawled — the planning complement of :func:`source_overlap`
    (which reports only the OBSERVED overlap).

    Fingerprints are the same whitespace-normalized full-text md5 as
    source_overlap, so the two reports share a universe. Scale shape
    identical too: no self-join — distinct (fp, source) rows, in-row
    pair generation from the per-fingerprint source set (bounded by
    the source-domain size), per-source totals broadcast back. Pairs
    with zero shared fingerprints are still emitted (the sources-sized
    cross of totals), where the estimator degenerates to the stated
    lower bound. Exactness: all inputs integer; the (nA+1)(nB+1)
    product is computed in DECIMAL(38,0); the division and the two
    coverage ratios are the only float ops."""
    normalized = F.regexp_replace(
        F.lower(F.trim(F.col(text_col))), r"\s+", " "
    )
    fps = docs.select(
        F.md5(normalized.cast("binary")).alias("fp"),
        F.col(source_col).alias("source"),
    ).distinct()
    totals = fps.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_fps")
    )
    sets_ = fps.groupBy("fp").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    msz = F.size("ss")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), msz - 1),
            lambda i: F.transform(
                F.sequence(i + 1, msz),
                lambda j: F.struct(
                    F.element_at("ss", i).alias("source_a"),
                    F.element_at("ss", j).alias("source_b"),
                ),
            ),
        )
    )
    shared = (
        sets_.filter(msz >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("m"))
    )
    ta = totals.select(
        F.col("source").alias("source_a"), F.col("n_fps").alias("na")
    )
    tb = totals.select(
        F.col("source").alias("source_b"), F.col("n_fps").alias("nb")
    )
    pairs = (
        ta.crossJoin(F.broadcast(tb))  # sources-sized frame, BNLJ
        .filter(F.col("source_a") < F.col("source_b"))
        .join(shared, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "na",
            "nb",
            F.coalesce(F.col("m"), F.lit(0)).alias("m"),
        )
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    nhat = (
        (dec(F.col("na") + F.lit(1)) * dec(F.col("nb") + F.lit(1))).cast(
            "double"
        )
        / (F.col("m") + F.lit(1)).cast("double")
        - F.lit(1.0)
    )
    union_sz = F.col("na") + F.col("nb") - F.col("m")
    return pairs.select(
        "source_a",
        "source_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("m").cast("long").alias("n_shared"),
        (F.round(nhat, 6) + F.lit(0.0)).alias("chapman_total"),
        (
            F.round(union_sz.cast("double") / nhat, 6) + F.lit(0.0)
        ).alias("crawl_coverage"),
    ).orderBy("source_a", "source_b")
