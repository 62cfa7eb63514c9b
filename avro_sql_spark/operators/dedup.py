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
from ._scan import spread

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


def _shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int, out_id: "str | None" = None
) -> DataFrame:
    """Exploded DISTINCT word n-shingles as (out_id, s_raw) STRINGS —
    spread across the cluster first (``_scan.spread``) and tokenized
    ONCE into a materialized array column before the gram transform.
    Calling word_shingles(text, n) directly inlines its split() into
    every element_at of every gram (Catalyst does no CSE inside
    higher-order-function lambdas), re-splitting the text n times per
    shingle — measured ~20x on 8-word spans over a compacted scan."""
    from ..functions.text import word_ngrams_of

    out = out_id or id_col
    toks = spread(docs, id_col).select(
        F.col(id_col).alias(out), F.split(F.lower(F.col(text_col)), " ").alias("w")
    )
    return toks.select(
        out, F.explode(F.array_distinct(word_ngrams_of(F.col("w"), n))).alias("s_raw")
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fingerprint, n_copies, canonical_id) for groups with >1 member."""
    return (
        spread(docs, "doc_id").select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep one representative (min id) per fingerprint — the 100 TB
    version of dropDuplicates(text): dedup on the 16-byte hash, never on
    the full text column."""
    keep = (
        spread(docs, "doc_id").select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(id, signature array<bigint>) — min over word 3-shingles of 64
    hashes from the full-range universal-hash family (a_i*x + b_i) mod
    2^31-1 on an md5-derived base (see ``_minhash_params``), all
    JVM-side.

    Shape: explode shingles → k affine hashes per shingle → groupBy(id)
    with k MIN aggregates → pack array. The k aggregates are combined
    map-side (partial aggregation), so the shuffle carries one k-long row
    per doc per partition — not per shingle — and the expression tree
    stays small enough for fast codegen (k wide array-fold expressions
    were ~100× slower to compile). md5 runs ONCE per shingle (the k
    permutations are multiply-add-mod on its 48-bit cut), and the whole
    family is deterministic integer arithmetic the DuckDB oracle
    replicates exactly."""
    sh = _shingles(docs, "doc_id", "text", 3)
    p = F.lit(_MINHASH_P)
    based = sh.select(
        F.col("doc_id"),
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
        "`doc_id`",  # backticks: selectExpr must quote what F.col would
        *[
            f"({a} * x + {b}) % {_MINHASH_P} AS h{i}"
            for i, (a, b) in ((i, _minhash_params(i)) for i in range(64))
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(64)]
    )
    return mins.selectExpr(
        "`doc_id`",
        "array(" + ", ".join(f"h{i}" for i in range(64)) + ") AS signature",
    )


def _band_rows(sigs: DataFrame) -> DataFrame:
    """Skinny (doc_id, band_idx, band_hash) rows from a minhash
    signature table: the 64 hashes cut into 16 bands of 4 — the single
    definition of the banding key used by every LSH consumer (batch
    pairs + incremental gate), so a banding change can never diverge
    between them."""
    rows_per_band = 4
    return sigs.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
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


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH banding: split the 64-hash signature into 16 bands of 4,
    hash each band, self-join on (band_idx, band_hash). Only same-bucket
    docs meet in the shuffle; estimated Jaccard = matching minhash
    fraction."""
    # cache the per-doc signature table: it has THREE consumers (band
    # explode + both re-attach joins) and Catalyst does not reuse the
    # aggregation exchange across them — uncached, the whole
    # shingle-explode + k-hash + k-min pipeline would run three times.
    # One 8k-byte row per doc, far smaller than the corpus; the
    # CacheManager dedupes repeated calls by logical plan.
    sigs = minhash_signatures(docs).cache()
    # the band self-join shuffles SKINNY rows (id, band_idx, band_hash =
    # 24 bytes) — not the 64-long signature, which would ride the shuffle
    # 16 times per doc. Signatures re-attach once per side AFTER
    # candidate pairs are deduped, via two per-doc joins.
    banded = _band_rows(sigs)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b"))
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
                / F.lit(64.0)
            ).alias("est_jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
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
        _shingles(docs, "doc_id", "text", 3, out_id="id")
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


def simhash(docs: DataFrame) -> DataFrame:
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
        _shingles(docs, "doc_id", "text", 3)
        .select(F.col("doc_id"), F.md5(F.col("s_raw").cast("binary")).alias("m"))
        .select(
            F.col("doc_id"),
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

    votes = ex.groupBy("doc_id").agg(
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
    return votes.select(F.col("doc_id"), F.when(guard.isNull(), sim).alias("simhash"))


def simhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Hamming-banded SimHash near-dup pairs: split the 64-bit fingerprint
    into 4 equal 16-bit blocks, equi-join on (block_idx, block_bits),
    then exact-verify with a popcount distance filter (Hamming distance
    <= 3).

    Pigeonhole guarantee: two fingerprints within Hamming distance 3
    agree on at least one of the 4 whole blocks, so recall is exact —
    every qualifying pair collides in some band. Same scale shape as
    ``minhash_candidate_pairs``: the band self-join shuffles skinny
    (id, block_idx, block_bits) rows, only same-bucket docs ever meet,
    and fingerprints re-attach per-doc AFTER pair dedup.
    """
    # cached: consumed by the band explode and both re-attach joins;
    # caller owns cleanup (spark.catalog.clearCache between pipelines)
    sigs = simhash(docs).cache()
    banded = sigs.select(
        F.col("doc_id"),
        F.posexplode(
            F.array(
                *[
                    # arithmetic shift is fine: the AND clears sign-fill bits
                    F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).cast("long")
                    for b in range(4)
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
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


def embedding_near_duplicates(
    emb: DataFrame, threshold: float = 0.95, use_lsh: bool = False, planes: int = 8
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

        id_type = emb.schema["vec_id"].dataType
        out_schema = StructType(
            [
                StructField("id_a", id_type),
                StructField("id_b", id_type),
                StructField("cos", DoubleType()),
            ]
        )

        def gram(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["embedding"].values).astype(np.float64)
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
        head = emb.filter(F.col("embedding").isNotNull()).select("embedding").first()
        dim = len(head[0]) if head is not None else 1
        bucketed = emb.withColumn(
            "bucket", hyperplane_signature("`embedding`", planes, dim=dim)
        )
        return bucketed.groupBy("bucket").applyInPandas(gram, out_schema)

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    return joined.select(
        "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos")
    ).filter(F.col("cos") >= threshold)


def near_dup_clusters(docs: DataFrame) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs (estimated
    Jaccard >= 0.5) -> connected components by iterative min-label
    propagation -> (id, cluster_id) where cluster_id is the smallest doc
    id in the component.

    This is the genuinely iterative operator: each round is one join +
    one min-aggregate, the classic Spark connected-components loop (see
    :func:`connected_components`). Oracle-checked end-to-end since the
    minhash family became deterministic integer arithmetic — the DuckDB
    twin replays the estimated edges and resolves the components with a
    WITH RECURSIVE reachability CTE."""
    pairs = minhash_candidate_pairs(docs).filter(
        F.col("est_jaccard") >= 0.5
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return connected_components(nodes, pairs)


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``nodes`` is an (id) frame, ``pairs`` an undirected (id_a, id_b)
    edge list;
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
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
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
    for _ in range(10):
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
        # component has diameter > 10: the result would be
        # silently partial (and any exact oracle would mismatch with no
        # pointer at the cause) — fail loudly instead
        from ..errors import AvroSqlError

        raise AvroSqlError(
            "connected_components did not converge in 10 "
            "iterations (component diameter exceeds the budget)"
        )
    edges.unpersist()
    return labels.orderBy("id")


def decontaminate(
    train: DataFrame, test: DataFrame, method: str = "exact", threshold: float = 0.5
) -> DataFrame:
    """Remove training documents that leak evaluation content — the
    benchmark-decontamination pass every training pipeline needs. Both
    sides are ``doc_id``/``text`` frames.

    ``method="exact"``: drop train docs whose normalized-text md5
    fingerprint appears in the test set. One anti-join on a 16-byte key;
    the test fingerprint set is usually tiny → broadcast, so the train
    side never shuffles.

    ``method="ngram"``: drop train docs sharing ≥``threshold`` n-gram
    Jaccard with ANY test doc — catches paraphrased/partial leaks.
    Bipartite version of :func:`ngram_jaccard_pairs`: shingles of both
    sides meet in a shingle-keyed join (shuffle is |shingles|, never
    |train|×|test|).

    ``method="containment"``: drop train docs CONTAINING ≥``threshold``
    of some test doc's shingles (Broder's one-sided containment
    |T∩R| / |T|). The right contamination test when train docs are much
    longer than benchmark items: a 10-line eval question embedded in a
    10-page train doc has tiny Jaccard (union is dominated by the train
    doc) but containment ~1. Same bipartite shingle-join plan as
    ``ngram`` — only the acceptance arithmetic differs.
    """
    if method == "exact":
        test_fps = test.select(fingerprint(F.col("text")).alias("fp")).distinct()
        keyed = train.withColumn("__fp", fingerprint(F.col("text")))
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
    tr = _shingles(train, "doc_id", "text", 3, out_id="tid").select(
        "tid", F.xxhash64("s_raw").alias("s")
    )
    # the test/benchmark side stays un-spread (it is the small side; a
    # repartition would add an exchange for nothing) but still
    # tokenizes once before the gram transform
    from ..functions.text import word_ngrams_of

    te = (
        test.select(
            F.col("doc_id").alias("eid"), F.split(F.lower(F.col("text")), " ").alias("w")
        )
        .select(
            "eid", F.explode(F.array_distinct(word_ngrams_of(F.col("w"), 3))).alias("s_raw")
        )
        .select("eid", F.xxhash64("s_raw").alias("s"))
    )
    # each side feeds its size aggregate AND the bipartite join — cache
    # so explode+hash runs once
    tr, te = tr.cache(), te.cache()
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
        .select(F.col("tid").alias("doc_id"))
        .distinct()
    )
    return train.join(contaminated, "doc_id", "left_anti")


def incremental_dedup(new_docs: DataFrame, seen_docs: DataFrame) -> DataFrame:
    """Continuous-ingest dedup: drop new documents whose content
    fingerprint already exists in the historical corpus, then dedup the
    batch against itself (min-id representative). The anti join runs on
    16-byte hashes, never full text — at 100 TB the `seen` side is a
    fingerprint-only table a fraction of corpus size, and the join
    shuffles hashes, not documents.

    Cites the reference's per-record model (AvroSql.scala:67-84 — one
    record in, one record out): the batch-vs-history shape is what that
    host-driven model cannot express and a table engine gets for free."""
    new_fp = new_docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("fp"))
    seen_fp = seen_docs.select(fingerprint(F.col("text")).alias("fp")).distinct()
    fresh = new_fp.join(seen_fp, "fp", "left_anti")
    keep = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    return new_docs.join(keep, "doc_id", "left_semi")


def duplicated_span_stats(docs: DataFrame) -> DataFrame:
    """Exact duplicated-SPAN report (substring-level dedup signal, the
    metric behind suffix-array training-data dedup a la Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, the fraction of its 8-word spans that also occur in
    at least one OTHER document, aggregated per ``source`` — average
    duplicated-span fraction, and how many docs are "heavy" (>= half
    of their spans duplicated). Docs shorter than 8
    words contribute no spans and are excluded.

    Scale shape: spans are hashed to 64-bit keys before any shuffle
    (xxhash64 — skinny rows, same trick as the shingle self-joins), the
    span-frequency aggregate combines map-side, and the freq re-attach
    is a post-aggregation equi-join (one row per distinct span on the
    build side). The exploded span frame feeds two consumers
    (frequency count + re-attach) so it is cached per the module cache
    contract. Hot spans (stop-phrase n-grams) skew the re-attach join;
    AQE skew-join handles it (longer spans would shrink hot-span mass).
    """
    from ..functions.text import word_ngrams_of

    # spread + tokenize-once (no CSE inside lambdas): ~20x at sf0.1
    toks = spread(docs, "doc_id").select(
        F.col("doc_id").alias("did"),
        F.col("source").alias("grp"),
        F.split(F.lower(F.col("text")), " ").alias("w"),
    )
    sh = (
        toks.select(
            "did",
            "grp",
            F.explode(F.array_distinct(word_ngrams_of(F.col("w"), 8))).alias("span"),
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
                (F.col("dup_spans") >= F.lit(0.5) * F.col("n_spans")).cast("long")
            ).alias("n_heavy"),
        )
        .withColumnRenamed("grp", "source")
        .orderBy("source")
    )


def jaccard_pairs_prefix(docs: DataFrame) -> DataFrame:
    """Exact n-gram Jaccard pairs at Jaccard >= t = 0.5 via PREFIX
    FILTERING (the AllPairs / PPJoin candidate bound — Bayardo et al.
    WWW'07, Xiao et al. WWW'08): identical output to
    :func:`ngram_jaccard_pairs` at the same threshold, but the self-join
    runs only on each document's PREFIX —
    its ``|d| - ceil(t*|d|) + 1`` globally-rarest shingles — instead of
    all of them. Two sets with Jaccard >= t must share at least one
    prefix shingle under any consistent global order, so no pair is
    missed; exact verification then computes true Jaccard on the
    candidates.

    Scale shape vs the full self-join: at t = 0.5 the join input drops to
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
    sh = _shingles(docs, "doc_id", "text", 3, out_id="id").select(
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
    plen = (n - F.ceil(F.lit(0.5) * n) + 1).cast("int")
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
        F.col("jaccard") >= 0.5
    )


def incremental_near_dup(new_docs: DataFrame, seen_docs: DataFrame) -> DataFrame:
    """Continuous-ingest NEAR-duplicate gate (the MinHash companion to
    :func:`incremental_dedup`'s exact-fingerprint pass): drop new docs
    whose estimated Jaccard vs ANY historical doc reaches 0.5.
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
    new_sigs = minhash_signatures(new_docs).cache()
    seen_sigs = minhash_signatures(seen_docs).cache()
    cand = (
        _band_rows(new_sigs)
        .alias("n")
        .join(
            _band_rows(seen_sigs).alias("s"),
            (F.col("n.band_idx") == F.col("s.band_idx"))
            & (F.col("n.band_hash") == F.col("s.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"), F.col("s.doc_id").alias("seen_id")
        )
        .distinct()
    )
    est = (
        cand.join(
            new_sigs.select(F.col("doc_id").alias("new_id"), F.col("signature").alias("sig_n")),
            "new_id",
        )
        .join(
            seen_sigs.select(F.col("doc_id").alias("seen_id"), F.col("signature").alias("sig_s")),
            "seen_id",
        )
        .select(
            "new_id",
            (
                F.size(F.filter(F.zip_with("sig_n", "sig_s", lambda a, b: a == b), lambda x: x))
                / F.lit(64.0)
            ).alias("est_jaccard"),
        )
    )
    dupes = est.filter(F.col("est_jaccard") >= 0.5).select(
        F.col("new_id").alias("doc_id")
    ).distinct()
    return new_docs.join(dupes, "doc_id", "left_anti")


def remove_duplicated_spans(docs: DataFrame) -> DataFrame:
    """Duplicated-span REMOVAL (the transform behind the
    :func:`duplicated_span_stats` report, a la Lee et al. 2022): every
    8-word span occurring in >= 2 documents keeps its copies only in the
    OWNER document (the smallest doc id containing the span — a
    deterministic, coordination-free election: just ``min(doc_id)`` in
    the span-frequency aggregate); in all other documents the tokens
    covered by that span are dropped and the text is rebuilt. Returns
    the input rows plus ``n_tokens_before`` / ``n_tokens_after`` and the
    rebuilt ``text``. Span MATCHING is case-insensitive (tokens are
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
        docs.withColumn("_wo", F.split(F.col("text"), r"\s+"))
        .withColumn("_ws", F.transform(F.col("_wo"), F.lower))
        .withColumn("_nw", F.size("_ws"))
    )
    starts = F.when(
        F.col("_nw") >= 8, F.sequence(F.lit(1), F.col("_nw") - 7)
    ).otherwise(F.array().cast("array<int>"))
    inst = (
        toks.select(
            F.col("doc_id").alias("did"),
            F.explode(starts).alias("pos"),
            F.col("_ws"),
        )
        .select(
            "did",
            "pos",
            F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("_ws"), F.col("pos"), 8))
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
    out = toks.join(removals, F.col("doc_id") == F.col("did"), "left").drop("did")
    keep = F.filter(
        F.sequence(F.lit(1), F.col("_nw")),
        lambda i: ~F.exists(
            F.coalesce(F.col("rm"), F.array().cast("array<int>")),
            lambda s: (s <= i) & (i < s + 8),
        ),
    )
    return (
        out.withColumn("_keep", keep)
        .withColumn("n_tokens_before", F.col("_nw").cast("long"))
        .withColumn("n_tokens_after", F.size("_keep").cast("long"))
        .withColumn(
            "text",
            F.concat_ws(
                " ", F.transform(F.col("_keep"), lambda i: F.element_at("_wo", i))
            ),
        )
        .drop("_wo", "_ws", "_nw", "rm", "_keep")
    )


def source_overlap(docs: DataFrame) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, the
    number of duplicate documents (normalized-text fingerprints) they
    share and the Jaccard overlap of their fingerprint sets. The triage
    view before mixing crawls — two sources with high overlap mostly
    re-crawl each other and double-weighting them skews the mixture; it
    is also the cheap screen for benchmark contamination between an
    eval source and a train source.

    Fingerprints cover only the first 80 normalized characters (head
    dedup): re-crawls and syndicated boilerplate share document heads
    long after trailing chrome/timestamps diverge, so the head
    fingerprint catches overlap the full-text hash misses — at the cost
    of some false sharing between legitimately same-opening documents.

    Scale shape: NO fingerprint self-join. Distinct (fp, source) pairs
    come from one shuffle; the per-fingerprint source-set is a
    ``collect_set`` BOUNDED by the number of sources (a handful), and
    the C(sources,2) pairs per fingerprint are generated IN-ROW from
    the sorted set — the same linear pair-generation shape as
    ``copurchase_pairs``. Per-source totals are a second aggregate on
    the same skinny frame and broadcast back (sources² rows)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    head = F.substring(normalized, 1, 80)
    fps = docs.select(
        F.md5(head.cast("binary")).alias("fp"),
        F.col("source").alias("source"),
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


def cluster_representatives(docs: DataFrame) -> DataFrame:
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
    clusters = near_dup_clusters(docs)
    sized = clusters.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
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


def capture_recapture_overlap(docs: DataFrame) -> DataFrame:
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
        F.lower(F.trim(F.col("text"))), r"\s+", " "
    )
    fps = docs.select(
        F.md5(normalized.cast("binary")).alias("fp"),
        F.col("source").alias("source"),
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
