"""Dataset-curation operators for training-data pipelines (north-star
scope; the reference has no relational surface at all — SURVEY.md §2.2).

The common thread is **determinism**: at 100 TB a train/val/test split or
a 1% sample must be reproducible across reruns, engines, and cluster
sizes, so nothing here uses ``rand()`` (per-task seeding makes Spark's
``rand`` depend on partitioning) or ``TABLESAMPLE`` (block-based, not
row-stable). Instead every selection derives from an md5 content hash of
the row's id — a pure Column expression that any engine reproduces
bit-for-bit (the DuckDB oracles in ``__spark_entry__.py`` run the same
arithmetic), and that is stable under repartitioning, AQE re-planning,
and speculative execution.

Scale shapes:
 - split/sample/stratified-sample are stateless row-local filters — they
   fuse into the scan (whole-stage codegen), shuffle nothing, and
   preserve whatever partitioning the pipeline already has.
 - ``quality_shards`` is the one shuffle-bearing op (a global NTILE needs
   a total order); it exists for *shard assignment* at write time where a
   single ordered pass is the point. At extreme scale swap the exact
   NTILE for range-partitioning on a quantile sketch (approx_percentile)
   — same output contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._scan import spread

# denominator for the md5-derived unit interval; 1e6 buckets keeps the
# quantization error of any fraction below 1e-6 while fitting in 32 bits
_BUCKETS = 1_000_000


def hash_unit(key: Column, salt: str = "") -> Column:
    """Deterministic uniform value in [0, 1) from a row key: the first 8
    hex chars of md5(key[:salt]) scaled to unit. Engine-portable (md5 and
    hex parsing agree across Spark/DuckDB) and independent of
    partitioning — the property ``rand(seed)`` lacks."""
    s = F.concat(key.cast("string"), F.lit(":" + salt)) if salt else key.cast("string")
    h = F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("bigint")
    return ((h % _BUCKETS) / F.lit(float(_BUCKETS))).cast("double")


def deterministic_split(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Add a ``split`` column assigning each row to one named fraction
    (90/5/5 train/val/test). Assignment is a pure function of the
    id, so it is stable across reruns and engines, and a given row keeps
    its split even as the rest of the dataset grows — the property that
    prevents test-set leakage when a corpus is re-crawled."""
    weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    u = hash_unit(F.col(id_col), "split")
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn("split", expr)


def deterministic_sample(df: DataFrame) -> DataFrame:
    """Keep ~10% of rows, chosen by the id hash salted with
    ``"sample"`` — reproducible, partitioning-independent, and
    composable (a larger fraction is a superset, which makes growing a
    sample cheap)."""
    return df.filter(hash_unit(F.col("doc_id"), "sample") < 0.1)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 100% of rare languages, 5% of English). Row-local like
    ``deterministic_sample`` — no groupBy, no sampleBy RNG."""
    frac = None
    for value, f in fractions.items():
        cond = F.col(strata_col) == value
        frac = F.when(cond, F.lit(f)) if frac is None else frac.when(cond, F.lit(f))
    frac = F.lit(0.0) if frac is None else frac.otherwise(F.lit(0.0))
    return df.filter(hash_unit(F.col("doc_id"), "strata") < frac)


def quality_shards(df: DataFrame, n_shards: int = 8) -> DataFrame:
    """Assign rows to ``n_shards`` quality-ordered shards (shard 1 =
    best) with SQL-NTILE semantics over (``quality_score(text)`` desc,
    id) — the
    write-time curriculum / quality-tier pass. The id tiebreak makes
    the assignment total and deterministic despite heavily tied
    heuristic scores. Assignment is :func:`exact_ntile` (two-pass
    range-partitioned rank + the NTILE remainder rule), so no task
    ever holds more than one range partition; the sketch twins
    (:func:`quality_shards_approx` / :func:`quality_shards_sampled`)
    trade the exact equal-size guarantee for one fewer pass."""
    from ..functions.text import quality_score

    scored = df.withColumn("quality", quality_score(F.col("text")))
    return exact_ntile(
        scored, [F.desc("quality"), F.asc("doc_id")], n_shards, out_col="shard"
    )


def quality_shards_approx(df: DataFrame) -> DataFrame:
    """The one-pass variant of :func:`quality_shards` at 8 shards: the exact
    version runs a two-pass range-partitioned rank (:func:`exact_ntile`
    — scale-safe, but two jobs). Here the shard boundaries come from
    an ``approxQuantile`` sketch (Greenwald-Khanna, driver-merged,
    bounded memory) and shard assignment is a row-local comparison
    against the broadcast cut list — no global sort, no shuffle beyond
    the sketch's own tree aggregation, arbitrarily many rows.

    Contract matches quality_shards (shard 1 = best) except shard sizes
    are only approximately equal (within the sketch's relative error
    0.001) and rows
    tied exactly on a cut boundary stay together instead of being split
    by the id tiebreak."""
    from ..functions.text import quality_score

    scored = df.withColumn("quality", quality_score(F.col("text")).cast("double"))
    probs = [i / 8 for i in range(1, 8)]
    cuts = scored.approxQuantile("quality", probs, 0.001)
    if not cuts:
        return scored.withColumn("shard", F.lit(1))
    # cuts ascend; shard 1 = best: >= the top cut, shard n = below all
    expr = None
    for shard, cut in enumerate(reversed(cuts), start=1):
        cond = F.col("quality") >= F.lit(cut)
        expr = F.when(cond, shard) if expr is None else expr.when(cond, shard)
    return scored.withColumn("shard", expr.otherwise(F.lit(8)))


def quality_shards_sampled(df: DataFrame) -> DataFrame:
    """The ORACLE-REPLAYABLE sketch-sharding twin of
    :func:`quality_shards_approx` (8 shards), scoring ``quality_score(text)`` into
    ``quality`` and keyed by ``doc_id``: shard cuts come from EXACT ORDER
    STATISTICS of a deterministic md5-hash sample instead of a
    Greenwald-Khanna sketch. Every step is a closed-form function of
    the data — the hash sample is :func:`hash_unit` (engine-portable),
    the cuts are the ceil(j*m/n)-th sampled scores in (quality DESC,
    id) order (DISCRETE order statistics, no interpolation arithmetic
    to diverge by an ulp), and shard assignment is the same row-local
    broadcast-cut comparison as the GK path. A SQL engine replays it
    exactly; GK's merge-order-dependent cuts never can.

    Scale shape: the sample is rate-bounded (20%); ranking it uses
    :func:`global_rank` (two-pass range-partitioned — no task sorts
    more than one range partition), the 7 cuts collapse to ONE row via
    conditional aggregation, and the full table sees only a broadcast
    of that row. No global sort anywhere."""
    from ..functions.text import quality_score

    scored = df.withColumn("quality", quality_score(F.col("text")).cast("double"))
    sample = scored.filter(hash_unit(F.col("doc_id"), "shardsample") < 0.2).select(
        F.col("doc_id").alias("_sid"), "quality"
    )
    # the sample size rides along from global_rank's own partition-
    # counts frame (total_col) — the former separate count aggregate
    # re-ran the scored-sample subtree a second time
    ranked = global_rank(
        sample, [F.desc("quality"), F.asc("_sid")], rank_col="rk", total_col="m"
    )
    # cut_j = quality at rank ceil(j*m/8) = (j*m + 7) DIV 8
    cuts = (
        ranked
        .groupBy()
        .agg(
            *[
                F.max(
                    F.when(
                        F.expr(f"rk = ({j} * m + 7) DIV 8"),
                        F.col("quality"),
                    )
                ).alias(f"c{j}")
                for j in range(1, 8)
            ]
        )
    )
    out = scored.crossJoin(F.broadcast(cuts))
    expr = None
    for shard in range(1, 8):
        cond = F.col("quality") >= F.col(f"c{shard}")
        expr = F.when(cond, shard) if expr is None else expr.when(cond, shard)
    return out.withColumn("shard", expr.otherwise(F.lit(8))).drop(
        *[f"c{j}" for j in range(1, 8)]
    )


def pack_sequences(df: DataFrame) -> DataFrame:
    """Assign each ``doc_id`` a training-sequence slot, counting the
    whitespace tokens of ``text``: ``pack_group`` (which of 8 parallel
    packing streams), ``seq_id`` (which ~512-token sequence within the
    stream), ``seq_offset`` (the document's token offset inside that
    sequence).

    Semantics are token-offset packing — concatenate the group's docs in
    id order and cut every 512 tokens; a doc belongs to the
    sequence where its first token falls (trainers truncate/carry the
    tail across the cut). This is deterministic and windows-expressible,
    unlike strict greedy first-fit, whose running remainder needs
    sequential state.

    Scale shape: docs are hash-split into 8 independent streams, so
    packing is one shuffle by group and each window sorts only |docs|/8
    rows (at 100 TB, ~10k groups would keep windows in memory). The
    group hash reuses the engine-portable md5 unit interval, so the
    DuckDB oracle reproduces the exact assignment."""
    from ..functions.text import whitespace_token_count

    grouped = df.withColumn(
        "pack_group", F.floor(hash_unit(F.col("doc_id"), "pack") * 8).cast("int")
    ).withColumn("n_tokens", whitespace_token_count(F.col("text")).cast("bigint"))
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return grouped.withColumn("seq_id", F.floor(cum_before / F.lit(512))).withColumn(
        "seq_offset", (cum_before % F.lit(512)).cast("bigint")
    )


def mixture(sources: dict[str, tuple[DataFrame, float]]) -> DataFrame:
    """Deterministic weighted dataset mixture: for each named source,
    weight w keeps floor(w) full copies (tagged ``epoch`` 0..floor(w)-1)
    plus a deterministic-hash sample of the fractional remainder — the
    standard corpus-mixing step (e.g. wiki x2.5, web x0.3) made
    rerun-stable.

    Row-local like the samplers: no shuffle, no RNG; the remainder
    sample reuses :func:`hash_unit` with a per-(source, epoch) salt, so
    the same doc is chosen for the fraction on every run and engine.
    Output adds ``source`` and ``epoch`` columns; schemas must match
    across sources (unionByName)."""
    out = None
    for name, (df, weight) in sources.items():
        if weight <= 0:
            continue
        whole = int(weight)
        for epoch in range(whole):
            part = df.withColumn("source", F.lit(name)).withColumn("epoch", F.lit(epoch))
            out = part if out is None else out.unionByName(part)
        frac = weight - whole
        if frac > 0:
            part = (
                df.filter(hash_unit(F.col("doc_id"), f"mix:{name}:{whole}") < frac)
                .withColumn("source", F.lit(name))
                .withColumn("epoch", F.lit(whole))
            )
            out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("mixture() needs at least one source with weight > 0")
    return out


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Fixed-stride token chunking with overlap — the standard
    long-document → training-example splitter: 128-token chunks every
    96 tokens keep 32 tokens of context between chunks.

    Whitespace-tokenizes in-row, computes every chunk start as an array
    expression, and ``posexplode``s starts to (doc, chunk) rows — a
    narrow 1→N map with no shuffle and no Python; chunk text is
    ``array_join`` of a token slice. A doc with at least one token
    yields ceil(n/96) chunks capped to starts < n; empty docs yield
    none. The trailing chunk may be shorter than 128 tokens."""
    tokens = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    n = F.size(F.col("__tk"))
    starts = F.when(n >= 1, F.sequence(F.lit(0), n - 1, F.lit(96))).otherwise(
        F.array().cast("array<int>")
    )
    return (
        docs.select(F.col("doc_id"), tokens.alias("__tk"))
        .select(F.col("doc_id"), F.col("__tk"), F.posexplode(starts).alias("chunk_idx", "s"))
        .select(
            F.col("doc_id"),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.least(F.size("__tk") - F.col("s"), F.lit(128))
            .cast("int")
            .alias("n_tokens"),
            F.array_join(F.slice("__tk", F.col("s") + 1, 128), " ").alias("chunk"),
        )
    )


def deterministic_take(docs: DataFrame, k: int) -> DataFrame:
    """Exactly-k deterministic sample: the k rows with the smallest
    id hash (salted ``":take"``) — a rerun-stable, engine-portable
    alternative to df.limit(k) (which is partition-order-dependent) for
    building fixed-size eval sets. TakeOrderedAndProject keeps
    per-partition heaps of k, so no global sort materializes."""
    return (
        docs.withColumn("__u", hash_unit(F.col("doc_id"), ":take"))
        .orderBy("__u", "doc_id")
        .limit(k)
        .drop("__u")
    )


def stratified_take(docs: DataFrame, k_per_group: int, group_col: str) -> DataFrame:
    """Exactly k rows PER GROUP by smallest salted hash (rank window
    per group) — balanced eval sets from skewed corpora, where a
    fractional sample would starve small groups. One shuffle on the
    group key; WindowGroupLimit prunes to k per partition before the
    final rank."""
    w = Window.partitionBy(group_col).orderBy("__u", "doc_id")
    return (
        docs.withColumn("__u", hash_unit(F.col("doc_id"), ":stake"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k_per_group)
        .drop("__u", "__rk")
    )


def weighted_take(docs: DataFrame, weight_col: str, k: int) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row gets key ``u^(1/w)`` for a hash-derived
    uniform ``u``, and the k largest keys win — inclusion probability
    proportional to weight, no replacement, single pass. Ranking uses
    the monotone-equivalent ``ln(u)/w`` (u in (0,1), w > 0) so both
    engines compare the same doubles without a pow.

    Scale shape: the key is row-local arithmetic on the hash (no rand(),
    so rerun/partitioning stable); selection is TakeOrderedAndProject
    (per-partition heap, driver merges k rows) — never a global sort.
    A half-bucket offset keeps u strictly positive (hash_unit quantizes
    to 1e-6 buckets, and ln(0) diverges)."""
    u = hash_unit(F.col("doc_id"), "wtake") + F.lit(0.5 / _BUCKETS)
    key = F.log(u) / F.col(weight_col)
    # rows with weight <= 0 are excluded up front: A-ES is defined for
    # w > 0, a zero weight would throw DIVIDE_BY_ZERO under ANSI mode,
    # and a negative one would flip ln(u)/w positive and outrank every
    # legitimate row
    docs = docs.filter(F.col(weight_col) > 0)
    return (
        docs.withColumn("__aes_key", key)
        .orderBy(F.desc("__aes_key"), F.col("doc_id"))
        .limit(k)
        .drop("__aes_key")
    )


def dsir_importance(docs: DataFrame, target: Column) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al., NeurIPS 2023): score every document by the
    log-likelihood ratio of its hashed n-gram features under a TARGET
    bag-of-ngrams model vs the RAW pool model — the standard recipe for
    steering a web-scale crawl toward a quality/domain target before
    resampling. ``target`` is any boolean Column marking the in-domain
    rows; output is (id, n_feats, log_importance) with positive scores
    meaning "more target-like".

    Features are word unigrams + bigrams WITH multiplicity, hashed into
    4096 buckets by the md5-derived integer hash (deterministic —
    the DuckDB oracle replays the whole pipeline, hash included).
    Both models are Laplace-smoothed (alpha = 1) over the same bucket
    space, so OOV buckets contribute a finite prior ratio.

    Scale shape: the explode+hash pass runs ONCE — it reduces straight
    to per-(doc, bucket) counts (map-side combined), and that skinny
    frame is persisted (spillable) because the model, the normalization
    totals, AND the final per-doc reduce all derive from it; without the
    persist Spark would re-run the gram explode per consumer branch
    (measured 2x the operator cost). The 2x4096-cell model and
    its 1-row totals broadcast back (no driver collect), and the final
    per-doc reduce is a second skinny shuffle on the id. The persisted
    frame is bounded by docs x min(doc_len, 4096) rows — ~two orders
    smaller than the raw gram instances it summarizes — which is the
    100 TB property DSIR's hashed-feature design exists for."""
    # spread before the compute-heavy explode: measured 7x on the operator
    base = spread(docs, "doc_id").select(
        F.col("doc_id"), target.cast("boolean").alias("is_target"), F.col("text")
    )
    # tokenize ONCE into a materialized column, then build bigrams from
    # it: word_ngrams() inlines its split() into every element_at, which
    # re-splits the text per gram (fine for short fields, 2x here)
    toks = base.select(
        F.col("doc_id"), "is_target", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    k = F.size("w") - 1
    # the ONLY thing keeping a k<=0 row safe is F.when's per-row branch
    # laziness: sequence(0,-1) auto-descends to [0,-1] and the lambda
    # would hit element_at index 0 (ANSI throw) if this branch ever
    # evaluated for such a row. Do not drop or reorder the when().
    bigrams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.element_at("w", i + 1), F.element_at("w", i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select(
        "doc_id", "is_target", F.explode(F.concat(F.col("w"), bigrams)).alias("g")
    )
    feats = grams.select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 12), 16, 10).cast("long")
            % 4096
        ).alias("b"),
    )
    # is_target rides the groupBy key (functionally dependent on the id,
    # so it adds no cardinality) — the model then derives from these
    # counts instead of re-exploding the grams. Persisted: three
    # consumers (model, totals, final reduce); caller owns cleanup,
    # same contract as simhash.
    doc_counts = (
        feats.groupBy("doc_id", "is_target", "b").agg(F.count(F.lit(1)).alias("n")).persist()
    )
    model = doc_counts.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(F.col("n"))).alias("cr"),
    )
    tot = model.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    llr_model = model.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + F.lit(1.0)) / (F.col("tt") + F.lit(4096.0)))
            - F.log((F.col("cr") + F.lit(1.0)) / (F.col("tr") + F.lit(4096.0)))
        ).alias("llr"),
    )
    return (
        doc_counts.join(F.broadcast(llr_model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            # + 0.0 normalizes a rounded tiny-negative score's -0.0 (the
            # sign bit surfaced at sf0.1; oracle mirrors with + 0)
            (
                F.round(F.sum(F.col("n") * F.col("llr")), 4)
                + F.lit(0.0)
            ).alias("log_importance"),
        )
    )


def epoch_plan(docs: DataFrame, budget_tokens: float) -> DataFrame:
    """Token-budget epoch planner: allocate a training budget across
    ``source`` values with temperature-smoothed mixture weights and an
    epoch cap — the planning step of every data-mixing recipe
    (temperature sampling a la multilingual LM training; the epoch cap
    is the data-constrained-scaling guard against over-repeating small
    sources, Muennighoff et al. 2023). Returns one row per source:
    (group, avail_tokens, weight, desired_tokens, alloc_tokens, epochs,
    clipped).

    Mechanics: weights ~ avail^(1/2) (temperature 2), normalized; desired =
    weight * budget; epochs clip at 4; the clipped surplus
    is redistributed in ONE pass proportionally to the unclipped
    sources' remaining headroom, with the redistributed mass clamped at
    total headroom so NO source ever exceeds the cap (documented
    single-round policy — exact waterfilling would iterate, and one
    round is the standard practical compromise; a source can end under
    cap when the deficit exceeds its proportional share, and when the
    budget exceeds cap x total-available the surplus budget simply goes
    unallocated — the cap is the invariant, not budget exhaustion).

    Scale shape: one scan aggregates per-source token counts (map-side
    combined; #sources rows), every subsequent step is arithmetic on
    that tiny frame against broadcast 1-row totals — nothing after the
    first aggregate scales with the corpus."""
    from ..functions.text import whitespace_token_count

    per_src = (
        docs.filter(F.col("text").isNotNull())
        .groupBy(F.col("source").alias("grp"))
        .agg(F.sum(whitespace_token_count(F.col("text"))).alias("avail"))
    )
    # temperature 2 is a sqrt, which is IEEE-exactly-rounded, so the
    # weights are bit-identical across engines
    tot = per_src.agg(F.sum(F.sqrt(F.col("avail").cast("double"))).alias("wsum"))
    base = per_src.crossJoin(F.broadcast(tot)).select(
        "grp",
        "avail",
        (F.sqrt(F.col("avail").cast("double")) / F.col("wsum")).alias("weight"),
    )
    alloc0 = base.select(
        "grp",
        "avail",
        "weight",
        (F.col("weight") * F.lit(budget_tokens)).alias("desired"),
        F.least(
            F.lit(4.0),
            (F.col("weight") * F.lit(budget_tokens)) / F.col("avail"),
        ).alias("e0"),
    ).withColumn("a0", F.col("e0") * F.col("avail"))
    totals = alloc0.agg(
        F.sum("a0").alias("asum"),
        F.sum(F.lit(4.0) * F.col("avail") - F.col("a0")).alias("hsum"),
    )
    # deficit clamped at total headroom: a proportional share of more
    # than hsum would push sources past the cap (the invariant)
    deficit = F.least(
        F.greatest(F.lit(budget_tokens) - F.col("asum"), F.lit(0.0)), F.col("hsum")
    )
    alloc = F.col("a0") + deficit * F.when(
        F.col("hsum") > 0,
        (F.lit(4.0) * F.col("avail") - F.col("a0")) / F.col("hsum"),
    ).otherwise(F.lit(0.0))
    final = (
        alloc0.crossJoin(F.broadcast(totals))
        .withColumn("alloc", alloc)  # computed ONCE; epochs derives from it
        .select(
            F.col("grp").alias("source"),
            F.col("avail").alias("avail_tokens"),
            F.round("weight", 4).alias("weight"),
            F.round("desired", 4).alias("desired_tokens"),
            F.round("alloc", 4).alias("alloc_tokens"),
            F.round(F.col("alloc") / F.col("avail"), 4).alias("epochs"),
            (F.col("e0") >= F.lit(4.0)).alias("clipped"),
        )
    )
    return final.orderBy("source")


def global_rank(
    df: DataFrame,
    order_exprs: list,
    rank_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """EXACT dense global rank (1-based) by a TOTAL order, without the
    single-partition window that ``row_number().over(Window.orderBy())``
    costs — the classic two-pass zipWithIndex pattern expressed in
    DataFrame ops:

      1. ``repartitionByRange`` on the order keys (parallel range sort —
         Spark's sampling picks boundaries, correctness never depends on
         where they land) and rank WITHIN each range partition;
      2. count rows per partition (a partitions-sized frame), prefix-sum
         the counts, and broadcast the offsets back.

    The caller MUST pass a total order (include a unique key) — with
    ties unbroken, ranks at partition boundaries would be
    nondeterministic. Scale: no task ever sorts more than one range
    partition; the only global structure is the partitions-row offset
    frame on the driver-side broadcast.

    The ranged frame is localCheckpoint-ed LAZILY before it forks into
    the rank branch and the offsets branch: the checkpoint pins exactly
    ONE RDD, which the first consuming action materializes, and both
    branches then read that single frozen partitioning. This is
    correctness, not an optimization: ``repartitionByRange`` SAMPLES
    its partition
    boundaries, and when the two branches don't hit Catalyst's
    exchange-reuse (any payload column beyond the order keys makes the
    pruned subtrees differ), each branch re-executes the range shuffle
    with independently sampled boundaries — offsets counted from one
    shuffle get added to partition-ranks from the other, corrupting the
    global rank near every boundary. Pinning one materialization makes
    both branches read the same partitioning.

    ``total_col``: when set, every output row also carries the TOTAL
    row count under that name — computed from the same partitions-sized
    counts frame the offsets come from, so callers that need (rank, n)
    pairs (exact_ntile, quantile cuts) pay NO extra pass over the
    data."""
    n = df.sparkSession.sparkContext.defaultParallelism
    d = (
        df.repartitionByRange(n, *order_exprs)
        # the within-partition rank comes from sortWithinPartitions +
        # monotonically_increasing_id (documented layout: partition id in
        # the upper bits, CONSECUTIVE record number in the low 33), NOT
        # row_number().over(partitionBy(_pid)) — the window would re-hash-
        # shuffle data that is already partitioned correctly and re-sort
        # what sortWithinPartitions already ordered (one full exchange +
        # sort saved per call)
        .sortWithinPartitions(*order_exprs)
        .select(
            "*",
            F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        # lazy: checkpointing still pins ONE RDD (hence one range shuffle
        # with one sampled boundary set, and one frozen row order under
        # the monotonic id) for both the rank branch and the offsets
        # branch — the correctness requirement — while the materialization
        # folds into the first action instead of paying a separate
        # construction job per call
        .localCheckpoint(eager=False)
    )
    d = d.withColumn(
        "_rn",
        F.col("_mid") - F.shiftleft(F.col("_pid").cast("long"), 33) + F.lit(1),
    ).drop("_mid")
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_pid", "_off")
    if total_col is not None:
        offsets = offsets.crossJoin(
            F.broadcast(
                counts.groupBy().agg(F.sum("_cnt").alias(total_col))
            )
        )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, F.col("_off") + F.col("_rn"))
        .drop("_pid", "_rn", "_off")
    )


def exact_ntile(
    df: DataFrame, order_exprs: list, n: int, out_col: str = "tile"
) -> DataFrame:
    """SQL-standard ``NTILE(n)`` over a TOTAL order without the
    single-partition window ``ntile().over(Window.orderBy(...))`` costs:
    exact rank via :func:`global_rank` (two-pass range-partitioned),
    then the standard remainder rule — the first ``n_rows mod n`` tiles
    carry one extra row — as integer arithmetic on the rank
    (``ceil(a/b)`` = ``floor((a+b-1)/b)``), bit-identical to the
    engine's NTILE for any (n_rows, n). The caller must pass a total
    order (unique tiebreak) for a deterministic assignment. n_rows
    rides along from global_rank's own partition-counts frame
    (``total_col``) — no extra pass over ``df``."""
    ranked = global_rank(df, order_exprs, rank_col="_nt_r", total_col="_nt_n")
    k = F.lit(n).cast("long")
    q = F.floor(F.col("_nt_n") / k).cast("long")
    rem = (F.col("_nt_n") % k).cast("long")
    big = (q + F.lit(1)) * rem
    r = F.col("_nt_r")
    tile = F.when(r <= big, F.floor((r + q) / (q + F.lit(1)))).otherwise(
        rem + F.floor((r - big + q - F.lit(1)) / q)
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop("_nt_r", "_nt_n")


def rrf_fuse(a: DataFrame, b: DataFrame, id_col: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two
    ranked lists: ``score = 1/(60 + rank_a) + 1/(60 + rank_b)`` over the
    ids present in BOTH lists. The two divisions and one addition are a
    fixed-order float expression over integer ranks — bit-exact in any
    IEEE engine, no rounding needed for reproducibility.

    Scale: a skinny (id, rank) ⋈ (id, rank) equi-join; in retrieval use
    the inputs are per-query bounded top-k lists, in curation use they
    are corpus-wide ranks from :func:`global_rank` (itself two-pass
    parallel)."""
    ra = a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    rb = b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    one = F.lit(1.0)
    return ra.join(rb, id_col).select(
        F.col(id_col),
        "rank_a",
        "rank_b",
        (one / (F.lit(60) + F.col("rank_a")) + one / (F.lit(60) + F.col("rank_b"))).alias(
            "rrf"
        ),
    )


def perplexity_buckets(docs: DataFrame, scores: DataFrame, score_col: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): within each
    language, rank documents by an LM quality score and split them into
    3 NTILE buckets — bucket 1 is the "head" (best score,
    lowest perplexity), the last is the "tail" CCNet discards or
    down-samples. Returns per (lang, bucket): doc count, exact char
    mass, and the score range — counts and MIN/MAX only, so the report
    is deterministic with no float summation anywhere (the scores
    themselves arrive pre-rounded from the scorer).

    Scale shape: one keyed join (docs x scores on the doc id) and one
    window per language partition — the window sorts WITHIN languages
    only (partitions are language-sized, never global; a global NTILE
    would serialize the corpus). Ties break on the doc id so bucket
    membership is a pure function of the input."""
    j = docs.select(
        F.col("doc_id"), F.col("lang"), F.length(F.col("text")).alias("n_chars")
    ).join(scores.select(F.col("doc_id"), F.col(score_col).alias("score")), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("bucket", F.ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("lang", "bucket")
    )


def leakage_safe_split(clusters: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup-aware train/val/test split: assignment hashes the
    CLUSTER id, not the document id, so every member of a near-duplicate
    component lands in the same split — the leakage a plain per-doc
    hash split cannot prevent (two near-identical docs straddling
    train/test silently inflate eval scores).

    ``clusters`` is the (id, cluster_id) frame from
    :func:`~avro_sql_spark.operators.dedup.near_dup_clusters`;
    ``pairs`` the near-dup pair frame used to build it. The report
    carries the receipt: ``cross_split_pairs`` counts near-dup pairs
    whose endpoints landed in different splits — ZERO by construction,
    and the oracle recomputes rather than assumes it.

    Scale shape: one hash expression per row (split is a pure function
    of cluster_id — no join against a split table), two skinny keyed
    joins to label the pair endpoints (both sides corpus-sized, so the
    planner's sort-merge choice IS the right 100 TB shape — neither
    side is broadcastable), and a 1-row broadcast for the receipt
    column. The cluster frame itself is the output of the banded-LSH +
    connected-components pipeline, never an all-pairs product."""
    assigned = deterministic_split(clusters, id_col="cluster_id").select(
        F.col("id").alias("doc_id"), "cluster_id", "split"
    )
    a = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    b = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    cross = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("cross_split_pairs"))
    )
    rep = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.min("doc_id").alias("min_doc"),
    )
    return rep.crossJoin(F.broadcast(cross)).orderBy("split")


def forget_cascade(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    events: DataFrame,
) -> DataFrame:
    """Right-to-be-forgotten cascade audit: the forget policy is a pure
    function of the user key (``hash_unit(key) < 0.02`` — in production
    the predicate is a membership test against the deletion-request
    table; the hash stands in as a deterministic fixture), applied
    row-locally to ``customer``/``orders``/``events``, and cascaded to
    ``lineitem`` through the order bridge — the one table whose rows
    carry no user key and genuinely need the join.

    Report: one row per table with n_before / n_dropped / n_after, so
    the deletion job's blast radius is reviewable before the write.

    Scale shape: three of four tables never shuffle (the predicate is
    row-local scan arithmetic fused into the aggregate); the lineitem
    leg is ONE keyed left-semi-style join against the dropped-orders
    frame (a 0.02 fraction of orders — keyed equi-join, broadcast
    only if the optimizer proves it small). Counts are conditional sums
    in a single pass per table."""

    def gone(key: Column) -> Column:
        return hash_unit(key, "forget") < F.lit(0.02)

    def stat(df: DataFrame, name: str, dropped: Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        )

    c = stat(customer, "customer", gone(F.col("c_custkey")))
    o = stat(orders, "orders", gone(F.col("o_custkey")))
    e = stat(events, "events", gone(F.col("user_id")))
    dropped_orders = orders.filter(gone(F.col("o_custkey"))).select(
        F.col("o_orderkey").alias("_dk")
    )
    l = stat(
        lineitem.join(
            dropped_orders, lineitem["l_orderkey"] == F.col("_dk"), "left"
        ),
        "lineitem",
        F.col("_dk").isNotNull(),
    )
    return (
        c.unionByName(o)
        .unionByName(l)
        .unionByName(e)
        .withColumn("n_after", F.col("n_before") - F.col("n_dropped"))
        .orderBy("table_name")
    )


def source_cap(docs: DataFrame, cap: int) -> DataFrame:
    """Per-source document cap — keep at most ``cap`` docs per source,
    chosen by a deterministic md5 lottery (the Common Crawl pipeline
    staple: no single domain may dominate the mixture). Returns the
    kept rows as (id, group, cap_rank).

    Selection must be an EXACT per-group top-``cap`` (a rate filter
    like :func:`hash_unit` < p can't hit an exact count), and the naive
    ``row_number().over(partitionBy(group))`` sorts an entire source in
    one task — at 100 TB a big crawl source is billions of rows. This
    uses the bucketed two-pass rank instead: the first two hex chars of
    the lottery key pre-split every group into 256 hash ranges, rows
    rank within (group, bucket) — bounded partitions — and a
    (groups × 256)-row offset frame (prefix sums per group, broadcast
    back) lifts local ranks to exact per-group ranks. Because the
    bucket IS a prefix of the order key (never hashed or wrapped —
    that would break prefix monotonicity), (bucket, key) order equals
    key order and the composed rank is identical to the single-sort
    rank the oracle states.
    """
    ranked = grouped_hash_rank(docs)
    return (
        ranked.withColumnRenamed("grank", "cap_rank")
        .filter(F.col("cap_rank") <= cap)
        .orderBy("source", "cap_rank")
    )


def grouped_hash_rank(
    df: DataFrame, group_col: str = "source", salt: str = "cap"
) -> DataFrame:
    """EXACT 1-based per-group rank by a deterministic md5 lottery,
    without a per-group single-task sort — the shared machinery behind
    :func:`source_cap` and :func:`stratified_kfold`. The first two hex
    chars of the lottery key pre-split every group into 256 hash
    ranges; rows rank within (group, bucket) — bounded window
    partitions — and a (groups × 256)-row offset frame (prefix sums per
    group, broadcast back) lifts local ranks to exact per-group ranks.
    Because the bucket IS a prefix of the order key, (bucket, key)
    order equals key order and the composed rank is identical to the
    single-window rank the oracles state. Returns (id, group, grank)."""
    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":" + salt)).cast("binary")
    )
    d = df.select(
        F.col("doc_id"), F.col(group_col), key.alias("_k")
    ).withColumn("_b", F.substring("_k", 1, 2))
    w = Window.partitionBy(group_col, "_b").orderBy("_k", "doc_id")
    d = d.withColumn("_rn", F.row_number().over(w))
    offsets = (
        d.groupBy(group_col, "_b")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.partitionBy(group_col)
                    .orderBy("_b")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(group_col, "_b", "_off")
    )
    return (
        d.join(F.broadcast(offsets), [group_col, "_b"])
        .withColumn("grank", (F.col("_off") + F.col("_rn")).cast("bigint"))
        .select("doc_id", group_col, "grank")
    )


def stratified_kfold(df: DataFrame) -> DataFrame:
    """Stratified 5-fold assignment: within every stratum, rows take a
    deterministic hash-lottery order and deal round-robin into folds
    0..4 — every fold gets within-1 the same count PER STRATUM (the
    exactness property a plain ``hash % 5`` cannot give on small
    strata), and the assignment is engine- and partitioning-stable.
    Built on :func:`grouped_hash_rank`, so no stratum ever funnels
    through a single sort task. Returns (id, group, fold)."""
    ranked = grouped_hash_rank(df, group_col="lang", salt="kfold")
    return ranked.select(
        "doc_id",
        "lang",
        ((F.col("grank") - 1) % 5).cast("int").alias("fold"),
    )


def padding_efficiency(docs: DataFrame) -> DataFrame:
    """Length-bucketed batching audit: round each doc's token count up
    to the next multiple of 16 (the padded sequence length), form
    fixed-size batches of 8 docs per bucket, and report
    how much of the padded token grid is real data — the padding-waste
    table that decides between naive batching and sequence packing
    (:func:`pack_sequences` is the packing alternative; this is its
    baseline).

    Row-local arithmetic (token count via the shared
    :func:`~avro_sql_spark.functions.text.word_tokens` tokenizer, then
    integer ceil-division) fused into the scan; ONE groupBy on the
    bucketed length whose result is bounded by max_len/16 rows.
    fill_ratio is a single division of exact integers."""
    from avro_sql_spark.functions import text as T

    n = F.size(T.word_tokens(F.col("text")))
    d = docs.select(n.alias("_n")).filter(F.col("_n") >= 1)
    blen = (F.floor((F.col("_n") + 16 - 1) / 16) * 16).cast("bigint")
    g = d.groupBy(blen.alias("bucket_len")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").alias("n_tokens"),
    )
    slots = F.floor((F.col("n_docs") + 8 - 1) / 8) * 8
    return g.select(
        "bucket_len",
        "n_docs",
        "n_tokens",
        (slots * F.col("bucket_len")).cast("bigint").alias("padded_tokens"),
        F.round(
            F.col("n_tokens") / (slots * F.col("bucket_len")), 6
        ).alias("fill_ratio"),
    ).orderBy("bucket_len")


def quantile_normalize_report(scored: DataFrame, score_col: str) -> DataFrame:
    """Per-``source`` quantile normalization (CDF matching — the
    batch-effect correction genomics calls quantile normalization and
    retrieval calls score calibration): a doc at within-group rank r of
    n_g maps to the GLOBAL order statistic at rank ceil(r*N/n_g), so
    every group's score distribution becomes the global one and
    cross-source score comparisons stop rewarding the source with the
    most generous scorer.

    All-integer rank arithmetic + data-valued scores (no interpolation
    floats to diverge by an ulp), reported per (group, decile) as
    counts + original/mapped score ranges.

    Scale shape: the within-group rank is a group-partitioned window;
    the global order statistics come from :func:`global_rank` (two-pass
    range-partitioned — no single-partition sort); the map is ONE
    skinny equi-join on the computed global rank. Nothing driver-side
    beyond global_rank's partitions-row offset frame. The skinny
    (group, id, score) projection is lazily checkpoint-pinned up
    front: FOUR consumers read it (within-group rank, group sizes,
    total, global-rank input), and when the caller's score column is
    itself an expensive subtree (the unigram-LM fluency entry) each
    consumer would otherwise re-derive it wherever exchange reuse
    misses."""
    scored = scored.select("source", "doc_id", score_col).localCheckpoint(
        eager=False
    )
    wg = Window.partitionBy("source").orderBy(score_col, "doc_id")
    r = scored.select("source", "doc_id", score_col).withColumn(
        "r", F.row_number().over(wg)
    )
    ng = scored.groupBy("source").agg(F.count(F.lit(1)).alias("n_g"))
    tot = scored.agg(F.count(F.lit(1)).alias("n_all"))
    g = global_rank(
        scored.select(
            F.col(score_col).alias("gs"), F.col("doc_id").alias("gid")
        ),
        [F.asc("gs"), F.asc("gid")],
        rank_col="grk",
    ).select("grk", "gs")
    mapped = (
        r.join(F.broadcast(ng), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("k", F.expr("CAST((r * n_all + n_g - 1) DIV n_g AS BIGINT)"))
        .withColumn(
            "decile", F.expr("CAST((r * 10 + n_g - 1) DIV n_g AS INT)")
        )
        .join(g, F.col("k") == F.col("grk"))
    )
    return (
        mapped.groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(score_col).alias("orig_lo"),
            F.max(score_col).alias("orig_hi"),
            F.min("gs").alias("norm_lo"),
            F.max("gs").alias("norm_hi"),
        )
        .orderBy("source", "decile")
    )


def negative_sampling_table(docs: DataFrame) -> DataFrame:
    """word2vec-style negative-sampling table (Mikolov et al. 2013):
    unigram counts raised to the 3/4 power, normalized, and laid out as
    cumulative [lo, hi) ranges a sampler hits with one uniform draw —
    the embedding-training data-prep staple that damps stopword
    dominance without losing them.

    The 3/4 power is computed as sqrt(c)·sqrt(sqrt(c)) — each sqrt is
    exactly rounded by IEEE-754, so the COMPOSITION is bit-identical
    across engines, unlike a libm pow(x, 0.75) whose last-ulp behavior
    is implementation-defined. The table keeps the 50 heaviest
    terms (count-desc, term tiebreak — at real scale the sampler's
    table is capped anyway and the tail aliases into a remainder
    bucket); the cumulative window runs over that bounded frame only.
    Weights normalize against the FULL vocabulary mass, so hi of the
    last kept row < 1 shows exactly how much tail mass the cap
    aliased."""
    from ..functions import text as T

    toks = docs.select(F.explode(T.word_tokens(F.col("text"))).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("double")
    weighted = counts.select(
        "w", "c", (F.sqrt(cd) * F.sqrt(F.sqrt(cd))).alias("wt")
    )
    total = weighted.agg(F.sum("wt").alias("tot"))
    top = (
        weighted.orderBy(F.desc("c"), F.asc("w"))
        .limit(50)
        .crossJoin(F.broadcast(total))
    )
    win = (
        Window.orderBy(F.desc("c"), F.asc("w"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    share = F.col("wt") / F.col("tot")
    # accumulate WEIGHTS and divide once — summing pre-divided shares
    # would associate the division differently from the oracle
    wsum = F.coalesce(F.sum("wt").over(win), F.lit(0.0))
    return top.select(
        F.col("w").alias("term"),
        F.col("c").cast("bigint").alias("count"),
        F.round(share, 9).alias("share"),
        F.round(wsum / F.col("tot"), 9).alias("cum_lo"),
        F.round((wsum + F.col("wt")) / F.col("tot"), 9).alias("cum_hi"),
    ).orderBy(F.desc("count"), F.asc("term"))


def doremi_weights(docs: DataFrame) -> DataFrame:
    """DoReMi-lite domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    reduced to its one-round statistical core): each source's mixture
    weight grows exponentially with its EXCESS negative-log-likelihood
    over the corpus baseline — up-weight the domains the reference
    model finds hardest, the bandit step DoReMi iterates. Reports per
    source: docs, mean NLL, excess, and the normalized weight.

    The per-doc score is the unigram-LM mean ln p
    (:func:`~avro_sql_spark.operators.text.unigram_logprob_scores` —
    the same corpus-MLE, no-smoothing contract, already 6dp-rounded),
    so this composes an existing oracled primitive. Per-source means
    accumulate the rounded per-doc scores in DECIMAL(38,6)
    (order-free); excess = max(0, nll_s - nll_corpus) on those exact
    decimals; weights are exp(excess/T) terms rounded to 9dp and
    DECIMAL-summed, so the softmax normalizer is order-free too."""
    from .text import unigram_logprob_scores

    scored = unigram_logprob_scores(docs).join(
        docs.select(F.col("doc_id"), F.col("source").alias("src")), "doc_id"
    )
    dec = F.col("logprob_mean").cast("decimal(38,6)")
    per_src = scored.groupBy("src").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(dec).alias("s_lp")
    )
    corpus = scored.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum(dec).alias("s_all")
    )
    nll_s = -(F.col("s_lp").cast("double") / F.col("n_docs"))
    nll_ref = -(F.col("s_all").cast("double") / F.col("n_all"))
    exc = F.round(
        F.greatest(F.lit(0.0), F.round(nll_s, 6) - F.round(nll_ref, 6)), 6
    )
    terms = per_src.crossJoin(F.broadcast(corpus)).select(
        "src",
        "n_docs",
        F.round(nll_s, 6).alias("nll"),
        exc.alias("excess_nll"),
        F.round(F.exp(exc / F.lit(0.1)), 9)
        .cast("decimal(38,9)")
        .alias("e"),
    )
    tot = terms.agg(F.sum("e").alias("te"))
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            F.col("src").alias("source"),
            "n_docs",
            "nll",
            "excess_nll",
            F.round(F.col("e").cast("double") / F.col("te").cast("double"), 6).alias(
                "weight"
            ),
        )
        .orderBy("source")
    )


def score_decile_calibration(docs: DataFrame) -> DataFrame:
    """Calibration of the unigram-LM fluency score against an OUTCOME
    it should predict (exact-duplicate rate): docs rank into score
    deciles (:func:`exact_ntile` over (score desc, id) — decile 1 =
    most fluent) and each decile reports its mean score, duplicate rate
    (normalized-md5 fingerprints), and mean token count. A score whose
    deciles show no outcome gradient is noise and should not gate a
    100 TB corpus — the one-page check before trusting quality shards.
    (The coarse heuristic ``quality_score`` takes 2 distinct values on
    this corpus — useless to decile — so the calibration runs on the
    CONTINUOUS LM score, the same oracled primitive doremi_weights
    composes.)

    Shape: the LM scorer is two corpus shuffles (its own contract); the
    decile assignment is the two-pass exact_ntile; per-decile stats are
    one groupBy with DECIMAL-accumulated 6dp scores (order-free)."""
    from ..functions.text import fingerprint as fp
    from .text import unigram_logprob_scores

    scored = unigram_logprob_scores(docs).join(
        docs.select(F.col("doc_id"), fp(F.col("text")).alias("fp")), "doc_id"
    )
    binned = exact_ntile(
        scored,
        [F.desc("logprob_mean"), F.asc("doc_id")],
        10,
        out_col="decile",
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("logprob_mean").cast("decimal(38,6)")).alias("sq"),
            F.countDistinct("fp").alias("nd"),
            F.sum("n_tokens").alias("st"),
        )
        .select(
            "decile",
            "n_docs",
            F.round(F.col("sq").cast("double") / F.col("n_docs"), 6).alias(
                "mean_score"
            ),
            F.round(
                (F.col("n_docs") - F.col("nd")) / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
            F.round(F.col("st") / F.col("n_docs").cast("double"), 6).alias(
                "mean_tokens"
            ),
        )
        .orderBy("decile")
    )


def dp_count_release(events: DataFrame) -> DataFrame:
    """Differential-privacy release REHEARSAL for grouped counts at
    ε = 1: add Laplace(1/ε) noise to each group's count (sensitivity 1 —
    one user event moves one count by one) and report the utility cost
    (absolute + relative error) next to the release — the audit a
    pipeline runs BEFORE committing to an ε, answering "is the noisy
    histogram still usable?".

    The noise is DETERMINISTIC here by design: a real release draws
    fresh randomness, but a rehearsal must be replayable (and
    oracle-checkable), so the Laplace draw comes from the engine-
    portable md5 unit interval via the inverse CDF,
    noise = −(1/ε)·sign(u−½)·ln(1−2|u−½|). The u=½ center maps to
    noise 0; u is quantized to 1e−6 buckets so ln's argument is
    exactly representable in both engines, and remapped into the OPEN
    interval via (u·999999+1)/1e6 (the weighted_reservoir_sample
    device): the raw md5 bucket can be exactly 0 (~1e−6 per key),
    where ln(1−2|u−½|) = ln(0) — Spark F.log would return NULL while
    the DuckDB oracle LN(0) throws, a latent engine divergence for
    unlucky keys. All remaining ops are single IEEE ops on exact
    inputs; counts are exact integers. Scale shape: one
    map-side-combined aggregate; noise is row-local arithmetic on the
    groups-sized frame."""
    per = events.groupBy(F.col("event_type").alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    u = (hash_unit(F.col("g"), "dp") * F.lit(999999.0) + F.lit(1.0)) / F.lit(
        1000000.0
    )
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0)
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    noisy = F.col("n").cast("double") + F.round(noise, 6)
    return per.select(
        F.col("g").alias("group_key"),
        F.col("n").cast("long").alias("true_count"),
        F.round(noisy, 6).alias("noisy_count"),
        F.round(F.abs(F.round(noise, 6)), 6).alias("abs_err"),
        F.round(
            F.abs(F.round(noise, 6)) / F.col("n").cast("double"), 6
        ).alias("rel_err"),
    ).orderBy("group_key")


def weighted_reservoir_sample(docs: DataFrame) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES): each row draws key = −ln(u)/w from the deterministic md5
    unit interval and the 50 SMALLEST keys form the sample — exactly
    the distribution of sequential weighted draws, computed as one
    embarrassingly-parallel map + a map-side top-k (orderBy+limit =
    TakeOrdered; no global sort, no sequential reservoir). THE
    curation primitive for 'sample 10M docs proportional to quality'
    at 100 TB.

    Determinism: u is the engine-portable md5 unit interval (pure
    function of the id), so the sample is stable across reruns,
    partitionings, and engines — the property a rand()-keyed sample
    lacks; u = 0 cannot occur (the interval is [buckets>0]/1e6 after
    the +1 offset below), so ln is finite. Weights ≤ 0 are excluded
    (stated precondition)."""
    u = (hash_unit(F.col("doc_id"), "wrs") * F.lit(999999.0) + F.lit(1.0)) / F.lit(
        1000000.0
    )
    key = -F.log(u) / F.col("n_chars").cast("double")
    sampled = (
        docs.filter(F.col("n_chars") > 0)
        .select(
            F.col("doc_id").alias("id"),
            F.col("n_chars").cast("long").alias("weight"),
            F.round(key, 9).alias("key"),
        )
        .orderBy("key", "id")
        .limit(50)
    )
    stats = docs.filter(F.col("n_chars") > 0).agg(
        F.count(F.lit(1)).alias("n_corpus"),
        # exact integer sum / count — not F.avg's order-dependent
        # float accumulation
        (
            F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_w_corpus"),
    )
    return (
        sampled.crossJoin(F.broadcast(stats))
        .select(
            F.col("id").alias("doc_id"),
            "weight",
            "key",
            F.col("n_corpus").cast("long").alias("n_corpus"),
            F.round("avg_w_corpus", 6).alias("avg_weight_corpus"),
        )
        .orderBy("key", "doc_id")
    )


def curriculum_plan(docs: DataFrame) -> DataFrame:
    """Quality-curriculum training schedule with spaced replay — the
    stage-sequencing companion to :func:`quality_shards` (which only
    TIERS the corpus) and :func:`epoch_plan` (which budgets epochs per
    source): 4 stages, stage k trains fresh on quality shard k (shard 1
    = best, first) and replays a deterministic 0.2 hash sample of every
    EARLIER shard — the standard anti-forgetting mixture for curriculum
    LM training (Bengio et al. 2009's curriculum + replay buffers).

    Per stage: fresh/replay doc counts, fresh/replay char volumes,
    and the replay share of the stage's mix.

    Exactness: shard assignment is the oracled quality_shards
    NTILE-over-(quality desc, id) device; replay membership is
    row-local md5 arithmetic (the hash_unit pattern, salted with the
    stage so a doc's replay draws are independent across stages);
    sums are integers in DECIMAL(38,0); the one share division is
    float. Scale shape: the ntile two-pass, then one explode bounded
    by the 4 stages per row and one stage-keyed aggregate."""
    sharded = quality_shards(docs, n_shards=4)
    st = sharded.select(
        F.col("doc_id"), F.col("shard"), F.col("n_chars")
    ).select(
        "*",
        F.explode(
            F.sequence(F.col("shard"), F.lit(4))
        ).alias("stage"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":curriculum:"),
                        F.col("stage").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    ) / F.lit(1_000_000.0)
    fresh = (F.col("stage") == F.col("shard")).cast("int")
    kept = st.select(
        "stage",
        "n_chars",
        fresh.alias("f"),
        F.when(F.col("stage") == F.col("shard"), 1)
        .when(u < F.lit(0.2), 1)
        .otherwise(0)
        .alias("k"),
    ).filter(F.col("k") == 1)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = kept.groupBy("stage").agg(
        F.sum("f").alias("n_fresh"),
        F.sum(F.lit(1) - F.col("f")).alias("n_replay"),
        F.sum(
            F.when(F.col("f") == 1, dec("n_chars")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("chars_fresh"),
        F.sum(
            F.when(F.col("f") == 0, dec("n_chars")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("chars_replay"),
    )
    return agg.select(
        F.col("stage").cast("long").alias("stage"),
        F.col("n_fresh").cast("long").alias("n_fresh"),
        F.col("n_replay").cast("long").alias("n_replay"),
        F.col("chars_fresh").cast("long").alias("chars_fresh"),
        F.col("chars_replay").cast("long").alias("chars_replay"),
        (
            F.round(
                F.col("n_replay").cast("double")
                / (F.col("n_fresh") + F.col("n_replay")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("replay_share"),
    ).orderBy("stage")
