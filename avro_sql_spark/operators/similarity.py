"""Similarity search over embedding columns (north-star scope; absent in
the reference — SURVEY.md §2.2).

Two tiers:
 - ``brute_force_topk`` — exact cosine top-k; the correctness baseline
   and the DuckDB-oracle-checkable path. Query side is broadcast, so the
   big side streams through one codegen'd stage with a bounded top-k per
   partition (window over query_id) — no all-pairs shuffle.
 - ``lsh_bucketed_ann`` — random-hyperplane LSH: sign-bit signature →
   bucket join → exact cosine only within buckets. The 100 TB path:
   candidate generation is an equi-join on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine
from ._scan import spread

def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of every corpus vector for each query vector.

    ``queries`` (small) is broadcast; ranking partitions by query only.
    Cosine is rounded to 6 decimals *before* ranking with an id
    tiebreak, so the result is stable across float summation orders (and
    reproducible by the DuckDB oracle)."""
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = spread(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _plane_components(planes: int, dim: int, seed: int = 0) -> "list[list[float]]":
    """Hyperplane components as plan-time Python floats: md5 of
    "seed,plane,dim-index" cut to 48 bits, scaled to [-0.5, 0.5).
    Deterministic and engine-neutral — the Spark plan and the DuckDB
    oracle embed the IDENTICAL double literals."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed},{p},{j}".encode()).hexdigest()[:12], 16)
            % 10_000_001
            / 10_000_001
            - 0.5
            for j in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_signature(vec, planes: int = 16, seed: int = 0, dim: int = 64) -> "F.Column":
    """LSH bucket id: sign bits of dot(vec, hyperplane_p) for p in
    0..planes-1, packed into a long. Hyperplane components are PLAN-TIME
    literal arrays derived from md5("seed,plane,dim-index") — no stored
    model, no join, and (unlike the earlier per-row xxhash64 variant)
    ZERO runtime hashing: the per-plane dot against a constant array is
    the only per-row work. The same literals go into the DuckDB oracle,
    and the dot is a sequential left fold on both engines, so bucket ids
    replay bit-for-bit.

    Components are centered on zero ([-0.5, 0.5)): an off-center normal
    points into one orthant and barely splits directional data. Recall
    is observable, not assumed — the ``ann_recall`` entry measures ~0.5
    mean recall@10 on the test embeddings at 8 planes x 4 tables; raise
    ``tables`` (or lower ``planes``) to trade candidates for recall.
    ``dim`` must match the vector length (callers probe one row); the
    literal-array form trades the dynamic-dim flexibility for codegen
    with no hash calls and an oracle-replayable plan.

    ``vec`` is a SQL snippet string (a quoted column reference at every
    call site). The whole packed signature is built as ONE parsed SQL
    expression — the Column-API form issued ~planes x dim ``lit()`` /
    lambda Py4J round-trips per table per side (~2 s of pure driver
    time per LSH entry at 4 tables x 2 sides — the _centroid_dists
    lesson), while one ``F.expr`` parse is milliseconds. Each per-plane
    dot is the IDENTICAL 0.0-seeded ascending zip_with fold with the
    same per-element double cast, and the bit-pack is the same integer
    OR of the same CASE terms, so every bucket id is bit-identical."""
    comps = _plane_components(planes, dim, seed)
    vec_sql = vec
    terms = []
    for p in range(planes):
        lits = ", ".join(f"{c!r}D" for c in comps[p])
        dot = (
            f"aggregate(zip_with({vec_sql}, array({lits}),"
            " (v, c) -> cast(v as double) * c), 0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"(case when {dot} > 0 then cast({1 << p} as bigint)"
            " else cast(0 as bigint) end)"
        )
    if not terms:
        return F.lit(0).cast("long")
    return F.expr(" | ".join(terms))


def lsh_bucketed_ann(emb: DataFrame, queries: DataFrame, planes: int = 8) -> DataFrame:
    """Approximate top-10: exact cosine only among corpus vectors sharing
    a hyperplane bucket with the query in AT LEAST ONE of 4
    independent hash tables. Single-table sign-LSH recall is the
    AND-probability (1 - θ/π)^planes — low for any realistic neighbor
    angle — so production LSH always unions L tables (OR-construction);
    recall rises as 1-(1-p)^L while candidate volume grows linearly.

    Scale shape: each side emits 4 skinny (id, table, bucket)
    rows (in-row posexplode), candidates come from one equi-join on
    (table, bucket) deduped before the exact-cosine rerank — vectors
    re-attach per side after dedup, so signatures never ride the join."""
    # plan-time dim probe (one-row scan): the hyperplane literal arrays
    # need the vector length
    _head = emb.filter(F.col("embedding").isNotNull()).select("embedding").first()
    _dim = len(_head[0]) if _head is not None else 1

    def _buckets(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col("vec_id").alias(out_id),
            F.posexplode(
                F.array(
                    *[
                        hyperplane_signature("`embedding`", planes, seed=t, dim=_dim)
                        for t in range(4)
                    ]
                )
            ).alias("tbl", "bucket"),
        )

    cand = (
        _buckets(emb, "neighbor_id")
        .join(F.broadcast(_buckets(queries, "query_id")), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cand.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def _coarse_centroids(emb: DataFrame) -> "list[list[float]]":
    """The shared IVF coarse quantizer: the DETERMINISTIC Lloyd loop
    (clustering.lloyd_centroids — lowest-id seeds and training rows,
    2 fixed iterations, 9dp-rounded updates) over at most 100,000
    vectors, returned as plan-time literals (16 cells × dim driver
    state, the bounded-model contract every quantizer here follows)."""
    from .clustering import lloyd_centroids

    return lloyd_centroids(emb.orderBy("vec_id").limit(100_000), k=16)


def _centroid_dists(vec: str, centroids: "list[list[float]]"):
    """Squared distance to each centroid as ONE array Column (centroids
    inlined as literals - no join, no model server). A chained
    when/otherwise accumulator would copy the growing subtree per
    centroid (2^n expression blowup — Catalyst never finishes analyzing
    it).

    Built as ONE parsed SQL string, not nested Column calls: the
    Column form issued ~k x d ``lit()``/lambda Py4J round-trips per use
    (measured ~1.9 s of pure driver time per call at k=16, d=64 — the
    _assign/minhash-builder lesson), while one ``F.expr`` parse is
    milliseconds. The fold is the IDENTICAL 0.0-seeded ascending
    zip_with aggregate, with the same per-element double casts, so
    every distance is bit-identical.

    ``vec`` is a SQL snippet string (a quoted column reference at
    every call site here)."""
    vec_sql = vec
    folds = ", ".join(
        "aggregate(zip_with({v}, array({lits}), (a, b) ->"
        " (cast(a as double) - b) * (cast(a as double) - b)),"
        " 0D, (acc, x) -> acc + x)".format(
            v=vec_sql,
            lits=", ".join(f"{float(x)!r}D" for x in cent),
        )
        for cent in centroids
    )
    return F.expr(f"array({folds})")


def _cell_of(vec, centroids: "list[list[float]]"):
    """``vec`` is a SQL snippet string (see :func:`_centroid_dists`)."""
    dists = _centroid_dists(vec, centroids)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _probe_cells(vec, centroids: "list[list[float]]", n_probe: int):
    """Each query's n_probe nearest cells, as a pure Column expression
    (sort (dist, cell) structs, slice) — the query frame never leaves
    the executors. arrays_zip evaluates the distance array ONCE;
    putting element_at(dists, ...) inside a transform lambda would
    re-evaluate the whole O(n_cells * dim) array per element
    (higher-order functions re-run non-lambda-variable subtrees), an
    O(n_cells^2 * dim) blowup per query row."""
    dists = _centroid_dists(vec, centroids)
    cells = F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda c: c.cast("int"),
    )
    ranked = F.array_sort(F.arrays_zip(dists.alias("d"), cells.alias("c")))
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["c"])


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: "list[list[float]] | None" = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-10: k-means coarse quantizer (16 cells)
    -> assign each corpus vector to its nearest centroid cell -> a query
    scans only its 4 nearest cells.

    The 100 TB shape: centroids are tiny (16 x dim), trained on AT
    MOST 100,000 vectors (a coarse quantizer needs a bounded
    training set, not full-corpus Lloyd's passes) and broadcast
    everywhere; cell assignment is one scan; the probe is an equi-join
    on cell id, so candidate generation shuffles only matching cells.

    The quantizer is the DETERMINISTIC Lloyd loop shared with
    kmeans_lloyd (clustering.lloyd_centroids: lowest-id seeds and
    training rows, 2 fixed iterations, 9dp-rounded updates) —
    a closed-form expression of the input, so the ENTIRE approximate
    result (cells, probes, candidates, ranks) replays in an ANSI-SQL
    oracle; reruns build identical cells by construction.
    """
    # ``centroids``: a caller that already ran the identical
    # _coarse_centroids training (to overlap it with other driver
    # work — ann_recall_report) passes the result in; None trains
    # here, exactly as before
    if centroids is None:
        centroids = _coarse_centroids(emb)
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        _cell_of("`embedding`", centroids).alias("cell"),
    )
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
        F.explode(_probe_cells("`embedding`", centroids, 4)).alias("cell"),
    )

    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def _pq_model(emb: DataFrame):
    """Train the per-subspace PQ codebooks (m = 4 subspaces, codebook_k
    = 16 centroids each; deterministic shared Lloyd, 2 iterations, over
    at most 512 lowest-id vectors) and return the two
    SQL-string builders ``(sub_dists_sql, code_sql)`` shared by
    :func:`pq_topk` and :func:`ivf_pq_topk`.

    m * codebook_k fold trees are built as ONE SQL string per column:
    Column-by-Column construction costs ~ms of driver Py4J per node
    (thousands of nodes here) and the bench times construction. The
    generated ops are identical to the ivf_topk zip_with/aggregate
    Column pattern, so the oracle arithmetic is unchanged.

    All m subspace codebooks train JOINTLY: one seed collect and ONE
    assign+update job per Lloyd iteration over the checkpointed train
    slice, instead of m independent lloyd_centroids loops (m seed jobs
    + m*iterations assign/update jobs). Each Spark job here pays a
    fresh whole-stage-codegen compile (the literals change every
    iteration, so the codegen cache never hits) — at m=4,
    iterations=2 the per-subspace form spent ~8 s of the 12.8 s
    ann_ivf_pq bench entry in that fixed overhead. The joint form is
    arithmetic-identical per subspace: the same unrolled
    left-associated (v[i]-c)^2 sums as clustering._assign's <=256
    fast branch, the same per-(subspace, cluster, dim) float avg over
    the same rows, the same 9 dp centroid rounding — so the trained
    books, and therefore the oracle replay, are unchanged."""
    from ..errors import AvroSqlError

    m, codebook_k = 4, 16
    # one LAZY checkpoint pins the bounded train slice (the seed
    # collect right below materializes it — no separate construction
    # job); the cast to array<double> is hoisted here so every
    # downstream term reads `_v` (the clustering._assign codegen-size
    # lesson)
    train = (
        emb.orderBy("vec_id")
        .limit(512)
        .selectExpr("`vec_id` AS _tid", "cast(`embedding` as array<double>) AS _v")
        .localCheckpoint(eager=False)
    )
    seed_rows = train.orderBy("_tid").limit(codebook_k).select("_v").collect()
    if not seed_rows or seed_rows[0]["_v"] is None:
        raise ValueError("pq_topk: input has no vectors")
    dim = len(seed_rows[0]["_v"])
    if dim % m != 0:
        raise ValueError(f"pq_topk: dim {dim} not divisible by m={m}")
    sd = dim // m
    if len(seed_rows) < codebook_k:
        # same error contract as the per-subspace lloyd_centroids path
        raise AvroSqlError(
            f"kmeans_lloyd: need at least k={codebook_k} rows, "
            f"got {len(seed_rows)}"
        )
    books = [
        [list(r["_v"][s * sd : (s + 1) * sd]) for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(2):
        # per-subspace subvector columns hoisted first, then one
        # distance array per subspace in the compact 0.0-seeded
        # aggregate/zip_with FOLD form — the IDENTICAL IEEE value as
        # the unrolled left-associated sum (0.0 + x == x, same add
        # order; clustering._assign's documented equivalence). The
        # unrolled form optimizes row THROUGHPUT, but this frame is
        # bounded at 512 rows and its literals change
        # every iteration, so whole-stage-codegen COMPILE time
        # dominates — the ~50x-smaller fold text compiles in a
        # fraction of the time and the interpreted evaluation over 512
        # rows is noise
        assigned = train.selectExpr(
            "*",
            *[f"slice(_v, {s * sd + 1}, {sd}) AS _sub{s}" for s in range(m)],
        )
        for s in range(m):
            dists = ", ".join(
                "aggregate(zip_with(_sub{s}, array({lits}),"
                " (x, y) -> (x - y) * (x - y)), 0D,"
                " (acc, x) -> acc + x)".format(
                    s=s, lits=", ".join(f"{x!r}D" for x in c)
                )
                for c in books[s]
            )
            assigned = assigned.selectExpr("*", f"array({dists}) AS _dists{s}")
        assigned = assigned.selectExpr(
            "*",
            *[
                f"cast(array_position(_dists{s}, array_min(_dists{s})) - 1"
                f" as int) AS _cl{s}"
                for s in range(m)
            ],
        )
        # ONE update job for all subspaces: posexplode the full vector,
        # route element i to (subspace i div sd, local dim i mod sd,
        # that subspace's cluster) — the per-group rows and their
        # partition order match the per-subspace run, so the float avg
        # partial sums (and the 9 dp round absorbing their noise) agree
        ex = assigned.select(
            *[F.col(f"_cl{s}") for s in range(m)],
            F.posexplode(F.col("_v")).alias("i", "v"),
        )
        sub_ix = (F.col("i") / sd).cast("int")
        rows = (
            ex.select(
                sub_ix.alias("s"),
                F.element_at(
                    F.array(*[F.col(f"_cl{s}") for s in range(m)]), sub_ix + 1
                ).alias("cluster"),
                (F.col("i") % sd).alias("il"),
                "v",
            )
            .groupBy("s", "cluster", "il")
            .agg(F.avg("v").alias("mv"))
            .collect()
        )  # m x k x sd cells — bounded driver state, never row count
        # empty-cluster rule matches lloyd_centroids: a cluster that
        # lost every point keeps its previous position
        new_books = [[list(c) for c in books[s]] for s in range(m)]
        for r in rows:
            new_books[r["s"]][r["cluster"]][r["il"]] = round(r["mv"], 9)
        books = new_books

    def _sub_dists_sql(vec_sql: str, s: int) -> str:
        sub = f"slice({vec_sql}, {s * sd + 1}, {sd})"
        folds = ",".join(
            "aggregate(zip_with({sub}, array({cent}), "
            "(a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "0.0D, (acc, x) -> acc + x)".format(
                sub=sub,
                cent=",".join(repr(float(x)) + "D" for x in cent),
            )
            for cent in books[s]
        )
        return f"array({folds})"

    def _code_sql(vec_sql: str, s: int) -> str:
        d = _sub_dists_sql(vec_sql, s)
        return f"CAST(array_position({d}, array_min({d})) - 1 AS INT)"

    return _sub_dists_sql, _code_sql


def pq_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze, Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    d-dim vector into m = 4 subvectors, learn a 16-centroid codebook
    per subspace, store each corpus vector as m small codes,
    and answer queries with asymmetric distance computation (ADC) — a
    per-query lookup table of query-subvector-to-centroid distances,
    summed across subspaces by code.

    The 100 TB shape: the corpus compresses from d floats to m bytes
    per vector (64x here) — THE memory-bound ANN layout; codebooks are
    m x 16 x (d/m) driver literals trained on AT MOST 512 lowest-id
    vectors via the deterministic shared Lloyd loop
    (clustering.lloyd_centroids — same contract as ivf_topk's coarse
    quantizer), encoding is one in-row argmin scan, and scoring is m
    array lookups + adds per (query, code) pair with the small query
    side broadcast. No shuffle touches the raw vectors after encoding.
    Fully deterministic -> the DuckDB oracle replays the per-subspace
    Lloyd training, the argmin codes, and the ADC ranking exactly.

    Returns (query_id, neighbor_id, adist, rank): top-10 neighbors
    per query by ADC distance (ties break to the lower neighbor id),
    ``adist`` rounded to 4.
    """
    _sub_dists_sql, _code_sql = _pq_model(emb)
    codes = spread(emb, "vec_id").selectExpr(
        "`vec_id` AS neighbor_id",
        *[f"{_code_sql('`embedding`', s)} AS c{s}" for s in range(4)],
    )
    luts = queries.selectExpr(
        "`vec_id` AS query_id",
        *[f"{_sub_dists_sql('`embedding`', s)} AS lut{s}" for s in range(4)],
    )
    scored = codes.join(
        F.broadcast(luts), F.col("query_id") != F.col("neighbor_id")
    )
    adist = F.element_at(F.col("lut0"), F.col("c0") + 1)
    for s in range(1, 4):
        adist = adist + F.element_at(F.col(f"lut{s}"), F.col(f"c{s}") + 1)
    scored = scored.select(
        "query_id", "neighbor_id", F.round(adist, 4).alias("adist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def ivf_pq_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF+PQ ANN — the billion-vector FAISS composition (Jégou 2011
    §IV: IVFADC without the residual refinement): the IVF coarse
    quantizer (16 cells, trained on at most 100,000 vectors) restricts
    each query to its 4 nearest cells, and within those cells
    candidates rank by :func:`pq_topk`'s asymmetric distance (ADC) over
    4-byte codes (16-centroid books trained on at most 512 vectors)
    instead of raw vectors.

    The 100 TB shape combines both parents': the inverted-file join
    touches only probed cells (never the whole corpus), the scan that
    feeds it carries m small codes per vector (64× compression — the
    memory-bound layout), both quantizers train on BOUNDED lowest-id
    samples via the deterministic shared Lloyd loop, and the query
    side (probe cells + ADC lookup tables) is a broadcast. Fully
    deterministic → the DuckDB oracle composes the IVF quantizer CTEs
    with the PQ codebook CTEs and replays cells, probes, codes, and
    the left-assoc ADC fold exactly.

    Returns (query_id, neighbor_id, adist, rank): top-10 per query
    by ADC distance within probed cells (ties to lower neighbor id)."""
    # the two quantizer trainings are INDEPENDENT sequential driver-job
    # chains over bounded slices of the same input; submitting them
    # from two driver threads lets the scheduler interleave their jobs
    # (wall = max instead of sum — the overlap-independent-jobs pattern)
    # while each training's own loop stays sequential, so the trained
    # books are bit-identical to the serial run
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_coarse = pool.submit(_coarse_centroids, emb)
        fut_pq = pool.submit(_pq_model, emb)
        centroids = fut_coarse.result()
        _sub_dists_sql, _code_sql = fut_pq.result()
    codes = spread(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        _cell_of("`embedding`", centroids).alias("cell"),
        *[
            F.expr(_code_sql("`embedding`", s)).alias(f"c{s}")
            for s in range(4)
        ],
    )
    luts = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(_probe_cells("`embedding`", centroids, 4)).alias("cell"),
        *[
            F.expr(_sub_dists_sql("`embedding`", s)).alias(f"lut{s}")
            for s in range(4)
        ],
    )
    scored = codes.join(F.broadcast(luts), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    adist = F.element_at(F.col("lut0"), F.col("c0") + 1)
    for s in range(1, 4):
        adist = adist + F.element_at(F.col(f"lut{s}"), F.col(f"c{s}") + 1)
    scored = scored.select(
        "query_id", "neighbor_id", F.round(adist, 4).alias("adist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label embedding centroids as FLAT (label, dim, mean_v) rows —
    the supervised companion to the IVF quantizer (class prototypes,
    nearest-centroid classification, drift monitoring).

    Scale shape: ``posexplode`` moves the aggregation onto (label, dim)
    keys, so parallelism scales with labels × dims instead of labels, no
    task ever holds one label's whole vector set, and the sums combine
    map-side. sum/count (not avg) keeps the oracle arithmetic identical;
    rounding absorbs float summation-order noise. Re-pack with
    ``array_sort(collect_list(struct(dim, mean_v)))`` when an array
    column is wanted downstream."""
    ex = spread(emb, "vec_id").select(
        # a fresh attribute: embedding_outliers joins this back to ``emb``
        F.col("label").alias("label"),
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 6
            ).alias("mean_v")
        )
        .orderBy("label", "dim")
    )


def quantization_error_stats(emb: DataFrame) -> DataFrame:
    """Int8 scalar quantization quality report: per label, the mean
    absolute reconstruction error of symmetric per-vector int8 codes.
    Quantization cuts embedding storage/shuffle 4x (float32 -> int8 +
    one scale), the standard precursor to ANN at 100 TB; this operator
    is the fidelity check run before committing to it.

    All in-row array expressions (transform/zip_with/aggregate) — the
    only shuffle is the final tiny per-label aggregate."""
    from ..functions.vectors import dequantize, quantize, quantize_scale

    emb = spread(emb, "vec_id")
    v = F.col("embedding")
    scale = quantize_scale(v)
    recon = dequantize(quantize(v, scale), scale)
    err_sum = F.aggregate(
        F.zip_with(v, recon, lambda a, b: F.abs(a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.select(F.col("label").alias("label"), err_sum.alias("e"), F.size(v).alias("n"))
        .groupBy("label")
        .agg(
            F.sum("n").alias("n_values"),
            F.round(F.sum("e") / F.sum("n"), 6).alias("mean_abs_err"),
        )
        .orderBy("label")
    )


def embedding_outliers(emb: DataFrame) -> DataFrame:
    """Per-label embedding OUTLIER report: distance of every vector to
    its label centroid, then per label the count, mean distance, and how
    many vectors sit more than two (sample) standard deviations above
    the mean — the mislabeled-example / contamination screen run before
    training on a labeled corpus.

    Scale shape: centroids come from the same (label, dim) posexplode
    aggregation as :func:`label_centroids` (parallelism = labels x dims,
    map-side combine), are re-packed into one small array row per label,
    and broadcast into the embedding scan; the per-vector distance is
    in-row ``zip_with``/``aggregate`` array math. The distance frame is
    aggregated twice (mean/std, then the threshold count) and is CACHED:
    it is skinny (label + one double per vector, ~100x smaller than the
    vectors), while recomputing it would re-scan the full embedding
    corpus — at 100 TB the cache is the cheap side. Callers running many
    pipelines own cleanup (``spark.catalog.clearCache()``), as with the
    dedup module's cache contract. Distances are rounded to 6 decimals
    before the stats so both engines threshold identical values."""
    cents = (
        label_centroids(emb)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_v"))),
                lambda s: s["mean_v"],
            ).alias("cent")
        )
    )
    v = F.col("embedding")
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    v, F.col("cent"), lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    dists = (
        spread(emb, "vec_id")
        .join(F.broadcast(cents), emb["label"] == cents["label"])
        .select(emb["label"].alias("lbl"), dist.alias("dist"))
        .cache()
    )
    stats = dists.groupBy("lbl").agg(
        F.avg("dist").alias("m"), F.stddev("dist").alias("sd")
    )
    return (
        dists.join(F.broadcast(stats), "lbl")
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.first("m"), 4).alias("mean_dist"),
            F.sum(
                (F.col("dist") > F.col("m") + F.lit(2.0) * F.col("sd")).cast("long")
            ).alias("n_outliers"),
        )
        .withColumnRenamed("lbl", "label")
        .orderBy("label")
    )


def ann_recall_report(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Recall@10 of the approximate ANN paths (LSH at 4 planes a table,
    and IVF) against exact brute force —
    one row per method with mean recall and worst-query recall. This is
    the acceptance gate before switching a 100 TB retrieval pipeline
    from exact to approximate: "fast" only counts if the recall target
    holds (measure, don't guess).

    Scale shape: ground truth and candidates are the operators' own
    bounded top-10 outputs (10 rows per query), so the comparison joins
    touch 10 x |queries| rows regardless of corpus size."""
    # 10 x |queries| bounded, but consumed FOUR times (twice per
    # recall_vs_truth call, two calls) — checkpoint so the exact
    # brute-force scan over the corpus runs once, not four times. LAZY:
    # an eager checkpoint here is a synchronous construction job that
    # serializes with the IVF training collects; lazy still pins one
    # materialization at the first action
    truth = (
        brute_force_topk(emb, queries)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    # materialize the exact-truth checkpoint from a SECOND driver
    # thread while the main thread runs the IVF coarse training's
    # sequential collect jobs (overlap-independent-jobs): the
    # brute-force scoring pass shares the otherwise-idle cluster with
    # the training jobs, and the terminal action then reads the truth
    # blocks instead of computing them after training
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_truth = pool.submit(truth.count)
        # the IVF coarse training (seed collect + per-iteration
        # aggregates — the entry's only sequential job chain) runs on
        # a THIRD driver thread while the main thread pays the LSH
        # leg's plan-construction py4j round-trips; both overlap the
        # truth materialization. Identical deterministic training —
        # ivf_topk just receives the result instead of re-running it.
        fut_cents = pool.submit(_coarse_centroids, emb)
        # 4 planes: 16 buckets — at 8 planes the 256 buckets starve recall
        # on small corpora, which is exactly what this report exists to catch
        lsh_cand = lsh_bucketed_ann(emb, queries, planes=4).select(
            "query_id", "neighbor_id"
        )
        ivf_cand = ivf_topk(emb, queries, centroids=fut_cents.result()).select(
            "query_id", "neighbor_id"
        )
        fut_truth.result()
    # BOTH method legs' recalls from ONE union + two aggregations,
    # replacing two recall_vs_truth subtrees (per leg: a cand
    # broadcast-exchange, a hits join, a hits-agg broadcast, a per-q
    # join — each broadcast a separate driver job; this entry is
    # job-overhead-bound, 31 jobs/run measured in r9). Equivalence:
    # every frame is a DISTINCT (query_id, neighbor_id) set (top-k
    # outputs are row_number-filtered), so per-query set-intersection
    # counts via max-flags + sums are exactly the old hits-join counts;
    # n_truth>0 filter == "queries present in truth", the old per_q
    # domain; na.fill(0) is the natural sum-of-zeros here.
    tagged = (
        truth.select("query_id", "neighbor_id", F.lit(0).alias("src"))
        .unionByName(
            lsh_cand.select("query_id", "neighbor_id", F.lit(1).alias("src"))
        )
        .unionByName(
            ivf_cand.select("query_id", "neighbor_id", F.lit(2).alias("src"))
        )
    )
    flags = tagged.groupBy("query_id", "neighbor_id").agg(
        F.max((F.col("src") == 0).cast("int")).alias("t"),
        F.max((F.col("src") == 1).cast("int")).alias("l"),
        F.max((F.col("src") == 2).cast("int")).alias("i"),
    )
    per_q = (
        flags.groupBy("query_id")
        .agg(
            F.sum("t").alias("n_truth"),
            F.sum(F.col("t") * F.col("l")).alias("h_lsh"),
            F.sum(F.col("t") * F.col("i")).alias("h_ivf"),
        )
        .filter(F.col("n_truth") > 0)
    )
    per_qm = per_q.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lsh_bucketed").alias("method"),
                    (F.col("h_lsh") / F.col("n_truth")).alias("recall"),
                ),
                F.struct(
                    F.lit("ivf").alias("method"),
                    (F.col("h_ivf") / F.col("n_truth")).alias("recall"),
                ),
            )
        ).alias("m")
    ).select("m.method", "m.recall")
    return (
        per_qm.groupBy("method")
        .agg(
            F.round(F.avg("recall"), 6).alias("mean_recall"),
            F.round(F.min("recall"), 6).alias("worst_recall"),
        )
        .orderBy("method")
    )


def recall_vs_truth(truth: DataFrame, cand: DataFrame, method: str) -> DataFrame:
    """One-row (method, mean_recall, worst_recall) comparing a candidate
    top-k against the exact top-k ``truth`` (both as (query_id,
    neighbor_id) frames). Bounded work: joins touch k x |queries| rows
    regardless of corpus size."""
    # both frames are k x |queries| bounded, but they arrive behind
    # checkpoint-truncated lineage with no stats, so AQE plans SMJ —
    # broadcast explicitly (the r5 plan audit found 2-4 SMJs per recall
    # entry, all on these bounded joins). truth feeds BOTH the hits
    # join and the per-query denominator: checkpoint the bounded frame
    # so a brute-force truth subtree computes once, not twice — lazy,
    # so the materialization folds into the first action instead of a
    # blocking construction job
    truth = truth.select("query_id", "neighbor_id").localCheckpoint(eager=False)
    hits = truth.join(
        F.broadcast(cand.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
    )
    per_q = (
        truth.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_truth"))
        .join(
            F.broadcast(
                hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
            ),
            "query_id",
            "left",
        )
        .na.fill({"n_hit": 0})
        .select((F.col("n_hit") / F.col("n_truth")).alias("recall"))
    )
    return per_q.agg(
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.min("recall"), 6).alias("worst_recall"),
    ).select(F.lit(method).alias("method"), "mean_recall", "worst_recall")


def gram_covariance(emb: DataFrame) -> DataFrame:
    """Population covariance matrix of an embedding column as (i, j,
    cov) rows, ``cov`` rounded to 12 decimals — the input to
    whitening/PCA and the canonical distributed-linear-algebra shape.

    Scale shape: per-PARTITION BLAS partials via mapInPandas — each
    partition emits ONE row holding (count, sum-vector, flattened d x d
    gram X^T X), so the shuffled volume is (#partitions x d^2) floats,
    independent of row count. The partials are then posexploded and
    merged by a map-side-combined sum per cell. Nothing driver-side
    grows with the data; d is the only scaling knob (d^2 floats per
    partition row). A narrow scan is spread round-robin
    (``_scan.spread``), so the partial-summation grouping follows the
    scan layout and cluster size. Null vectors are excluded, matching what
    any per-cell aggregate would do."""
    src0 = emb.filter(F.col("embedding").isNotNull())
    head = src0.select("embedding").first()
    if head is None or head[0] is None:
        from ..errors import AvroSqlError

        raise AvroSqlError("gram_covariance: input has no vectors")
    d = len(head[0])  # one cheap dimension-probe job; d is not in the schema
    src = spread(src0.select(F.col("embedding").alias("v")))

    def _partials(batches):
        import numpy as np
        import pandas as pd

        n, s, g = 0, None, None
        for pdf in batches:
            x = np.vstack(pdf["v"].to_numpy()).astype("float64")
            n += x.shape[0]
            s = x.sum(0) if s is None else s + x.sum(0)
            g = x.T @ x if g is None else g + x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.flatten().tolist()]}
            )

    # four consumers (totals, gram cells, both mean sides) — eagerly
    # localCheckpoint the tiny partials frame (#partitions rows) so the
    # numpy gram pass over the data runs once. Checkpoint, not cache:
    # the blocks are GC-cleaned with the frame (no unpersist obligation
    # the caller cannot meet — the frame never escapes this function)
    parts = src.mapInPandas(
        _partials, "n long, s array<double>, g array<double>"
    ).localCheckpoint()
    totals = parts.agg(F.sum("n").alias("nn"))
    gsum = (
        parts.select(F.posexplode("g").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.sum("val").alias("gg"))
    )
    ssum = (
        parts.select(F.posexplode("s").alias("i", "val"))
        .groupBy("i")
        .agg(F.sum("val").alias("ss"))
    )
    si = ssum.select(F.col("i").alias("ii"), F.col("ss").alias("si"))
    sj = ssum.select(F.col("i").alias("jj"), F.col("ss").alias("sj"))
    return (
        gsum.select((F.col("idx") / d).cast("int").alias("i"),
                    F.pmod("idx", F.lit(d)).cast("int").alias("j"),
                    "gg")
        .join(F.broadcast(si), F.col("i") == F.col("ii"))
        .join(F.broadcast(sj), F.col("j") == F.col("jj"))
        .crossJoin(F.broadcast(totals))
        .select(
            "i",
            "j",
            F.round(
                F.col("gg") / F.col("nn")
                - (F.col("si") / F.col("nn")) * (F.col("sj") / F.col("nn")),
                12,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


def fixed_point_covariance(emb: DataFrame, round_to: int | None = 6) -> DataFrame:
    """Population covariance matrix as (i, j, cov) rows from FIXED-POINT
    integer gram partials — the exactly-replayable twin of
    :func:`gram_covariance` (which keeps the float BLAS fast path).

    Why this exists: summing 4096 data-dependent doubles through
    numpy/BLAS partials is summation-order-dependent (BLAS kernel,
    threading, partition layout), so two engines — or two BLAS builds —
    produce cells differing by ~1 ulp, and no output rounding can
    reconcile a cell that lands within 1 ulp of a rounding boundary.
    Here every element is quantized ONCE per value with
    ``floor(v * 1e6 + 0.5)`` (identical IEEE double ops in numpy and
    in any SQL engine — ties have no ambiguity because floor of the
    +0.5-shifted value is a single well-defined op), and all
    accumulation is exact integer arithmetic: the result is a
    closed-form function of the data, independent of partitioning,
    summation order, or BLAS. Quantization error is <= 1/(2*1e6) per
    element, far below the 6-dp report.

    Scale shape is UNCHANGED from gram_covariance: per-partition
    integer gram partials via mapInPandas (numpy int64 matmul), one row
    of (count, sum-vector, flattened d x d gram) per partition, so the
    shuffled volume is #partitions x d^2 ints, independent of row
    count; global merge is a map-side-combined DECIMAL(38,0) sum per
    cell (overflow-proof: int64 per-partition partials hold while
    rows_per_partition * (1e6 * |v|_max)^2 < 2^63 — 3e6 rows per
    partition at |v| <= 1; the partition row count is the only
    knob). No fixed repartition pinning is needed — integer sums are
    order-free — so the default parallelism path is both the
    deterministic AND the fast one.
    """
    src0 = emb.filter(F.col("embedding").isNotNull())
    head = src0.select("embedding").first()
    if head is None or head[0] is None:
        from ..errors import AvroSqlError

        raise AvroSqlError("fixed_point_covariance: input has no vectors")
    d = len(head[0])
    src = spread(src0.select(F.col("embedding").alias("v")))

    def _partials(batches):
        import numpy as np
        import pandas as pd

        n, s, g = 0, None, None
        for pdf in batches:
            x = np.vstack(pdf["v"].to_numpy()).astype("float64")
            q = np.floor(x * 1e6 + 0.5).astype("int64")
            n += q.shape[0]
            s = q.sum(0) if s is None else s + q.sum(0)
            g = q.T @ q if g is None else g + q.T @ q
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.flatten().tolist()]}
            )

    parts = src.mapInPandas(
        _partials, "n long, s array<long>, g array<long>"
    ).localCheckpoint()
    totals = parts.agg(F.sum("n").alias("nn"))
    dec = "DECIMAL(38,0)"
    gsum = (
        parts.select(F.posexplode("g").alias("idx", "val"))
        .groupBy("idx")
        .agg(F.sum(F.col("val").cast(dec)).alias("gg"))
    )
    ssum = (
        parts.select(F.posexplode("s").alias("i", "val"))
        .groupBy("i")
        .agg(F.sum(F.col("val").cast(dec)).alias("ss"))
    )
    si = ssum.select(F.col("i").alias("ii"), F.col("ss").alias("si"))
    sj = ssum.select(F.col("i").alias("jj"), F.col("ss").alias("sj"))
    # the one float expression, written as a SQL string so the oracle
    # can replay the IDENTICAL left-associated IEEE op sequence:
    # (G - Si*Sj/n) / n / scale / scale == G/n - (Si/n)(Sj/n), all
    # inputs exact integers -> both engines produce the same double
    cov_expr = (
        "(CAST(gg AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE)"
        " / CAST(nn AS DOUBLE)) / CAST(nn AS DOUBLE)"
        " / CAST(1000000 AS DOUBLE) / CAST(1000000 AS DOUBLE)"
    )
    if round_to is not None:
        cov_expr = f"ROUND({cov_expr}, {round_to})"
    return (
        gsum.select((F.col("idx") / d).cast("int").alias("i"),
                    F.pmod("idx", F.lit(d)).cast("int").alias("j"),
                    "gg")
        .join(F.broadcast(si), F.col("i") == F.col("ii"))
        .join(F.broadcast(sj), F.col("j") == F.col("jj"))
        .crossJoin(F.broadcast(totals))
        .select("i", "j", F.expr(cov_expr).alias("cov"))
        .orderBy("i", "j")
    )


def power_iteration(cov: DataFrame) -> "tuple[list[float], float]":
    """Dominant eigenvector of a distributed (i, j, cov) matrix by
    800 FIXED rounds of power iteration — the fully-replayable eigen path next
    to :func:`pca_project`'s exact numpy eigendecomposition: every
    arithmetic step (mat-vec fold over j ascending, norm fold over i
    ascending, both left-associated from 0.0, IEEE sqrt/div) is pinned,
    so a SQL engine unrolling the identical recursion reproduces the
    loadings BIT-EXACTLY (pca_project is rows-only at the gate because
    LAPACK's eigh has no such replay).

    The matrix is collected to the driver — bounded by d^2 cells, never
    by row count, the same legitimate collect as pca_project — and the
    iteration runs in pure Python doubles: d x d x 800 flops on d<10^3
    matrices is milliseconds; the distributed work is producing ``cov``
    (gram_covariance's partitions-x-d^2 shuffle). A fixed round count
    (not a convergence test) keeps the result a closed-form function of
    the input. Returns (loadings, rayleigh_norm) — the final normalized
    vector and the last pre-normalization norm (the eigenvalue estimate
    once converged); starting vector is all-ones. Raises AvroSqlError
    on an empty matrix or when an iterate's norm hits exactly zero (a
    zero matrix has no dominant direction)."""
    import math

    from ..errors import AvroSqlError

    cells = cov.collect()
    if not cells:
        raise AvroSqlError("power_iteration: empty covariance frame")
    d = max(r["i"] for r in cells) + 1
    m = [[0.0] * d for _ in range(d)]
    for r in cells:
        m[r["i"]][r["j"]] = float(r["cov"])
    v = [1.0] * d
    lam = 0.0
    for _ in range(800):
        y = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc += m[i][j] * v[j]
            y.append(acc)
        s = 0.0
        for e in y:
            s += e * e
        lam = math.sqrt(s)
        if lam == 0.0:
            raise AvroSqlError(
                "power_iteration: zero iterate norm (zero matrix has no "
                "dominant direction)"
            )
        v = [e / lam for e in y]
    return v, lam


def pca_project(emb: DataFrame) -> "tuple[DataFrame, list[float]]":
    """Project embeddings onto their top-2 principal components.

    The covariance matrix is computed distributed
    (:func:`gram_covariance`), collected to the driver — BOUNDED by d^2
    cells, never by row count, the legitimate kind of driver collect —
    eigendecomposed with numpy, and the 2 components are broadcast back
    as array literals; the projection itself is an in-row zip_with dot
    product, zero shuffle. Eigenvector sign is fixed deterministically
    (largest-|component| coordinate made positive) so reruns and
    partitionings agree."""
    import numpy as np

    cov_rows = gram_covariance(emb).collect()
    d = max(r["i"] for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:2]
    comps = []
    for c in order:
        v = vecs[:, c]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append(v)
    explained = [float(vals[c] / vals.sum()) for c in order]
    out = emb
    x = F.col("embedding")
    for ci, comp in enumerate(comps):
        lit = F.array(*[F.lit(float(w)) for w in comp])
        out = out.withColumn(
            f"pc{ci + 1}",
            F.round(
                F.aggregate(
                    F.zip_with(x, lit, lambda a, b: a.cast("double") * b),
                    F.lit(0.0),
                    lambda acc, t: acc + t,
                ),
                6,
            ),
        )
    return out.drop("embedding"), explained


def semantic_dedup_report(emb: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    near-duplicate pruning over an embedding column: k-means cluster
    the corpus (k = 8, 2 Lloyd iterations), compare COSINE similarity
    only WITHIN clusters, and for every pair at or above 0.35 drop the
    member MORE similar to its cluster centroid (the paper's
    keep-the-outlier rule — the dropped item is the redundant one nearer
    the cluster's semantic center); ties break to dropping the higher id. Returns one row per cluster:
    (cluster, n_points, n_pairs, n_dropped, n_kept).

    Scale shape — the whole point of the paper: clustering bounds the
    quadratic term. The pairwise join is an equi-join on ``cluster``,
    so work is sum(cluster_size^2), never corpus^2; at 100 TB you scale
    k with the corpus (the paper uses k ~ 100k on billions of
    items) to hold cluster sizes constant. Centroids are the bounded
    k x d driver state (clustering.lloyd_centroids), broadcast back as
    literals; every cosine is an in-row left-associated fold (no UDF).

    Determinism (what makes the DuckDB oracle possible): deterministic
    Lloyd (lowest-id seeds, fixed rounds, 9-dp centroid updates), all
    cosines rounded to 6 dp before any threshold/ordering comparison,
    and centroid norms computed with the same left-fold + sqrt in both
    engines — the discrete pair set and drop choices are then identical
    bit-for-bit."""
    import math

    from .clustering import _assign, lloyd_centroids

    cents = lloyd_centroids(emb, 8)
    d = len(cents[0])

    # dot products as 0.0-seeded zip_with FOLDS — the identical IEEE
    # value as an unrolled left-associated sum (0.0+x == x), in ~50x
    # less expression text. Measured against the unrolled-SQL-string
    # form this file used before: (a) a 64-term sum inside a join
    # FILTER is one unsplittable expression that blows janino's method
    # budget, so the "codegen-friendly" unrolling ran interpreted
    # anyway and the compact fold evaluates the same pass ~2x faster;
    # (b) the unrolled `nn` projection cost ~2.5 s of DRIVER time per
    # action — the optimizer re-inlines the 64-term tree through
    # project collapse at every analysis — which the fold avoids
    def dot_sql(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b},"
            " (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )

    def pynorm(c):
        s = 0.0
        for e in c:
            s += e * e
        return math.sqrt(s)

    # the self-dot is hoisted into one `nn` column instead of being
    # repeated inside every per-centroid cosine (k+1 copies of a
    # 64-term sum pushed the generated method past janino's 64 KB
    # limit, silently dropping the stage to interpreted execution);
    # sqrt(nn) is the same IEEE value as sqrt(<inline dot>), so every
    # cosine is bit-identical to the previous formulation and the
    # oracle is untouched
    # the per-centroid cosines use the fold form (clustering._assign's
    # large-k rationale): k=16 unrolled cdot expressions inside one
    # element_at(array(...)) are a single unsplittable expression past
    # janino's 64 KB method limit — the whole stage then runs
    # interpreted. The 0.0-seeded zip_with fold is the IDENTICAL IEEE
    # value with ~50x less codegen text, so the stage keeps codegen
    def cfold(c: "list[float]") -> str:
        lits = ", ".join(f"{x!r}D" for x in c)
        return (
            f"aggregate(zip_with(vec, array({lits}),"
            " (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )

    ccos_sql = "element_at(array({}), cluster + 1)".format(
        ", ".join(
            f"round(({cfold(c)}) / (sqrt(nn) * {pynorm(c)!r}D), 6)"
            for c in cents
        )
    )
    pts = (
        _assign(emb, cents)
        .select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vec"),
            "cluster",
        )
        .selectExpr("*", f"({dot_sql('vec', 'vec')}) AS nn")
        # zero-norm vectors have no cosine: exclude BEFORE ccos is
        # computed (its division would raise DIVIDE_BY_ZERO under the
        # session's default ANSI mode); the oracle filters identically
        .filter(F.col("nn") > 0)
        .selectExpr(
            "id",
            "vec",
            "cluster",
            "sqrt(nn) AS nrm",
            f"{ccos_sql} AS ccos",
        )
    )
    # spread before the pin, or the broadcast pair pass runs single-core
    # on the checkpointed blocks (measured 5.2 s -> 1.1 s at sf0.1)
    pts = spread(pts, "id").localCheckpoint(eager=True)  # reused by both sides of the pair join
    a, b = pts.alias("a"), pts.alias("b")
    # the candidate join's equi-key has only k distinct values, so its
    # output lands on <= k partitions — emit SKINNY id pairs there and
    # re-attach the vectors by id joins (the lsh_bucketed_ann pattern):
    # the O(d) cosine fold then runs hash(id)-distributed across all
    # cores, and no shuffle ever carries two vectors per row
    ids = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.cluster").alias("cluster"),
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
        F.col("a.ccos").alias("ca"),
        F.col("b.ccos").alias("cb"),
    )
    v1 = pts.select(
        F.col("id").alias("ia"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    v2 = pts.select(
        F.col("id").alias("ib"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    pairs = (
        ids.join(v1, "ia")
        .join(v2, "ib")
        .filter(
            F.expr(f"round(({dot_sql('va', 'vb')}) / (na * nb), 6)")
            >= F.lit(0.35)
        )
        .select("cluster", "ia", "ib", "ca", "cb")
        # two consumers (pair counts + drop election): checkpoint the
        # skinny survivor frame or the O(cluster^2 x d) cosine pass
        # runs twice
        .localCheckpoint(eager=True)
    )
    dropped = pairs.select(
        "cluster",
        F.when(F.col("ca") > F.col("cb"), F.col("ia"))
        .otherwise(F.col("ib"))
        .alias("id"),
    ).distinct()
    tot = pts.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_points"))
    npair = pairs.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_pairs"))
    ndrop = dropped.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        tot.join(F.broadcast(npair), "cluster", "left")
        .join(F.broadcast(ndrop), "cluster", "left")
        .na.fill({"n_pairs": 0, "n_dropped": 0})
        .select(
            "cluster",
            "n_points",
            "n_pairs",
            "n_dropped",
            (F.col("n_points") - F.col("n_dropped")).alias("n_kept"),
        )
        .orderBy("cluster")
    )


def hard_negatives(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the 10
    most-similar corpus vectors whose ``label`` DIFFERS from the
    query's — the negatives an InfoNCE/triplet trainer should see
    (Robinson et al. 2021, "Contrastive Learning with Hard Negative
    Samples"). Same-label rows are positives and are excluded by the
    join predicate itself, so they never reach the ranker.

    Scale shape mirrors :func:`brute_force_topk`: the (small) query set
    is broadcast, the corpus side is spread and streams through one
    codegen'd stage, and ranking partitions by query id only — no
    all-pairs shuffle, no global sort. A cosine floor of 0 drops anti-correlated
    vectors (easy negatives) before the window so the per-partition
    top-k heap stays small. Cosine is rounded to 6 decimals
    BEFORE ranking with an id tiebreak, making the selection stable
    across float summation orders (DuckDB-oracle-replayable)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("qv"),
    )
    c = spread(emb, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(0.0))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def random_projection(emb: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random projection (Achlioptas 2003-style
    dense projection, components md5-derived with seed 11): 64 -> 16
    doubles per row. The projection matrix is PLAN-TIME literal — the
    same device as :func:`hyperplane_signature` — so there is no stored
    model, no join, and the DuckDB oracle embeds the identical double
    literals. Each output component is a left-associated ``_v[j] * c``
    sum, written as a 0.0-seeded zip_with/aggregate fold, so both
    engines reproduce it bit-for-bit.

    Row-local: zero shuffle. At 100 TB this is the standard 4x
    shrink applied BEFORE any shuffle-heavy similarity stage — the
    projected column is what gets exchanged, not the raw vectors."""
    comps = _plane_components(16, 64, 11)
    # 16 x 64 = 1024 multiply-adds unrolled blow the 64 KB janino method
    # limit and silently drop the WHOLE stage to interpreted execution
    # (observed). The 0.0-seeded left fold over zip_with is the
    # IDENTICAL IEEE value as the unrolled sum (ascending element order,
    # 0.0+x == x), and the surrounding stage keeps codegen.
    terms = []
    for p in range(16):
        lits = ", ".join(f"CAST('{c!r}' AS DOUBLE)" for c in comps[p])
        terms.append(
            f"aggregate(zip_with(_v, array({lits}),"
            " (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
    arr = "array(" + ", ".join(terms) + ")"
    return (
        emb.withColumn("_v", F.expr("cast(embedding as array<double>)"))
        .withColumn("projected", F.expr(arr))
        .drop("_v")
    )


def jl_shortlist_recall(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Recall report for the project->shortlist->exact-rerank ANN
    pipeline: shortlist the top 32 corpus vectors per query
    by cosine in the 16-dim JL-projected space, then measure
    how many of the EXACT top-10 neighbors the shortlist contains.

    Because the exact top-10 are by definition the globally
    highest-exact-cosine rows, every truth row that reaches the
    shortlist survives an exact-cosine rerank to the final top-10 — so
    ``n_hit / 10`` IS the end-to-end recall@10 of the two-stage pipeline.

    Scale shape: projection is row-local; shortlisting is the same
    broadcast-queries / per-partition-top-k plan as
    :func:`brute_force_topk`, but every dot product downstream of the
    projection touches 16 components instead of 64 — the 100 TB win
    this entry quantifies the cost of."""
    proj_c = random_projection(emb)
    proj_q = random_projection(queries)
    q = proj_q.select(
        F.col("vec_id").alias("query_id"), F.col("projected").alias("qv")
    )
    c = spread(proj_c, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), F.col("projected").alias("cv")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("pcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("neighbor_id"))
    short = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 32
    )
    # truth is |queries| x 10 rows and the hit counts are |queries| rows —
    # broadcast both joins so the report never plans a sort-merge join
    truth = brute_force_topk(emb, queries).select("query_id", "neighbor_id")
    hits = short.join(F.broadcast(truth), ["query_id", "neighbor_id"], "inner")
    return (
        short.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_shortlist"))
        .join(
            F.broadcast(
                hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
            ),
            "query_id",
            "left",
        )
        .na.fill({"n_hit": 0})
        .select(
            "query_id",
            "n_shortlist",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(10.0), 6).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def mmr_select(emb: DataFrame) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR 1998): greedily pick 8 vectors maximizing
    ``0.7 * relevance - 0.3 * max_sim_to_already_selected`` — the
    diverse-exemplar pass a few-shot/eval-set builder runs after
    retrieval, trading pure relevance for coverage.

    Determinism discipline: the query vector is a plan-time
    md5-derived literal (``_plane_components`` seed 23); relevance
    and pairwise cosines are rounded to 6 dp BEFORE any
    comparison; the per-round score is one fixed-shape expression
    ``(rel * 0.7) - (maxsim * 0.3)`` over rounded inputs with an id
    tiebreak, so a SQL engine replays every pick exactly. (0.7/0.3 are
    both literals — ``1 - 0.7`` in driver code would be
    0.30000000000000004 and break the replay.)

    Scale shape: relevance is row-local against the literal query
    (zero joins), the pool is a bounded TakeOrderedAndProject top-64
    (per-partition heaps, no global sort), the pool's pairwise-cosine
    frame is 64² rows computed ONCE and localCheckpoint-ed, and each
    of the 8 rounds is one tiny aggregate+argmax job over it; driver
    state is 8 id/score rows. The pool could grow to 10^6 without any
    plan change — rounds scan the checkpointed pair frame only."""
    query_vec = _plane_components(1, 64, 23)[0]
    qlit = F.expr(
        "array(" + ", ".join(f"CAST('{c!r}' AS DOUBLE)" for c in query_vec) + ")"
    )
    rel_df = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("v"),
        F.round(cosine(qlit, F.col("embedding")), 6).alias("rel"),
    )
    pool_df = (
        rel_df.orderBy(F.desc("rel"), F.asc("vid")).limit(64).localCheckpoint()
    )
    a = pool_df.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), "rel"
    )
    b = pool_df.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"))
    pc = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("c"),
        )
        .localCheckpoint()
    )
    first = (
        pool_df.orderBy(F.desc("rel"), F.asc("vid")).limit(1).collect()[0]
    )
    picked = [
        (1, first["vid"], float(first["rel"]), 0.0, first["rel"] * 0.7 - 0.0 * 0.3)
    ]
    sel_ids = [first["vid"]]
    for step in range(2, 9):
        ms = (
            pc.filter(F.col("id_b").isin(sel_ids))
            .groupBy("id_a")
            .agg(F.max("c").alias("maxsim"))
        )
        win = (
            pool_df.filter(~F.col("vid").isin(sel_ids))
            .join(ms, F.col("vid") == F.col("id_a"))
            .select(
                "vid",
                "rel",
                "maxsim",
                ((F.col("rel") * F.lit(0.7)) - (F.col("maxsim") * F.lit(0.3))).alias(
                    "score"
                ),
            )
            .orderBy(F.desc("score"), F.asc("vid"))
            .limit(1)
            .collect()[0]
        )
        picked.append(
            (step, win["vid"], float(win["rel"]), float(win["maxsim"]), float(win["score"]))
        )
        sel_ids.append(win["vid"])
    spark = emb.sparkSession
    out = spark.createDataFrame(
        picked, "step INT, vec_id LONG, rel DOUBLE, maxsim DOUBLE, score DOUBLE"
    )
    for f in (pool_df, pc):
        f.unpersist()
    return out.orderBy("step")


def embedding_energy_profile(emb: DataFrame) -> DataFrame:
    """Prefix-energy profile of an embedding column — the measurement
    behind a Matryoshka-style truncation decision (Kusupati et al. 2022,
    "Matryoshka Representation Learning"): for each prefix length d in
    (4, 8, 16, 32, 64), the corpus-mean fraction of a vector's squared
    L2 norm carried by its first d coordinates. cos(full,
    renormalized-d-prefix) equals sqrt(prefix-energy), so a profile row
    ~0.99 at d=16 says a 4x cheaper 16-dim index loses ~0.5% cosine
    fidelity — decided from one scan, before building any index.

    Shape: one projection computes all prefix energies IN-ROW with
    ``aggregate`` over ``slice`` (each element cast to double BEFORE
    squaring, left-to-right fold — the exact arithmetic DuckDB's
    in-order ``list_sum(list_transform(...))`` replays); the per-row
    fraction is rounded and accumulated in DECIMAL(38,6), so the
    corpus mean is partition-order-free. One aggregate row out; no
    shuffle beyond the global agg's partial pair."""
    dims = (4, 8, 16, 32, 64)
    sq = lambda acc, x: acc + x.cast("double") * x.cast("double")  # noqa: E731
    full = F.aggregate(F.col("embedding"), F.lit(0.0), sq)
    row = emb.select(
        *[
            F.round(
                F.aggregate(F.slice(F.col("embedding"), 1, d), F.lit(0.0), sq)
                / full,
                6,
            )
            .cast("decimal(38,6)")
            .alias(f"e{d}")
            for d in dims
        ]
    )
    agg = row.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        *[F.sum(f"e{d}").alias(f"s{d}") for d in dims],
    )
    return agg.select(
        "n_vectors",
        *[
            F.round(F.col(f"s{d}").cast("double") / F.col("n_vectors"), 6).alias(
                f"energy_d{d}"
            )
            for d in dims
        ],
    )


def mrr_report(
    truth_top1: DataFrame,
    cand: DataFrame,
    method: str,
) -> DataFrame:
    """Mean reciprocal rank of the TRUE nearest neighbor inside an
    approximate candidate ranking — the retrieval-eval companion to
    :func:`recall_vs_truth` (recall@k says the neighbor is somewhere in
    the list; MRR says how close to the top, which is what a reranker's
    cost depends on). One row: method, query count, MRR, hit@1 rate,
    and the miss rate (true NN absent from the candidate list → rr 0).

    Inputs are bounded per-query frames (truth_top1: one row per query;
    cand: k rows per query with a ``rank`` column), so the join is
    |queries|-bounded regardless of corpus size. Reciprocal ranks are
    exact rationals of small integers rounded at 9dp and accumulated in
    DECIMAL — order-free, oracle-replayable."""
    t = truth_top1.select("query_id", F.col("neighbor_id").alias("tn"))
    j = t.join(
        F.broadcast(cand.select("query_id", "neighbor_id", "rank")),
        (t["query_id"] == cand["query_id"]) & (F.col("tn") == cand["neighbor_id"]),
        "left",
    ).select(t["query_id"], "rank")
    return (
        j.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.round(
                    F.coalesce(F.lit(1.0) / F.col("rank"), F.lit(0.0)), 9
                ).cast("decimal(38,9)")
            ).alias("srr"),
            F.sum((F.col("rank") == 1).cast("long")).alias("h1"),
            F.sum(F.col("rank").isNull().cast("long")).alias("miss"),
        )
        .select(
            F.lit(method).alias("method"),
            F.col("n_queries").cast("bigint").alias("n_queries"),
            F.round(
                F.col("srr").cast("double") / F.col("n_queries"), 6
            ).alias("mrr"),
            F.round(F.col("h1") / F.col("n_queries").cast("double"), 6).alias(
                "hit_at_1"
            ),
            F.round(F.col("miss") / F.col("n_queries").cast("double"), 6).alias(
                "miss_rate"
            ),
        )
    )


def embedding_isotropy(embeddings: DataFrame) -> DataFrame:
    """Isotropy health check for an embedding space: the ratio
    ‖μ‖² / E[‖x‖²] (share of total energy sitting in the common mean
    direction) plus the per-space norms — the first diagnostic for the
    "narrow cone" pathology (Ethayarajh 2019): anisotropic spaces make
    every cosine similarity high and break ANN pruning; the fix
    (mean-centering) is justified exactly when this ratio is large.

    Exactness: float32 coordinates are exact in double; per-dimension
    sums quantize each coordinate at 7dp into DECIMAL(38,7) (beyond
    float32 precision — lossless), squared norms quantize at 9dp; the
    d-term assembly of ‖μ‖² quantizes each (S_d/n)² at 12dp. One
    posexplode pass, one d-sized reduction, one scalar row."""
    x = embeddings.select(
        F.posexplode(F.col("embedding")).alias("d", "v")
    ).select(
        "d",
        F.round(F.col("v").cast("double"), 7).cast("decimal(38,7)").alias("v7"),
        F.round(
            F.col("v").cast("double") * F.col("v").cast("double"), 9
        ).cast("decimal(38,9)").alias("v2"),
    )
    per_dim = x.groupBy("d").agg(
        F.sum("v7").alias("sd"), F.sum("v2").alias("q")
    )
    nrow = embeddings.agg(F.count(F.lit(1)).alias("n"))
    terms = per_dim.crossJoin(F.broadcast(nrow)).select(
        F.round(
            (F.col("sd").cast("double") / F.col("n").cast("double"))
            * (F.col("sd").cast("double") / F.col("n").cast("double")),
            12,
        ).cast("decimal(38,12)").alias("mu2"),
        F.col("q"),
        F.col("n"),
    )
    agg = terms.groupBy("n").agg(
        F.count(F.lit(1)).alias("dim"),
        F.sum("mu2").alias("mean_sq"),
        F.sum("q").alias("qtot"),
    )
    mean_norm_sq = F.col("qtot").cast("double") / F.col("n").cast("double")
    mu_norm_sq = F.col("mean_sq").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n_vectors"),
        F.col("dim").cast("long").alias("dim"),
        F.round(mean_norm_sq, 6).alias("mean_norm_sq"),
        F.round(mu_norm_sq, 6).alias("mean_vector_norm_sq"),
        F.round(
            mu_norm_sq / F.nullif(mean_norm_sq, F.lit(0.0)), 6
        ).alias("isotropy_ratio"),
    )


def ndcg_ivf_report(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """NDCG@10 of the IVF path against exact brute force — the GRADED
    companion to recall@k (ann_recall_report): recall counts how many
    true neighbors the approximate path returns, NDCG@k also scores
    WHERE it puts them (Järvelin & Kekäläinen 2002). A path can hold
    recall while quietly shuffling the head of the ranking; this
    report catches that.

    Relevance of a returned neighbor is its graded truth position
    (11-rank in the exact top 10, 0 if absent); DCG discounts by
    log2(position+1); IDCG is assembled from the SAME truth rows, so
    ndcg = dcg/idcg is 1.0 exactly when the approximate head equals
    the exact head.

    Exactness: relevances and ranks are integers from the already
    oracle-replayable brute/IVF rankings; each DCG term is
    9 dp-quantized into DECIMAL(38,9) so the per-query sum is
    order-free; the ln-based log2 composition is written identically
    in the oracle. Scale shape: both inputs are 10-rows-per-query
    frames — everything after the two top-k operators is
    queries x 10 sized."""
    truth = brute_force_topk(emb, queries)
    cand = ivf_topk(emb, queries)
    rel = truth.select(
        "query_id",
        "neighbor_id",
        (F.lit(11) - F.col("rank")).alias("rel"),
    )

    def dcg_term(rel_col, rank_col):
        return F.round(
            rel_col.cast("double")
            / (F.log(rank_col.cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))),
            9,
        ).cast("decimal(38,9)")

    # both post-top-k frames are queries x k rows — broadcast the
    # lookup sides so no ranking result ever shuffles again
    scored = (
        cand.join(F.broadcast(rel), ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "rank",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        )
        .groupBy("query_id")
        .agg(
            F.sum(dcg_term(F.col("rel"), F.col("rank"))).alias("dcg"),
            F.sum((F.col("rel") > 0).cast("long")).alias("n_overlap"),
        )
    )
    ideal = truth.groupBy("query_id").agg(
        F.sum(
            dcg_term(F.lit(11) - F.col("rank"), F.col("rank"))
        ).alias("idcg")
    )
    return (
        scored.join(F.broadcast(ideal), "query_id")
        .select(
            "query_id",
            F.col("n_overlap").cast("long").alias("n_overlap"),
            (
                F.round(
                    F.col("dcg").cast("double")
                    / F.nullif(F.col("idcg").cast("double"), F.lit(0.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


def drift_split_report(emb: DataFrame) -> DataFrame:
    """Embedding-distribution drift between two deterministic halves of
    the corpus, read through a shared coarse quantizer — the monitoring
    primitive behind "did the embedding distribution of this week's
    crawl move?": train the deterministic 8-cell Lloyd quantizer on at
    most 512 rows of the REFERENCE half only (even ids — the stand-in
    for the baseline snapshot), assign BOTH halves, and compare per-cell
    occupancy shares. A drifted batch piles into different cells; the
    per-cell |share_ref - share_cur| column is the term of the total-
    variation distance (TV = half their sum).

    Exactness: the quantizer is the shared deterministic Lloyd loop
    (clustering.lloyd_centroids — lowest-id seeds and training rows,
    fixed iterations, 9 dp-rounded updates), so cells replay in the
    oracle; occupancy counts are integers; the share divisions are
    the only float ops. Scale shape: bounded training slice, one
    assignment scan, a cells-sized aggregate."""
    from .clustering import _assign, lloyd_centroids

    ref = emb.filter((F.col("vec_id") % 2) == 0)
    cents = lloyd_centroids(ref.orderBy("vec_id").limit(512), k=8)
    assigned = _assign(emb, cents).select(
        ((F.col("vec_id") % 2) == 0).cast("int").alias("a"),
        F.col("cluster").alias("cell"),
    )
    counts = assigned.groupBy("cell").agg(
        F.sum("a").alias("n_ref"),
        F.sum(F.lit(1) - F.col("a")).alias("n_cur"),
    )
    tots = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p_ref = F.col("n_ref").cast("double") / F.nullif(
        F.col("tr").cast("double"), F.lit(0.0)
    )
    p_cur = F.col("n_cur").cast("double") / F.nullif(
        F.col("tc").cast("double"), F.lit(0.0)
    )
    return (
        counts.crossJoin(F.broadcast(tots))
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            (F.round(p_ref, 6) + F.lit(0.0)).alias("share_ref"),
            (F.round(p_cur, 6) + F.lit(0.0)).alias("share_cur"),
            (F.round(F.abs(p_ref - p_cur), 6) + F.lit(0.0)).alias(
                "abs_shift"
            ),
        )
        .orderBy("cell")
    )
