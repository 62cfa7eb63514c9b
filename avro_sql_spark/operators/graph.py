"""Iterative graph analytics on DataFrames (SURVEY.md §2.2 'complex
analytical shapes' — the fixed-iteration link-analysis pattern every
recommender/authority pipeline runs over co-occurrence graphs).

The reference has no graph surface; this is the Spark-first shape for
one: the graph lives as an EDGE DataFrame, each iteration is one
equi-join (contributions) + one aggregation (new ranks), both
hash-partitioned on the node key so the shuffle is edge-linear and the
rank state is node-linear. No adjacency materialization, no driver
collect — the driver only holds the scalar node count. Lineage is
truncated with localCheckpoint every few rounds (same hygiene as
dedup.near_dup_clusters) so long runs don't grow an unbounded plan.

Determinism: fixed iteration count + pure arithmetic → the result is a
closed-form expression of the edge list, so a SQL oracle can replay the
same unrolled iterations and match value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pins import RoundPins


def _undirected(edges: DataFrame) -> DataFrame:
    """The canonical undirected edge set (a, b), a < b, of a (src, dst)
    edge list: both orientations folded by least/greatest, self-loops
    dropped, duplicates removed. Unpinned — each caller chooses its own
    pin."""
    a, b = F.col("src"), F.col("dst")
    return (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(und: DataFrame) -> DataFrame:
    """(n, d): every endpoint of a canonical edge set with its degree —
    one map-side-combined groupBy over both endpoint columns."""
    return (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _closed_wedges(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the canonical edge set ``und`` EXACTLY once, as
    the oriented closed wedge (u, v1, v2) — compact-forward /
    node-iterator++. Every edge is oriented from the lower-(degree, id)
    endpoint to the higher; a triangle is then the wedge
    (u -> v1, u -> v2) with rank(v1) < rank(v2) closed by the oriented
    edge (v1 -> v2). The degree orientation bounds every node's
    out-degree by O(sqrt(m)), so the wedge self-join is m^1.5-bounded —
    the standard distributed-triangle bound — instead of sum(deg^2) on
    hub nodes, which is what makes a naive neighbor self-join die on
    celebrity vertices at scale. ``deg`` is :func:`_degrees` of ``und``."""

    def lower_first(da, a, db, b):  # (degree, id) rank order
        return (F.col(da) < F.col(db)) | (
            (F.col(da) == F.col(db)) & (F.col(a) < F.col(b))
        )

    ranked = und.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("dega")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("degb")), "b")
    ab = lower_first("dega", "a", "degb", "b")
    oriented = ranked.select(
        F.when(ab, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(ab, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(ab, F.col("degb")).otherwise(F.col("dega")).alias("dv"),
    ).localCheckpoint(eager=False)
    x = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    y = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = x.join(y, "u").filter(lower_first("d1", "v1", "d2", "v2"))
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    redistribute_dangling: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed (src, dst) edge list.
    Returns one row per node: (node, pr).

    Semantics (classic Brin-Page with dangling redistribution):
    ``pr' = (1-d)/N + d * (sum_in(pr_src / outdeg_src) + dangling/N)``
    where ``dangling`` is the total rank mass sitting on nodes with no
    out-edges. For a symmetric edge list (undirected graphs) dangling
    is always 0.

    Scale shape per iteration: ONE edges-to-ranks equi-join on src (both
    sides hash-partition on the node key — at scale both sides are too
    big to broadcast, so the node-keyed shuffle join IS the intended
    plan) feeding ONE groupBy(dst) sum with map-side partials; state is
    node-linear, traffic edge-linear. The node count and the dangling
    mass are scalar aggregates (broadcast back, rows bounded by 1).
    Skewed in-degree (a celebrity node) is absorbed by the partial
    aggregation, not a single reducer. With dangling redistribution
    each iteration's ranks have TWO consumers (contribs and dangling),
    so they are EAGERLY localCheckpoint-ed: without lineage truncation
    the plan doubles per iteration and an N-iteration run compiles an
    exponentially deep DAG — the classic iterative-DataFrame failure.
    ``redistribute_dangling=False`` skips the per-iteration anti-join +
    scalar aggregate when the caller guarantees every node has an
    out-edge (symmetric edge lists); each round then has a SINGLE
    consumer of the previous ranks, the plan deepens linearly, and every
    checkpoint is deferred to the final action — one job instead of one
    per round."""
    eager = redistribute_dangling
    # lazy: the eager nodes checkpoint right below consumes e, so the
    # edge frame materializes once inside that job instead of paying
    # its own synchronous construction job first
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()  # scalar driver value — the only collect
    if n == 0:
        from ..errors import AvroSqlError

        raise AvroSqlError("pagerank: empty edge list")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od")).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    rounds = RoundPins()
    for i in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select("dst", (F.col("pr") / F.col("od")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        if redistribute_dangling:
            # rank mass on dangling nodes (no out-edges) is redistributed
            # uniformly; 1-row aggregate, broadcast via crossJoin
            dangling = (
                ranks.join(
                    outdeg.select(F.col("src").alias("node")), "node", "left_anti"
                ).agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm"))
            )
            dangling_term = F.col("dm") / n
        else:
            dangling = None
            dangling_term = F.lit(0.0)
        ranks = nodes.join(contribs.withColumnRenamed("dst", "node"), "node", "left")
        if dangling is not None:
            ranks = ranks.crossJoin(F.broadcast(dangling))
        ranks = ranks.select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dangling_term)
            ).alias("pr"),
        )
        if (i + 1) < iterations:
            ranks = rounds.pin(ranks, eager=eager)
            if eager:
                rounds.materialized()
    if round_to is not None:
        ranks = ranks.select("node", F.round("pr", round_to).alias("pr"))
    return ranks


def connected_components_star(
    edges: DataFrame,
    max_rounds: int = 10,
) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014). Returns one row per node: (id, cluster_id) where
    cluster_id is the smallest node id in the component — the same
    contract as dedup.connected_components, which converges in
    O(diameter) label-propagation rounds; this one converges in
    O(log n) rounds REGARDLESS of diameter, the difference between 6
    and 600 shuffles on a 100 TB web-graph-shaped component (long
    chains of re-crawls / boilerplate families).

    Round shape: large-star connects every neighbor v > u to
    min(N(u) ∪ {u}); small-star connects every neighbor v <= u (edges
    kept canonically small->large, so grouping by the LARGE endpoint is
    the small-star neighborhood) to that minimum. Each half-round is
    ONE groupBy(node) min + ONE node-keyed equi-join back to the edge
    frame — edge-linear traffic, hash-partitioned on the node key, the
    hub-node fan-in absorbed by map-side partial min. The edge frame is
    localCheckpoint-ed per round (lineage hygiene identical to
    :func:`pagerank`); the fixed point is the star forest rooted at
    component minima, so labels fall out of the final edge list with no
    extra pass. Deterministic (min is order-free) -> the same
    WITH RECURSIVE reachability oracle as dedup.connected_components.
    """
    # lazy: the edge count below materializes it in one job. It stays
    # pinned for the operator's lifetime: nodes' lazy checkpoint reads
    # its blocks at the FINAL label join
    e = _undirected(edges).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .distinct()
        # lazy: only the FINAL label join consumes it — reading the
        # pinned edge blocks, not the upstream edge derivation
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()
    rounds = RoundPins()
    for _ in range(max_rounds):
        # large-star: group the symmetrized neighborhood of u; attach
        # m = min(N(u) ∪ {u}); emit (m, v) for every neighbor v > u.
        # m <= u < v keeps the output canonical with no re-orient pass.
        d = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        lmins = (
            d.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
        )
        large = (
            d.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            # no distinct here: small's trailing distinct canonicalizes
            # the round's output, and both consumers below (min-agg,
            # join) are multiplicity-insensitive — dropping the
            # intermediate dedup removes one full exchange per round
            # with a bit-identical round result
        )
        # small-star: edges are (a < b), so grouping by b IS the
        # smaller-neighbor star; attach m = min neighbor; emit (m, v)
        # for every smaller neighbor plus (m, b) for the center.
        smins = large.groupBy("b").agg(F.min("a").alias("m"))
        small = rounds.pin(
            large.join(smins, "b")
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionAll(smins.select(F.col("m").alias("a"), F.col("b").alias("b")))
            .distinct()
            # lazy: the convergence count right below fills the pin
            # (jobs per round: _pins module docstring)
        )
        new_n = small.count()
        # both frames are DISTINCT sets; with equal counts, set
        # equality == emptiness of one anti-join (no need for
        # exceptAll's two-sided multiset sort)
        changed = (
            new_n != n_edges
            or small.join(e, ["a", "b"], "left_anti").limit(1).count() > 0
        )
        rounds.materialized()
        e = small
        n_edges = new_n
        if not changed:
            break
    else:
        from ..errors import AvroSqlError

        raise AvroSqlError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds; raise max_rounds"
        )
    # fixed point: every edge is (component_min, member); roots are the
    # nodes that never appear as the larger endpoint
    return (
        nodes.join(
            e.select(F.col("b").alias("id"), F.col("a").alias("root")), "id", "left"
        )
        .select("id", F.coalesce(F.col("root"), F.col("id")).alias("cluster_id"))
        .orderBy("id")
    )


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list, made DETERMINISTIC: labels start as node ids,
    each round every node adopts the most frequent label among its
    neighbors with ties broken (count DESC, label ASC), and the round
    count is FIXED — community detection as a closed-form expression of
    the edge list, so a SQL oracle unrolls the same rounds and matches.
    (Classic async LPA is run-order-dependent; the synchronous + fixed
    tie-break variant trades a little convergence speed for exact
    reproducibility — the same determinism contract as pagerank.)

    Returns (id, community) — community = the node's label after
    ``rounds`` rounds.

    Scale shape per round: ONE node-keyed equi-join (attach neighbor
    labels) + ONE (node, label) count aggregate with map-side partials
    + ONE per-node argmax (window over the node key — partitions are
    node-sized, never global); labels localCheckpoint per round, the
    same lineage hygiene as every iterative operator here."""
    # lazy: materialized by the first round's job; the sym union's two
    # branches then read the same frozen blocks
    e = _undirected(edges).localCheckpoint(eager=False)
    return _propagate(e, rounds).orderBy("id")


def _propagate(e: DataFrame, rounds: int) -> DataFrame:
    """The label-propagation rounds over a canonical, pinned edge set
    ``e`` (a, b): (id, community), unordered, last round unpinned."""
    from pyspark.sql.window import Window

    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("community"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("community"))
    for r in range(rounds):
        votes = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "community")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("id", "community")
        )
        if (r + 1) < rounds:
            # lazy: each round's labels frame has one consumer (the
            # next round's join) — the checkpoint only bounds plan
            # growth, it need not be a synchronous job
            labels = labels.localCheckpoint(eager=False)
    return labels


def copurchase_edges(
    lineitem: DataFrame, min_count: int = 2
) -> DataFrame:
    """Symmetric co-purchase edge list: (src part, dst part) for every
    unordered part pair co-occurring in >= min_count orders, emitted in
    both directions.

    Scale shape: NO self-join — the same in-row basket-pair generation
    as relational.copurchase_pairs (baskets schema-bounded at <= 7
    items, C(7,2) <= 21 pairs per order), so the pair frame is linear
    in the fact table; min_count prunes the long tail before the
    symmetric union doubles it."""
    from ._scan import spread_groupby_scan

    # compacted-input guard: the collect_set PARTIAL otherwise runs
    # single-core in a one-split scan stage (guide §2.5); the spread
    # reuses the groupBy's own exchange, so shuffle count is unchanged
    src = spread_groupby_scan(
        lineitem.select("l_orderkey", "l_partkey"), "l_orderkey"
    )
    baskets = src.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    m = F.size("ps")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda i: F.transform(
                F.sequence(i + 1, m),
                lambda j: F.struct(
                    F.element_at("ps", i).alias("pa"),
                    F.element_at("ps", j).alias("pb"),
                ),
            ),
        )
    )
    pairs = (
        baskets.filter(m >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("pa", "pb")
    )
    # symmetrize in ONE pass: each undirected pair row emits both
    # directions through an exploded 2-element array (the
    # connected_components device) — the former two-branch union
    # re-ran the post-exchange aggregate+filter tail per direction in
    # every consumer that doesn't cache the edge frame
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
                F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def triangle_count(edges: DataFrame, round_to: int = 6) -> DataFrame:
    """One-row triangle census of an undirected graph: (n_nodes,
    n_edges, n_wedges, n_triangles, clustering), where ``clustering``
    is the global coefficient 3 * triangles / wedges.

    Triangles come from :func:`_closed_wedges` (compact-forward: each
    triangle counted EXACTLY once, m^1.5-bounded wedge join).

    Scale shape: degrees are one map-side-combined groupBy; orientation
    attaches two degree columns via node-keyed equi-joins; the wedge and
    closing joins are equi-joins on node keys feeding pure COUNT
    aggregates. Everything is integer arithmetic except the final
    rounded ratio, so the DuckDB oracle matches exactly."""
    # consumed by degrees, orientation, and the edge count;
    # localCheckpoint (same hygiene as pagerank/connected_components)
    # materializes once and truncates the upstream edge-build lineage
    # so the three consumers' plans stay shallow — LAZY, so the
    # materialization folds into the terminal job instead of a
    # synchronous construction barrier
    und = _undirected(edges).localCheckpoint(eager=False)
    deg = _degrees(und)
    tri = _closed_wedges(und, deg).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    return (
        nodes.crossJoin(counts)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), round_to
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list: each
    round drops every vertex whose degree in the SURVIVING subgraph is
    below ``k``, then discards edges touching dropped vertices. After
    enough rounds the survivors are exactly the classic k-core; a FIXED
    ``rounds`` keeps the result a closed-form function of the input
    (the same determinism contract as pagerank/label_propagation), so a
    SQL oracle unrolls the identical rounds. Returns one row per round:
    (round, n_nodes, n_edges) of the surviving subgraph — the
    densification audit run before committing to an expensive
    graph-global algorithm on a 100 TB co-occurrence graph.

    Scale shape per round: ONE degree aggregate (map-side combined) +
    TWO node-keyed semi-joins pruning the edge list; the edge frame
    localCheckpoints per round (lazily) so lineage stays flat while ALL
    per-round stats fold into one terminal job — the former
    distinct().count() + count() driver round-trips per round (3 jobs x
    rounds) are now one union of per-round single-row aggregates over
    the checkpointed edge frames (n_edges = endpoint rows div 2,
    n_nodes = distinct endpoints — same integers, zero extra passes)."""
    if rounds < 1:
        # the unioned-aggregates accumulator below starts from None; a
        # zero-round call would return None.orderBy (AttributeError)
        # where the old createDataFrame path returned an empty frame
        # with the documented schema — keep that contract
        spark = edges.sparkSession
        return spark.createDataFrame(
            [], "round int, n_nodes bigint, n_edges bigint"
        )
    e = _undirected(edges).localCheckpoint(eager=False)
    out = None
    for r in range(1, rounds + 1):
        alive = _degrees(e).filter(F.col("d") >= k).select(F.col("n").alias("id"))
        e = (
            e.join(alive.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(alive.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        stats = (
            e.select(F.col("a").alias("id"))
            .unionAll(e.select(F.col("b").alias("id")))
            .agg(
                F.count_distinct(F.col("id")).alias("n_nodes"),
                (F.count(F.lit(1)) / F.lit(2)).cast("bigint").alias("n_edges"),
            )
            .select(F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        out = stats if out is None else out.unionAll(stats)
    return out.orderBy("round")


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Multi-source BFS: hop distance from the nearest seed, bounded at
    ``max_hops`` rounds (nodes further away are absent). Textbook
    FRONTIER expansion as DataFrame ops: each round joins only the
    NODES REACHED LAST ROUND against the edge list (not the whole
    reached set — the difference between edge-linear-per-frontier and
    cumulative re-expansion), dedupes against the reached set with one
    anti-join, and stops as soon as a round reaches nothing new (a
    no-op round; the result is identical to running all ``max_hops``,
    so the fixed-hop recursive-CTE oracle still matches exactly).

    ``edges`` (src, dst) must already contain both directions for an
    undirected graph (copurchase_edges does). ``seeds`` must be UNIQUE
    on ``node`` (a stated precondition: duplicate seed rows would
    yield duplicate dist=0 output rows; every in-repo caller passes a
    distinct or limit-1 seed frame). Frames localCheckpoint per round
    LAZILY through :class:`RoundPins`, and the frontier-emptiness count
    is the round's one action. It is not one job: each lazy pin runs
    its shuffle-map stages as jobs when taken, and the count runs two
    more (partial aggregate, final). On copurchase_bfs (sf0.001,
    local[4], warm) the rounds cost 4, 5 and 6 jobs, and building the
    entry 19: 3 for the edges, 1 for the seeds, then the rounds."""
    rounds = RoundPins()
    dist = rounds.pin(seeds.select("node", F.lit(0).cast("int").alias("dist")))
    frontier = dist
    for r in range(max_hops):
        cand = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = rounds.pin(
            cand.join(dist, "node", "left_anti").select(
                "node", F.lit(r + 1).cast("int").alias("dist")
            )
        )
        grew = new.count() > 0
        rounds.materialized()
        if not grew:
            break
        dist = rounds.pin(dist.unionByName(new))
        frontier = new
    return dist.orderBy("node")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    round_to: int | None = None,
) -> DataFrame:
    """Personalized PageRank (Haveliwala 2002): identical iteration to
    :func:`pagerank` except the restart mass returns to the SEED set
    instead of the uniform vector — ``pr' = (1-d)*tele + d*sum_in``
    with ``tele = 1/|S|`` on seeds and 0 elsewhere. The relevance-from-
    here scoring a recommender runs around an anchor item, and the same
    edge-linear shuffle shape per round.

    Expects a symmetric (undirected) edge list, where dangling mass is
    structurally zero — the precondition :func:`copurchase_edges`
    guarantees; directed graphs need the dangling redistribution the
    uniform variant implements."""
    # lazy: the seed count below (and then the first round's join)
    # materializes the pinned edge frame once; eager pins here were
    # three synchronous construction jobs serializing with each other
    e = edges.select("src", "dst").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ns = seeds.count()
    if ns == 0:
        from ..errors import AvroSqlError

        raise AvroSqlError("personalized_pagerank: empty seed set")
    tele = (
        nodes.join(
            seeds.select(F.col("node"), F.lit(True).alias("_s")), "node", "left"
        )
        .select(
            "node",
            F.when(F.col("_s"), F.lit(1.0 / ns)).otherwise(F.lit(0.0)).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    outdeg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
        .localCheckpoint(eager=False)
    )
    ranks = tele.select("node", F.col("t").alias("pr"))
    for i in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select("dst", (F.col("pr") / F.col("od")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            tele.join(contribs.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        )
        if (i + 1) < iterations:
            # lazy: each round's ranks has a SINGLE consumer (next
            # round's contribs join — tele/e/outdeg are checkpointed
            # separately), so the plan deepens linearly and all round
            # materializations fold into the one final action instead
            # of one construction job per round (pagerank's
            # no-dangling-pass rationale)
            ranks = ranks.localCheckpoint(eager=False)
    if round_to is not None:
        ranks = ranks.select("node", F.round("pr", round_to).alias("pr"))
    return ranks


def scc_labels(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by transitive
    closure with path doubling: ``reach`` starts as the edge list and
    each round joins it with itself (paths of length ≤ 2^round), so
    ``rounds`` = ceil(log2(longest shortest path)) suffices — 4 rounds
    cover paths of length 16. Two nodes share a component iff each
    reaches the other; the component label is the smallest mutually
    reachable node (every node trivially reaches itself).

    This closure materializes O(n_reachable_pairs) rows, so it is the
    right SCC only for BOUNDED label graphs — event-type transition
    graphs, state machines, category taxonomies (tens-to-thousands of
    nodes distilled from billions of rows; the distillation is the
    scalable part). For billion-NODE graphs use forward-backward
    reachability colouring instead; for the undirected case this repo
    ships :func:`connected_components_star`, which never builds a
    closure. Each doubling round is one self-equi-join + distinct
    (localCheckpoint keeps the plan shallow), and the fixed round count
    makes the result a closed-form function of the edge list that a
    bounded recursive CTE replays exactly.

    A too-small ``rounds`` fails LOUDLY: each round's row count is
    compared to the previous (checkpointed frames make the count free),
    the loop exits early on convergence, and if the final round still
    added rows one extra verification hop runs — growth there raises
    ``ValueError`` instead of silently under-merging components (the
    failure mode of any fixed-round closure on a graph whose
    reachability diameter exceeds 2**rounds)."""

    def _hop(r: DataFrame) -> DataFrame:
        # the closure frame is bounded by the label-graph's reachable
        # pairs (the precondition of this operator) and a checkpointed
        # frame has no stats for AQE to size — broadcast explicitly so
        # the doubling join never degrades to a sort-merge join
        return (
            r.alias("a")
            .join(F.broadcast(r.alias("b")), F.col("a.d") == F.col("b.s"))
            .select(F.col("a.s").alias("s"), F.col("b.d").alias("d"))
        )

    # lazy pins: the convergence count after each one fills it (jobs
    # per round: _pins module docstring)
    pins = RoundPins()
    reach = pins.pin(
        edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    prev = reach.count()
    pins.materialized()
    converged = False
    for _ in range(rounds):
        reach = pins.pin(reach.unionByName(_hop(reach)).distinct())
        cnt = reach.count()
        pins.materialized()
        if cnt == prev:
            converged = True
            break
        prev = cnt
    if not converged:
        grown = reach.unionByName(_hop(reach)).distinct().count()
        if grown != prev:
            raise ValueError(
                f"scc_labels: transitive closure still growing after "
                f"{rounds} doubling rounds ({prev} -> {grown} pairs); "
                f"the graph's reachability diameter exceeds 2**{rounds} "
                f"— raise `rounds`"
            )
    nodes = (
        reach.select(F.col("s").alias("node"))
        .unionByName(reach.select(F.col("d").alias("node")))
        .distinct()
    )
    mutual = (
        reach.alias("f")
        .join(
            F.broadcast(reach.alias("r")),
            (F.col("f.s") == F.col("r.d")) & (F.col("f.d") == F.col("r.s")),
        )
        .select(F.col("f.s").alias("node"), F.col("f.d").alias("peer"))
    )
    labels = (
        nodes.select("node", F.col("node").alias("peer"))
        .unionByName(mutual)
        .groupBy("node")
        .agg(F.min("peer").alias("scc_id"))
    )
    sizes = labels.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return (
        labels.join(F.broadcast(sizes), "scc_id")
        .select("node", "scc_id", "scc_size")
        .orderBy("node")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over all edges — positive when
    hubs link to hubs (social nets), negative when hubs link to leaves
    (tech/biology nets). One number that tells you whether hub-salting
    or leaf-pruning is the right skew strategy for this graph.

    Expects a symmetric edge list (copurchase_edges' contract; each
    undirected edge counted in both directions, the standard convention
    — the coefficient is invariant to it). Scale shape: one groupBy for
    degrees, two skinny joins to attach endpoint degrees to edges, one
    aggregate of five integer sums (Σx, Σy, Σxy, Σx², Σy² over exact
    bigint degrees); the coefficient is closed-form double arithmetic
    on those scalars, identical in any engine, rounded at 6dp. The edge
    frame has THREE consumers (degrees + both endpoint joins), so it is
    cached (caller-owns-unpersist, the dedup-module convention) —
    uncached, an expensive upstream edge builder runs three times."""
    edges = edges.cache()
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("dx")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("dy")), "b")
    )
    s = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = sxy - sx * sy / m
    den = F.sqrt((sxx - sx * sx / m) * (syy - sy * sy / m))
    return s.select(
        F.col("m").alias("n_edges"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


def markov_stationary(transitions: DataFrame, iterations: int = 8) -> DataFrame:
    """Stationary distribution of a Markov chain (``transitions`` is a
    (src, dst, p) frame) by fixed-iteration
    power method: π ← πP from uniform, ``iterations`` times — where the
    event-type process spends its time in steady state, the number that
    turns a transition matrix (event_transitions) into capacity shares.

    Each round is one equi-join of the state vector with the transition
    frame + one groupBy sum — both bounded by the state universe (the
    precondition: this is for LABEL chains distilled from big streams,
    like scc_labels). Fixed rounds + exact-division probabilities make
    the result a closed-form expression the oracle unrolls; per-node
    sums are ≤states float terms per round, sub-ulp drift absorbed by
    the 6dp round.

    Precondition (checked, raises ``ValueError``): every ``dst`` state
    must also appear as a ``src`` — a dst-only (absorbing/dangling)
    state would RECEIVE mass one round and silently drop it the next
    (its row has no outgoing match), so the returned π would neither
    sum to 1 nor be stationary. Chains with absorbing states need a
    dangling-mass redistribution like personalized_pagerank's, which is
    a different operator contract."""
    # checkpoint the (bounded) transition frame LAZILY: 8 unrolled
    # rounds each consume it, and an uncheckpointed upstream (lag
    # window + two aggregates) would re-derive per round — a
    # 50-exchange plan for a 25-row matrix; the precondition probe
    # below materializes it. The state vector is states-bounded:
    # broadcast it.
    t = transitions.select(
        F.col("src").alias("s"), F.col("dst").alias("d"), "p"
    ).localCheckpoint(eager=False)
    # ONE endpoint pass yields both the state count and the dangling
    # probe (formerly a distinct count + an anti-join count — two more
    # driver jobs over the same bounded frame)
    ends = t.select(F.col("s").alias("node"), F.lit(1).alias("is_src")).unionAll(
        t.select(F.col("d").alias("node"), F.lit(0).alias("is_src"))
    )
    probe = (
        ends.groupBy("node")
        .agg(F.max("is_src").alias("has_out"))
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum(F.lit(1) - F.col("has_out")).alias("n_dangling"),
        )
        .collect()[0]
    )
    dangling = int(probe["n_dangling"] or 0)
    if dangling:
        raise ValueError(
            f"markov_stationary: {dangling} state(s) appear only as dst "
            "(no outgoing transitions) — their probability mass would "
            "silently drain each iteration; add self-loops or use a "
            "dangling-mass redistribution (personalized_pagerank)"
        )
    nodes = t.select(F.col("s").alias("node")).distinct()
    n = int(probe["n_all"])
    pi = nodes.select("node", F.lit(1.0 / n).alias("pi"))
    for _ in range(iterations):
        pi = (
            t.join(F.broadcast(pi.withColumnRenamed("node", "s")), "s")
            .select("d", (F.col("pi") * F.col("p")).alias("m"))
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("m").alias("pi"))
        )
    return pi.select("node", F.round("pi", 6).alias("pi")).orderBy("node")


def link_prediction_topk(edges: DataFrame, top_k: int = 50) -> DataFrame:
    """Link-prediction candidate scores for an undirected graph
    (symmetric edge list, copurchase_edges' contract): for every
    NON-adjacent node pair sharing >= 1 neighbor, the common-neighbor
    count and the Adamic–Adar index Σ_z 1/ln(deg(z)) (Adamic & Adar
    2003) — the classic "products bought together next quarter" /
    recommendation-candidate generator. Top-k by (adamic_adar desc, a,
    b).

    Shape: candidate pairs come from one self-equi-join of the edge
    list ON THE SHARED NEIGHBOR (wedges z: a–z–b, a < b) — never an
    all-pairs product; the degree frame joins broadcast; existing edges
    leave via left_anti. Each wedge's 1/ln(deg z) term is rounded and
    accumulated in DECIMAL(38,6), so the per-pair sum is order-free and
    a SQL engine replays it exactly (deg(z) >= 2 for any common
    neighbor, so ln never hits 0). The hub-wedge blowup (Σ deg²) is the
    same bound triangle_count documents; cap hub degrees upstream for
    celebrity-vertex graphs."""
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    deg = e.groupBy(F.col("s").alias("z")).agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        e.select(F.col("d").alias("z"), F.col("s").alias("a"))
        .join(e.select(F.col("s").alias("z"), F.col("d").alias("b")), "z")
        .filter(F.col("a") < F.col("b"))
    )
    scored = (
        wedges.join(F.broadcast(deg), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 9).cast(
                    "decimal(38,9)"
                )
            ).alias("aa_dec"),
        )
    )
    candidates = scored.join(
        e.select(F.col("s").alias("a"), F.col("d").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        candidates.select(
            "a",
            "b",
            "common_neighbors",
            F.round(F.col("aa_dec").cast("double"), 6).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), F.asc("a"), F.asc("b"))
        .limit(top_k)
    )


def local_clustering_curve(edges: DataFrame) -> DataFrame:
    """Degree vs average LOCAL clustering coefficient — the
    curve that separates a clustered network (flat or slowly-decaying
    cc) from a hub-and-spoke one (cc ~ 1/d): for each node, cc(n) =
    2·t(n) / (d(n)·(d(n)−1)) with t(n) the triangles through n, then
    the average of cc over all nodes of each degree.

    Per-node triangle counts reuse ``triangle_count``'s
    :func:`_closed_wedges` (each triangle materializes EXACTLY once,
    out-degrees bounded by O(sqrt m)), then one explode credits the
    triangle to its three corners — the m^1.5 wedge bound survives, no
    per-node neighborhood self-join exists.
    Exactness: t and d are integers; each node's cc rounds at 6dp into
    DECIMAL(38,6) so the per-degree average is an order-free decimal
    sum with one final division. The oracle counts the same triangles
    from the closed a<b<c triple join — algorithm-free semantics."""
    und = _undirected(edges).localCheckpoint(eager=True)
    deg = _degrees(und)
    tri = _closed_wedges(und, deg)
    per_node_t = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    cc = (
        deg.join(per_node_t, "n", "left")
        .select(
            "d",
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0)).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
                6,
            )
            .cast("decimal(38,6)")
            .alias("cc"),
        )
        .filter(F.col("d") >= 2)
    )
    return (
        cc.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_nodes"), F.sum("cc").alias("s"))
        .select(
            F.col("d").cast("long").alias("degree"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.round(
                F.col("s").cast("double") / F.col("n_nodes").cast("double"), 6
            ).alias("avg_clustering"),
        )
        .orderBy("degree")
    )


def hits_supplier_authority(
    orders: DataFrame,
    lineitem: DataFrame,
    rounds: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """HITS (Kleinberg 1999) on the bipartite customer→supplier
    purchase graph: a supplier is a good AUTHORITY when good HUB
    customers (those who buy broadly from good suppliers) buy from it
    — the mutually-recursive ranking that separates "many sales" from
    "sales to discerning buyers". Top-k suppliers by authority after
    ``rounds`` mutual-reinforcement rounds, max-normalized.

    Exactness: the iteration runs UNNORMALIZED in pure integer
    arithmetic — h₀ = 1, a_{r+1}(s) = Σ_c w(c,s)·h_r(c), h_{r+1}(c) =
    Σ_s w(c,s)·a_{r+1}(s), all accumulated in DECIMAL(38,0) (ranking
    is scale-invariant, so skipping per-round normalization changes
    nothing but magnitude; with rounds=3 the worst-case magnitude is
    (Σw)³ ≪ 10³⁸). The ONLY float op is the final max-normalization
    division. Scale shape: the weight frame aggregates once; each
    round is one node-keyed equi-join + one map-side-combined
    aggregate — no per-round collect, no normalization barrier."""
    w = (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("w"))
        # lazy: the first half-round's aggregate materializes it; the
        # remaining rounds read the frozen blocks
        .localCheckpoint(eager=False)
    )
    # asymmetric join strategy: the authority frame is SUPPLIER-sized
    # (dimension-small at any SF) -> broadcast it into the hub step, so
    # that half-round costs ONE aggregate exchange; the hub frame is
    # CUSTOMER-sized (fact-side big) -> the auth step's equi-join on c
    # shuffles, which IS the scale plan for a big-side score frame
    auth = None
    hub = None
    for r in range(rounds):
        if hub is None:
            auth = w.groupBy("s").agg(F.sum("w").alias("a"))
        else:
            auth = (
                w.join(hub, "c")
                .groupBy("s")
                .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
            )
        if r + 1 == rounds:
            break  # the trailing hub frame would go unused
        hub = (
            w.join(F.broadcast(auth), "s")
            .groupBy("c")
            .agg(F.sum(F.col("w") * F.col("a")).alias("h"))
        )
    # auth forks into the max branch and the output branch — pin one
    # materialization so the 3-round chain doesn't execute twice
    # (lazy: the terminal action's first consumer materializes it)
    auth = auth.localCheckpoint(eager=False)
    mx = auth.agg(F.max("a").alias("mx"))
    return (
        auth.crossJoin(F.broadcast(mx))
        .select(
            F.col("s").cast("long").alias("supplier"),
            F.round(
                F.col("a").cast("double") / F.col("mx").cast("double"), 6
            ).alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("supplier"))
        .limit(top_k)
    )


def basket_affinity_lift(
    lineitem: DataFrame,
    min_pair_orders: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Market-basket association rules over co-purchased part pairs:
    support, confidence, and LIFT (observed co-occurrence over the
    independence expectation) — the "customers who bought A also
    bought B" table, reported for the top-k pairs by lift. Lift > 1
    is real affinity; confidence alone just rediscovers popular items.

    Shape: the pair frame is the IN-ROW basket-pair device (baskets
    schema-bounded, no self-join); per-part basket counts are one
    aggregate; the per-pair row joins two part counts and the 1-row
    basket total. Exactness: all counts integers; lift = (c_ab·N) /
    (c_a·c_b) and confidence = c_ab/c_a are single divisions, rounded
    at 6dp BEFORE ranking (rank-stable across engines), pair id as
    tiebreak."""
    d = lineitem.select("l_orderkey", "l_partkey").distinct()
    baskets = d.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    m = F.size("ps")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), m - 1),
            lambda i: F.transform(
                F.sequence(i + 1, m),
                lambda j: F.struct(
                    F.element_at("ps", i).alias("pa"),
                    F.element_at("ps", j).alias("pb"),
                ),
            ),
        )
    )
    pairs = (
        baskets.filter(m >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= min_pair_orders)
    )
    per_part = d.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ck")
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    scored = (
        pairs.join(
            F.broadcast(per_part.select(F.col("k").alias("pa"),
                                        F.col("ck").alias("ca"))), "pa"
        )
        .join(
            F.broadcast(per_part.select(F.col("k").alias("pb"),
                                        F.col("ck").alias("cb"))), "pb"
        )
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            F.col("cab").cast("long").alias("pair_orders"),
            F.round(
                F.col("cab").cast("double") / F.col("ca").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (dec(F.col("cab")) * dec(F.col("n"))).cast("double")
                / (dec(F.col("ca")) * dec(F.col("cb"))).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("pa"), F.asc("pb")
    ).limit(top_k)


def degree_powerlaw_fit(edges: DataFrame, d_min: int = 2) -> DataFrame:
    """Hill/Clauset MLE for the degree-distribution power-law exponent
    α = 1 + n / Σ ln(d/d_min) over nodes with degree ≥ d_min — the
    one-number answer to "is this graph hub-dominated?" that decides
    whether joins on it need skew handling (α < 2.5: heavy hubs,
    salt; α > 3: effectively homogeneous).

    Exactness: degrees are integers from one aggregate; each ln(d/dmin)
    quantizes at 9dp into DECIMAL(38,9) on the DEGREE DOMAIN (bounded
    by max degree, not node count) weighted by the node count at that
    degree, so the sum is order-free; α is one division. Also reports
    the tail share and max degree."""
    # und feeds both union branches of the degree count, and dom feeds
    # both the tail aggregate and the node total — pin each once so the
    # upstream edge build runs a single time
    und = _undirected(edges).localCheckpoint(eager=True)
    dom = (
        _degrees(und)
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)  # degree-domain-sized
    )
    tail = dom.filter(F.col("d") >= d_min)
    # integer nano-nats: ln(d/dmin) quantized to 1e-9 as a LONG, then
    # weighted by the node count — pure integer sums, one final /1e9
    t9 = F.round(
        F.log(F.col("d").cast("double") / F.lit(float(d_min))) * F.lit(1e9)
    ).cast("long")
    s = tail.agg(
        F.sum("k").alias("n_tail"),
        F.sum((t9 * F.col("k")).cast("decimal(38,0)")).alias("slog9"),
        F.max("d").alias("d_max"),
    ).crossJoin(F.broadcast(dom.agg(F.sum("k").alias("n_nodes"))))
    alpha = F.lit(1.0) + F.col("n_tail").cast("double") / F.nullif(
        F.col("slog9").cast("double") / F.lit(1e9), F.lit(0.0)
    )
    return s.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_tail").cast("long").alias("n_tail"),
        F.col("d_max").cast("long").alias("d_max"),
        F.round(
            F.col("n_tail").cast("double") / F.col("n_nodes").cast("double"),
            6,
        ).alias("tail_share"),
        F.round(alpha, 6).alias("alpha"),
    )


def community_modularity(
    edges: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Newman modularity Q of the deterministic label-propagation
    partition — the one-number quality check for ANY community
    assignment (Q near 0: the "communities" are no better than random
    wiring; 0.3+: real structure worth exploiting for locality or
    mixture design). Runs the :func:`label_propagation` rounds on its
    own canonical edge set, then the exact modularity identity.

    Exactness: with m undirected edges, SL monochrome (intra-community)
    edges, and per-community degree sums D_c,
        Q = SL/m − Σ(D_c/2m)² = (4m·SL − ΣD_c²) / (4m²)
    — an EXACT integer ratio (the numerator and denominator accumulate
    in DECIMAL(38,0)); the single final division is the only float op.
    Scale shape: two label joins on the canonical edge list, one degree
    aggregate, one communities-sized reduction."""
    und = _undirected(edges).localCheckpoint(eager=True)
    # three consumers (la, lb, dc) and _propagate leaves its LAST round
    # unmaterialized — checkpoint so the final vote round (join +
    # window argmax) computes once, not three times
    labels = _propagate(und, rounds).localCheckpoint(eager=True)
    la = labels.select(F.col("id").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("community").alias("cb"))
    mono = (
        und.join(la, "a")
        .join(lb, "b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum((F.col("ca") == F.col("cb")).cast("long")).alias("sl"),
        )
    )
    dc = (
        _degrees(und)
        .join(labels.withColumnRenamed("id", "n"), "n")
        .groupBy("community")
        .agg(F.sum("d").alias("dc"), F.count(F.lit(1)).alias("sz"))
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    dterm = dc.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(dec(F.col("dc")) * dec(F.col("dc"))).alias("sd2"),
        F.max("sz").alias("largest_community"),
    )
    j = mono.crossJoin(F.broadcast(dterm))
    m = dec(F.col("m"))
    q = (
        (F.lit(4) * m * dec(F.col("sl")) - F.col("sd2")).cast("double")
        / (F.lit(4) * m * m).cast("double")
    )
    return j.select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("n_communities").cast("long").alias("n_communities"),
        F.col("largest_community").cast("long").alias("largest_community"),
        F.round(
            F.col("sl").cast("double") / F.col("m").cast("double"), 6
        ).alias("intra_edge_share"),
        (F.round(q, 6) + F.lit(0.0)).alias("modularity"),
    )


def diameter_double_sweep(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """Graph-diameter lower bound by the classic DOUBLE SWEEP (Magnien
    et al. 2009): BFS from an arbitrary node (the minimum id — a
    deterministic choice), then BFS again from the farthest node found;
    the second eccentricity is the standard cheap diameter estimate
    (exact on trees, a tight lower bound in practice) — two BFS costs
    instead of the all-pairs diameter's |V| BFS runs, the only shape
    that survives a billion-node graph.

    Both sweeps reuse :func:`bfs_distances` (edge-linear frontier
    rounds, ``max_hops``-bounded — hops beyond the bound are absent and
    the estimate is then itself a lower bound, stated in the output
    name); all outputs are integers. Requires a symmetric edge list
    (copurchase_edges emits both directions).

    The edge frame is localCheckpoint-ed ONCE up front: every BFS round
    joins the frontier against it, so without the checkpoint each of the
    up-to-2*max_hops rounds re-derives the whole edge list from its
    lineage (for copurchase_edges that is the full basket self-pairing
    aggregate per round — measured 11.3 s -> ~3 s at sf0.1)."""
    sym = edges.select("src", "dst").localCheckpoint(eager=True)
    start = sym.agg(F.min("src").alias("node"))
    d1 = bfs_distances(sym, start, max_hops=max_hops).localCheckpoint(
        eager=True
    )
    far = d1.orderBy(F.desc("dist"), F.asc("node")).limit(1).select("node")
    d2 = bfs_distances(sym, far, max_hops=max_hops)
    s1 = d1.agg(
        F.max("dist").alias("ecc_start"), F.count(F.lit(1)).alias("n_reached")
    )
    s2 = d2.agg(F.max("dist").alias("diameter_lower_bound"))
    return (
        start.crossJoin(F.broadcast(far.select(F.col("node").alias("far_node"))))
        .crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .select(
            F.col("node").cast("long").alias("start_node"),
            F.col("ecc_start").cast("long").alias("ecc_start"),
            F.col("far_node").cast("long").alias("far_node"),
            F.col("diameter_lower_bound").cast("long").alias(
                "diameter_lower_bound"
            ),
            F.col("n_reached").cast("long").alias("n_reached"),
        )
    )
