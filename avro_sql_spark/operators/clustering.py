"""Distributed k-means (Lloyd iterations) over an embedding column
(SURVEY.md §2.2 'Similarity search' — the clustering step behind IVF
cell training, corpus topic bucketing, and diversity-aware sampling).

Spark-first shape: centroids are the DRIVER state (k x d floats —
bounded, like pca_project's d x d), broadcast into each iteration as
array literals; the assignment step is pure in-row Column arithmetic
(zip_with difference, aggregate fold — no UDF), and the update step is
one posexplode + groupBy(cluster, dim) average whose shuffle carries
(k x d) cells regardless of row count. Per iteration: ONE job. No
unbounded driver collect anywhere.

Determinism (what makes the DuckDB oracle possible): seeds are the k
lowest-id vectors, ties in the argmin break to the lowest centroid
index (array_position returns the first minimum), and the iteration
count is fixed — the result is a closed-form expression of the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assign(emb: DataFrame, cents: "list[list[float]]"):
    """Append 'cluster' (0-based argmin of squared L2 distance of the
    ``embedding`` vector; ties → lowest index) and '_dist' (the winning
    squared distance).

    The per-centroid distance is an UNROLLED left-associated sum built
    as ONE SQL string: the identical IEEE value as the 0.0-seeded
    aggregate/zip_with fold it replaces (0.0+x == x, same add order),
    but whole-stage-codegen'd instead of interpreted per row, and one
    Py4J call instead of ~k x d Column round-trips (driver seconds at
    k=16, d=64 — the minhash-builder lesson). The vector cast is
    hoisted into a `_v` column first: repeating the cast expression
    inside every one of the k x d terms tripled the generated-code
    size past janino's 64 KB method limit, silently dropping the whole
    stage to interpreted execution — same values, same add order, a
    third of the codegen text."""
    d = len(cents[0])
    if len(cents) * d <= 256:
        # small k x d: unrolled terms stay within janino's 64 KB method
        # limit and whole-stage codegen compiles them to straight-line
        # arithmetic — the fastest shape
        dists = ", ".join(
            " + ".join(
                f"(_v[{i}] - {c[i]!r}D) * (_v[{i}] - {c[i]!r}D)"
                for i in range(d)
            )
            for c in cents
        )
    else:
        # large k x d: the unrolled form is ONE unsplittable expression
        # whose generated method blows the 64 KB limit — janino fails
        # and Spark silently drops the WHOLE stage to interpreted
        # execution (observed on the 16 x 64 SemDeDup/IVF assigners).
        # The 0.0-seeded left fold over a zip_with is the IDENTICAL
        # IEEE value (element order ascending, 0.0+x == x — the same
        # equivalence the power-iteration oracle replays), with ~50x
        # less codegen text, so the surrounding stage keeps codegen and
        # only this expression evaluates via the interpreter
        def fold(c):
            lits = ", ".join(f"{x!r}D" for x in c)
            return (
                f"aggregate(zip_with(_v, array({lits}),"
                " (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)"
            )

        dists = ", ".join(fold(c) for c in cents)
    return (
        emb.selectExpr("*", "cast(`embedding` as array<double>) AS _v")
        .selectExpr("*", f"array({dists}) AS _dists")
        .selectExpr(
            "*",
            "cast(array_position(_dists, array_min(_dists)) - 1 as int) AS cluster",
            "array_min(_dists) AS _dist",
        )
        .drop("_dists", "_v")
    )


def lloyd_centroids(emb: DataFrame, k: int = 4) -> "list[list[float]]":
    """The deterministic Lloyd TRAINING loop over ``embedding`` shared by
    :func:`kmeans_lloyd` and the IVF coarse quantizer
    (similarity.ivf_topk): k lowest-``vec_id`` seeds, 2 iterations,
    9dp-rounded centroid updates. Returns the final k x d centroid
    list — bounded driver state, broadcast back as literals."""
    # the training frame is read by 3 separate driver jobs
    # (seed collect + one assignment aggregate per iteration); pin ONE
    # materialization so each job reads the frozen blocks instead of
    # re-deriving the input subtree (for the IVF quantizer that subtree
    # is a global sort-limit over the corpus — re-run per job otherwise)
    emb = emb.localCheckpoint(eager=False)
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    if len(seeds) < k:
        from ..errors import AvroSqlError

        raise AvroSqlError(f"kmeans_lloyd: need at least k={k} rows, got {len(seeds)}")
    cents = [list(r["v"]) for r in seeds]
    for _ in range(2):
        assigned = _assign(emb, cents)
        rows = (
            assigned.select(
                "cluster", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
            )
            .groupBy("cluster", "i")
            .agg(F.avg("v").alias("m"))
            .collect()
        )  # k x d cells — bounded driver state, never row count
        # start from a copy of the previous centroids: a cluster that
        # lost every point keeps its position (standard empty-cluster
        # rule); centroids round to 9 dp so the values broadcast back
        # are bit-identical across engines/environments (an unrounded
        # avg inherits partial-sum order noise, and the DISCRETE argmin
        # downstream could flip on it — same flake class the covariance
        # entry's keyed partials exist to prevent; the oracle applies
        # the identical ROUND)
        new_cents = [list(c) for c in cents]
        for r in rows:
            new_cents[r["cluster"]][r["i"]] = round(r["m"], 9)
        cents = new_cents
    return cents


def kmeans_lloyd(emb: DataFrame) -> DataFrame:
    """Fixed-iteration Lloyd k-means, k = 4. Returns one row per point:
    (vec_id, cluster, sqdist) after 2 centroid updates.

    Each iteration: assign (in-row arithmetic against broadcast centroid
    literals) then update (posexplode → groupBy(cluster, dim) avg — the
    shuffle is k x d cells). A cluster that loses every point keeps its
    previous centroid (the standard empty-cluster rule)."""
    cents = lloyd_centroids(emb)
    out = _assign(emb, cents)
    return out.select("vec_id", "cluster", F.col("_dist").alias("sqdist"))


def kmeans_report(emb: DataFrame) -> DataFrame:
    """Cluster-quality rollup of :func:`kmeans_lloyd`: per cluster the
    member count and the mean squared distance to its centroid — the
    inertia decomposition every clustering dashboard shows."""
    a = kmeans_lloyd(emb)
    return (
        a.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("sqdist"), 4).alias("mean_sqdist"),
        )
        .orderBy("cluster")
    )


def kmeans_silhouette(emb: DataFrame) -> DataFrame:
    """Centroid-simplified silhouette of the Lloyd partition: per point
    s = (b − a)/max(a, b) with a = distance to the OWN centroid and
    b = distance to the nearest OTHER centroid (the O(n·k) medoid-free
    variant — the exact silhouette's O(n²) pair pass is the textbook
    definition, not a 100 TB plan), averaged per cluster. Near 1:
    compact and separated; near 0: the point sits on a boundary —
    the go/no-go readout before trusting k-means labels for SemDeDup
    or curriculum bucketing.

    Replays :func:`lloyd_centroids` (k=4, 2 iterations, as the oracled
    kmeans entries), computes all 4 distances in-row with the same
    unrolled left-associated sum as ``_assign``, takes the two
    smallest via array_sort, and quantizes each point's s at 9dp into
    DECIMAL(38,9) so cluster averages are order-free."""
    cents = lloyd_centroids(emb)
    d = len(cents[0])
    dists = ", ".join(
        " + ".join(
            f"(_v[{i}] - {c[i]!r}D) * (_v[{i}] - {c[i]!r}D)"
            for i in range(d)
        )
        for c in cents
    )
    scored = (
        emb.selectExpr("*", "cast(`embedding` as array<double>) AS _v")
        .selectExpr(
            "`vec_id`",
            f"array({dists}) AS _dists",
        )
        .selectExpr(
            "`vec_id`",
            "cast(array_position(_dists, array_min(_dists)) - 1 as int)"
            " AS cluster",
            "sqrt(element_at(array_sort(_dists), 1)) AS a",
            "sqrt(element_at(array_sort(_dists), 2)) AS b",
        )
        .select(
            "cluster",
            F.round(
                F.when(
                    F.greatest(F.col("a"), F.col("b")) > 0,
                    (F.col("b") - F.col("a"))
                    / F.greatest(F.col("a"), F.col("b")),
                ).otherwise(F.lit(0.0)),
                9,
            )
            .cast("decimal(38,9)")
            .alias("s"),
        )
    )
    return (
        scored.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_points"), F.sum("s").alias("ss"))
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            F.col("n_points").cast("long").alias("n_points"),
            F.round(
                F.col("ss").cast("double") / F.col("n_points").cast("double"),
                6,
            ).alias("avg_silhouette"),
        )
        .orderBy("cluster")
    )
