"""Round-frame pins for the iterative loops, retired by one rule.

``DataFrame.unpersist()`` only removes CACHE-MANAGER entries (plans
registered via ``.cache()``/``.persist()``); a ``localCheckpoint``'s
blocks live on a persisted RDD referenced by a ``LogicalRDD`` leaf, so
``unpersist()`` on the checkpointed frame is a silent no-op and the
blocks stay pinned until Python GC + ContextCleaner get around to
them. The iterative loops here (BFS, path-doubling SCC, star-CC, BPE,
CC label propagation, Markov removal attribution) pin one or more
frames per round; dropping the
superseded ones deterministically bounds executor storage at ~2
rounds instead of growing with round count.

THE RULE (:class:`RoundPins`): a loop pins its round frames through
``pin`` and calls ``materialized()`` once per round, after the round's
LAST action. That action computed every frame pinned since the
previous call, and those frames were the last readers of everything
pinned before the previous call — so exactly those older frames are
unpersisted (materialize, then unpersist). A locally checkpointed
RDD's lineage is truncated, so its blocks are unrecoverable once
dropped: a frame must not be retired while a frame built on it is
still unmaterialized. Frames that live for the whole operator (edge
inputs, node sets) are plain pins outside the tracker and are never
retired here.

A lazy pin is not free. Under AQE, taking it already runs its plan's
shuffle-map stages as jobs; the round's action then runs the final
stage, and ``count()`` is two jobs (partial aggregate, final). Measured
with one job group per action, sf0.001, local[4], warm: a
``bfs_distances`` round on copurchase_bfs costs 2-4 pin jobs plus 2
count jobs; a ``connected_components`` round on jaccard_dup_clusters
and entity_clusters 4 plus 2; a ``scc_labels`` round on event_type_scc
2 plus 2; a ``connected_components_star`` round on
copurchase_components 5-6 plus 2, plus 3 for its anti-join probe when
the edge counts tie.

NOTE: localCheckpoint blocks live on executors only; losing an
executor mid-loop fails the job (truncated lineage can't recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a localCheckpoint-ed ``df``.

    STRICT on purpose: acts only when the frame's analyzed plan IS the
    LogicalRDD a localCheckpoint call returned. Walking to arbitrary
    LogicalRDD *leaves* would also unpersist UPSTREAM checkpoints a
    caller passed in and still owns (found the hard way in r9:
    corpus_funnel hands checkpoint-backed inputs to
    connected_components, whose round-1 retiree is a plain .cache()
    frame built ON those inputs — a leaf walk killed the caller's
    blocks mid-query). On any other frame this is a no-op; cached
    frames are DataFrame.unpersist()'s job."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class RoundPins:
    """Pins of one iterative loop's round frames (see the module rule)."""

    def __init__(self) -> None:
        self._since_last: list[DataFrame] = []
        self._before_last: list[DataFrame] = []

    def pin(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """localCheckpoint ``df`` and record it for retirement."""
        df = df.localCheckpoint(eager=eager)
        self._since_last.append(df)
        return df

    def materialized(self) -> None:
        """Call after a round's last action: unpersists every frame
        pinned before the previous call."""
        for df in self._before_last:
            _unpersist_checkpoint(df)
        self._before_last, self._since_last = self._since_last, []
