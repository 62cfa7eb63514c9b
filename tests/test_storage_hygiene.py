"""Storage-level hygiene of the iterative loops: superseded
per-round localCheckpoint frames must be unpersisted once the next
round's action materializes (the ``operators/_pins.RoundPins`` rule),
so pinned executor storage stays ~2 rounds deep instead of
growing with round count — the r8-verdict item 1 contract."""

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(os.path.join(ROOT, "perfbench"))
from run import sweep_pins as _sweep  # noqa: E402


def _n_persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture
def held(spark, monkeypatch):
    """Keep every localCheckpoint frame referenced for the test, so GC +
    ContextCleaner cannot drop a superseded round's blocks on its own:
    the persisted count then measures the retire rule alone."""
    frames = []
    cls = type(spark.range(1))
    pin = cls.localCheckpoint

    def keep(self, *args, **kwargs):
        frames.append(pin(self, *args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(cls, "localCheckpoint", keep)
    return frames


def test_bfs_pinned_blocks_bounded(spark):
    """A long-chain BFS (8 rounds) must not retain one dist + one
    frontier checkpoint per round: after the terminal action at most
    the final ~2 rounds' frames (plus the edge input) stay pinned."""
    from avro_sql_spark.operators.graph import bfs_distances

    _sweep(spark)
    edges = [(i, i + 1) for i in range(1, 9)]
    und = edges + [(b, a) for a, b in edges]
    e = spark.createDataFrame(und, "src LONG, dst LONG")
    seeds = spark.createDataFrame([(1,)], "node LONG")
    out = {r["node"]: r["dist"] for r in bfs_distances(e, seeds, max_hops=8).collect()}
    assert out == {i: i - 1 for i in range(1, 10)}  # unchanged result
    # without the unpersist port this is ~2 frames x 8 rounds (>= 16)
    assert _n_persisted(spark) <= 5
    _sweep(spark)


def test_scc_pinned_blocks_bounded(spark):
    from avro_sql_spark.operators.graph import scc_labels

    _sweep(spark)
    # 6-cycle: closure needs 3 doubling rounds; one component
    edges = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    labels = {r["node"]: r["scc_id"] for r in scc_labels(df).collect()}
    assert set(labels.values()) == {0}
    assert _n_persisted(spark) <= 4
    _sweep(spark)


def test_bpe_pinned_blocks_bounded(spark):
    from avro_sql_spark.operators.bpe import train_bpe_state

    _sweep(spark)
    docs = spark.createDataFrame(
        [("the cat sat on the mat the cat",)] * 3, "text STRING"
    )
    merges, words = train_bpe_state(docs)
    words.collect()  # materialize the final (returned-lazy) table
    assert len(merges) >= 3
    # without the port: one vocabulary frame pinned per merge round
    assert _n_persisted(spark) <= 4
    _sweep(spark)


# two components: a 7-chain (multi-round convergence) + a pair
_CC_EDGES = [(i, i + 1) for i in range(1, 7)] + [(20, 21)]
_CC_LABELS = {**{i: 1 for i in range(1, 8)}, 20: 20, 21: 20}


def _assert_cc_bounded_and_correct(spark, out):
    assert {r["id"]: r["cluster_id"] for r in out.collect()} == _CC_LABELS
    assert _n_persisted(spark) <= 5
    _sweep(spark)


def test_star_cc_pinned_blocks_bounded_and_correct(spark):
    from avro_sql_spark.operators.graph import connected_components_star

    _sweep(spark)
    df = spark.createDataFrame(_CC_EDGES, "src LONG, dst LONG")
    _assert_cc_bounded_and_correct(spark, connected_components_star(df))


def test_label_cc_pinned_blocks_bounded_and_correct(spark, held):
    """dedup.connected_components needs one label round per chain hop
    (7 here): without the retire rule each round's labels stay pinned."""
    from avro_sql_spark.operators.dedup import connected_components

    _sweep(spark)
    pairs = spark.createDataFrame(_CC_EDGES, "id_a LONG, id_b LONG")
    nodes = spark.createDataFrame([(n,) for n in _CC_LABELS], "id LONG")
    _assert_cc_bounded_and_correct(spark, connected_components(nodes, pairs))


def test_markov_removal_pinned_blocks_bounded(spark, held):
    """8 absorption rounds over the removal grid: four operator-lifetime
    chain frames plus ~2 round frames stay pinned, not one per round."""
    from datetime import datetime, timedelta

    from avro_sql_spark.operators.profile import markov_removal_attribution

    _sweep(spark)
    t0 = datetime(2024, 1, 1)
    rows = []
    for u in range(6):  # view -> click -> purchase, or view then drop
        rows.append((len(rows), t0, u, "view", 1.0, ""))
        rows.append((len(rows), t0 + timedelta(hours=1), u, "click", 1.0, ""))
        if u % 2 == 0:
            rows.append((len(rows), t0 + timedelta(hours=2), u, "purchase", 1.0, ""))
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    out = {r["channel"]: r for r in markov_removal_attribution(df).collect()}
    assert set(out) == {"view", "click"}
    # every converting path runs through both channels
    assert out["view"]["removal_effect"] == pytest.approx(1.0)
    assert out["click"]["removal_effect"] == pytest.approx(1.0)
    assert out["view"]["base_conv"] == pytest.approx(0.5)
    assert _n_persisted(spark) <= 7
    _sweep(spark)


def test_only_pins_module_unpersists_checkpoints():
    """The retire rule lives in operators/_pins.py alone: no other
    module may drop checkpoint blocks itself."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "avro_sql_spark"
    pattern = re.compile(r"unpersist_checkpoint|\.rdd\(\)\.unpersist\(")
    offenders = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "_pins.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []
