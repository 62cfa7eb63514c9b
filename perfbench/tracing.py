"""Per-layer tracing, collected from outside the program.

Two sources, both read only by the benchmark's own code:

* Spans. ``Tracer.patch()`` replaces each traced public function of the
  program with a wrapper that records a span (name, start, end, parent,
  op id) in memory. The wrapper is bound wherever the original was
  imported, so calls between the program's own modules are seen too.
  ``Tracer.unpatch()`` restores the originals.
* Spark's own accounting, read after an op's timed window closes: the
  status store (per job group: jobs, stage attempts, task metrics) and
  the final frame's ``QueryPlanningTracker`` (Catalyst phases).
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

# span name -> (module, attribute) of each traced function
TRACED = {
    "session.load_tables": ("avro_sql_spark.session", "load_tables"),
    "plans.parse": ("avro_sql_spark.plans.fields", "parse"),
    "plans.plan_flatten": ("avro_sql_spark.plans.flatten", "plan_flatten"),
    "plans.plan_withstructure": ("avro_sql_spark.plans.structure", "plan_withstructure"),
    "reshape.reshape": ("avro_sql_spark.reshape", "reshape"),
    "reshape.reshape_schema": ("avro_sql_spark.reshape", "reshape_schema"),
    "avro_schema.avro_to_spark_schema": ("avro_sql_spark.sources.avro_schema", "avro_to_spark_schema"),
    "avro_schema.spark_to_avro_schema": ("avro_sql_spark.sources.avro_schema", "spark_to_avro_schema"),
}
PLANNERS = ("plans.plan_flatten", "plans.plan_withstructure")
# spans whose returned frame is kept until the op's record is collected,
# for the Catalyst analysis that ran inside them
FRAME_MAKERS = ("reshape.reshape",)


class Tracer:
    """In-memory span recorder. Spans are dicts with ``name``, ``start``,
    ``end`` (perf_counter seconds), ``parent`` (index of the enclosing
    span or ``None``) and ``op`` (the op sample id or ``None``)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: "str | None" = None
        # op sample id -> frames made inside it, dropped once collected
        self.frames: dict[str, list] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
            "op": self.op,
            "child_s": 0.0,  # time covered by direct children
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if parent is not None:
                self.spans[parent]["child_s"] += rec["end"] - rec["start"]

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if name in PLANNERS:
                    rec["columns"] = 0 if out is None else len(out)
                elif name in FRAME_MAKERS and tracer.op is not None:
                    tracer.frames.setdefault(tracer.op, []).append(out)
                return out

        return traced

    def patch(self) -> None:
        """Wrap every traced function in every loaded module that holds
        a reference to it (``from x import f`` copies the reference)."""
        for name, (mod_name, attr) in TRACED.items():
            original = getattr(sys.modules[mod_name], attr)
            wrapper = self._wrap(name, original)
            for mod in list(sys.modules.values()):
                for key, val in list(getattr(mod, "__dict__", {}).items()):
                    if val is original:
                        setattr(mod, key, wrapper)
                        self._patched.append((mod, key, original))

    def unpatch(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    def op_spans(self, op_id: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_totals(spans: list[dict]) -> dict[str, float]:
    """Inclusive seconds per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per span name: duration minus the part its direct
    children cover (one thread, so children never overlap)."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - s["child_s"]
    return out


def outer_time(all_spans: list[dict], spans: list[dict], prefix: str) -> float:
    """Inclusive seconds of the ``prefix`` spans among ``spans`` that are
    not nested in another ``prefix`` span: each entry call counted once."""
    return sum(
        s["end"] - s["start"]
        for s in spans
        if s["name"].startswith(prefix)
        and (s["parent"] is None or not all_spans[s["parent"]]["name"].startswith(prefix))
    )


# --------------------------------------------------------------------------
# Spark accounting
# --------------------------------------------------------------------------

EXEC_KEYS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks",
    "stage_retries", "task_skew",
)


def _group_stages(spark, group: str):
    """(number of jobs, attempt data of every stage that ran) of one job
    group. Skipped stages (shuffle output reused) did no work."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs, stages = 0, set()
    for job in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(job)
        stages.update(info.stageIds if info else ())
    ran = [store.lastStageAttempt(sid) for sid in sorted(stages)]
    return jobs, [sd for sd in ran if str(sd.status()) != "SKIPPED"]


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks of one job group."""
    jobs, stages = _group_stages(spark, group)
    return {"jobs": jobs, "stages": len(stages), "tasks": sum(sd.numCompleteTasks() for sd in stages)}


def group_stats(spark, group: str) -> dict:
    """Totals over the jobs of one job group, from the status store.
    ``task_skew`` is the largest max/median task run time over the
    group's stages that ran more than one task."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = dict.fromkeys(EXEC_KEYS, 0)
    out["task_skew"] = 1.0
    out["jobs"], stages = _group_stages(spark, group)
    for sd in stages:
        sid = sd.stageId()
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["run_ms"] += sd.executorRunTime()
        out["cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["input_bytes"] += sd.inputBytes()
        out["input_records"] += sd.inputRecords()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["failed_tasks"] += sd.numFailedTasks()
        out["stage_retries"] += sd.attemptId()
        if sd.numCompleteTasks() > 1:
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], top / med)
    return out


def catalyst_phases(df, force: bool = True) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own query
    execution. Analysis ran when the frame was built; with ``force`` the
    other two are run here, after the timed window, on the same logical
    plan the write optimized."""
    qe = df._jdf.queryExecution()
    if force:
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = got.get().durationMs() if got.isDefined() else 0
    return out


def read_leaves(df) -> int:
    """Leaves of every file scan's ``ReadSchema`` in ``df``'s physical
    plan: the nested columns Spark actually reads."""
    from pyspark.sql.types import StructType

    from workloads import leaf_count

    plan = df._jdf.queryExecution().sparkPlan()
    total = 0
    it = plan.collectLeaves().iterator()
    while it.hasNext():
        node = it.next()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            total += leaf_count(StructType.fromJson(json.loads(node.requiredSchema().json())))
    return total
