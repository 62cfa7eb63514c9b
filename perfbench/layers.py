"""Per-layer metrics of a traced run, named by module.

Driver-side ``*_ms`` (plans, reshape, avro_schema, catalyst, pins) are
means per op sample; ``*_s``, counts, bytes and the executor times
``exec.*run_ms``, ``cpu_ms`` and ``gc_ms`` are per pass (total over the
timed passes divided by their number); ``ms_per_job`` is per job; ratios
are ratios of totals. Construction-time jobs (run while
a registry entry builds its frame) are reported under ``operators.*``
and ``exec.construct.*``; the final ``noop`` write's under ``exec.*``.
A layer the workload never calls reads 0. ``jvm.jit_cpu_s`` is the CPU
time of the JVM's JIT compiler threads, a part of the end-to-end CPU
metrics.
"""

from __future__ import annotations

import statistics

EXEC_SUMS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "failed_tasks", "stage_retries",
)
BYTES = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _unit(key: str) -> str:
    if key.endswith("_ms"):
        return "ms"
    return "bytes" if key in BYTES else "count"


def per_layer(run) -> dict[str, tuple[float, str]]:
    samples = run.samples
    n_ops = max(len(samples), 1)
    n_passes = max(len(run.passes), 1)

    def span_s(*names: str) -> float:
        return sum(s["spans"].get(n, 0.0) for s in samples for n in names)

    def total(group: str, key: str) -> float:
        return sum(s[group][key] for s in samples)

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (run.setup["session.start_s"], "s"),
        "session.load_tables_s": (run.setup["session.load_tables_s"], "s"),
        "setup.input_gen_s": (run.setup["setup.input_gen_s"], "s"),
        "plans.parse_ms": (span_s("plans.parse") * 1000 / n_ops, "ms"),
        "plans.plan_ms": (span_s("plans.plan_flatten", "plans.plan_withstructure") * 1000 / n_ops, "ms"),
        "plans.columns": (sum(s["columns"] for s in samples) / n_ops, "count"),
        "reshape.call_ms": (sum(s["reshape_call_s"] for s in samples) * 1000 / n_ops, "ms"),
        "reshape.self_ms": (
            sum(s["self"].get("reshape.reshape", 0.0) + s["self"].get("reshape.reshape_schema", 0.0) for s in samples)
            * 1000 / n_ops,
            "ms",
        ),
        "avro_schema.convert_ms": (
            span_s("avro_schema.avro_to_spark_schema", "avro_schema.spark_to_avro_schema") * 1000 / n_ops,
            "ms",
        ),
        "operators.construct_s": (sum(s["construct_s"] for s in samples) / n_passes, "s"),
        "operators.construct_jobs": (total("construct", "jobs") / n_passes, "count"),
        "operators.construct_stages": (total("construct", "stages") / n_passes, "count"),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (sum(s["catalyst"][phase] for s in samples) / n_ops, "ms")

    write_s = sum(s["write_s"] for s in samples)
    m["exec.write_s"] = (write_s / n_passes, "s")
    for group, prefix in (("write", "exec."), ("construct", "exec.construct.")):
        jobs = total(group, "jobs")
        if group == "write":
            m["exec.jobs"] = (jobs / n_passes, "count")
            m["exec.stages"] = (total(group, "stages") / n_passes, "count")
        for key in EXEC_SUMS:
            m[prefix + key] = (total(group, key) / n_passes, _unit(key))
        busy_s = write_s if group == "write" else sum(s["construct_s"] for s in samples)
        m[prefix + "ms_per_job"] = (busy_s * 1000 / jobs if jobs else 0.0, "ms")
        m[prefix + "cpu_util"] = (
            total(group, "cpu_ms") / (busy_s * 1000 * run.cpus) if busy_s else 0.0,
            "ratio",
        )
        m[prefix + "task_skew"] = (max((s[group]["task_skew"] for s in samples), default=1.0), "ratio")

    read = sum(s["read_leaves"] for s in samples)
    ref = sum(s["ref_leaves"] for s in samples if s["read_leaves"])
    m["scan.input_bytes"] = ((total("construct", "input_bytes") + total("write", "input_bytes")) / n_passes, "bytes")
    m["scan.input_records"] = (
        (total("construct", "input_records") + total("write", "input_records")) / n_passes,
        "count",
    )
    m["scan.read_leaves"] = (read / n_ops, "count")
    m["scan.ref_leaves"] = (ref / n_ops, "count")
    m["scan.prune_ratio"] = (ref / read if read and ref else 0.0, "ratio")
    m["pins.rdds_left"] = (sum(s["pins"]["rdds_left"] for s in samples) / n_passes, "count")
    m["pins.sweep_ms"] = (sum(s["pins"]["sweep_ms"] for s in samples) / n_ops, "ms")
    m["jvm.jit_cpu_s"] = (sum(s["jit_cpu_s"] for s in samples) / n_passes, "s")
    m["calib.q1_s"] = (statistics.median(run.calib), "s")
    m["check.wrong_results"] = (run.wrong, "count")
    m["check.failed_frac"] = (run.failed / max(run.attempted, 1), "ratio")
    m["trace.wall_s"] = (statistics.median(run.passes), "s")
    return m
