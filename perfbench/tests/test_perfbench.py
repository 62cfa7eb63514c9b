"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per run (about half a minute each) and
write their records under ``.perfbench_out/selftest/``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import compare  # noqa: E402
import datagen  # noqa: E402
import summarize  # noqa: E402
import workloads as w  # noqa: E402

SELFTEST = os.path.join(ROOT, ".perfbench_out", "selftest")
SEED = 3

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int, tag: str, cwd: str = ROOT) -> tuple[int, str, dict | None, list | None]:
    """Run the benchmark once at sf0.001; returns its exit code, the
    last stdout line, and the record and spans it wrote."""
    out = os.path.join(SELFTEST, tag)
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--out", out],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    base = os.path.join(out, f"{workload}-seed{SEED}-trace{trace}")
    record = spans = None
    if proc.returncode == 0:
        with open(base + ".json") as f:
            record = json.load(f)
        if trace:
            with open(base + ".spans.json") as f:
                spans = json.load(f)
    if proc.returncode != 0:
        print(proc.stderr[-4000:])
    return proc.returncode, lines[-1] if lines else "", record, spans


_runs: dict = {}


def traced(workload: str, tag: str = "a"):
    key = (workload, tag)
    if key not in _runs:
        _runs[key] = bench(workload, 1, tag)
    return _runs[key]


def counts(record: dict) -> dict:
    """Jobs, stages and tasks per op sample, construction and write."""
    return {
        (s["op"], s["pass"]): tuple(s[g][k] for g in ("construct", "write") for k in ("jobs", "stages", "tasks"))
        for s in record["samples"]
    }


# ---- inputs and op lists --------------------------------------------------


def test_data_depends_only_on_sf():
    a, b = datagen.generate_tables(0.001), datagen.generate_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert datagen.nested_orders(a).equals(datagen.nested_orders(b))
    assert datagen.generate_tables(0.002)["lineitem"].num_rows == 2 * a["lineitem"].num_rows


def test_same_seed_same_ops():
    assert w.nested_queries(random.Random(5)) == w.nested_queries(random.Random(5))
    assert w.nested_queries(random.Random(5)) != w.nested_queries(random.Random(6))

    def compile_ops(seed):
        return [(op.name, op.query) for op in w.reshape_compile_ops(random.Random(seed), None)]

    assert compile_ops(5) == compile_ops(5)
    assert compile_ops(5) != compile_ops(6)

    def registry_ops(seed):
        return [op.name for op in w.registry_ops(w.SINGLE_PASS, None, "", None, random.Random(seed))]

    assert registry_ops(5) == registry_ops(5)
    assert sorted(registry_ops(5)) == sorted(w.SINGLE_PASS)


def test_compile_queries_valid_by_construction():
    """Flatten picks only primitive leaves reached through records."""
    from avro_sql_spark.sources.avro_schema import avro_to_spark_schema

    rng = random.Random(9)
    gen = w._SchemaGen(rng)
    for n in w.COMPILE_LEAVES:
        schema = avro_to_spark_schema(gen.schema(n))
        flat = {p for p, kind, arr in w._paths(schema) if kind == "leaf" and not arr}
        for form, _, items in w.compile_queries(rng, schema):
            if form == "flatten":
                assert {p for p, _ in items} <= flat


# ---- smoke runs of every workload ---------------------------------------


@pytest.mark.parametrize("workload", w.WORKLOADS)
def test_traced_smoke(workload):
    rc, last, record, spans = traced(workload)
    assert rc == 0, last
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert record["problems"] == []
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    stamp = record["stamp"]
    for key in ("sf", "cpus", "nproc", "spark", "java", "python", "git_sha", "seed"):
        assert stamp[key] not in (None, ""), key
    assert len(record["calib_q1_s"]) == 3

    op_end = {s["op"]: s["end"] for s in spans if s["name"] == "op"}
    for s in record["samples"]:
        # every per-layer part is there for every op sample ...
        for key in ("spans", "self", "construct", "write", "catalyst", "read_leaves", "ref_leaves", "pins"):
            assert key in s, key
        # ... and Spark's accounting was read after the op's timed window
        sample_id = f"{s['op']}@{s['pass']}"
        assert s["collected_at"] >= op_end[sample_id]
        assert abs(s["spans"]["op"] - s["op_s"]) < 0.05
        layers = summarize.sample_layers(s)
        assert sum(layers.values()) == pytest.approx(s["construct_s"] + s["write_s"], abs=0.05)


def test_untraced_smoke_prints_end_to_end_metrics():
    rc, last, record, _ = bench("reshape_compile", 0, "plain")
    assert rc == 0, last
    result = json.loads(last)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "samples" not in result["metrics"] and record["wall"]["samples"] >= 1


@pytest.mark.parametrize("workload", ["pipeline_iterative", "reshape_nested"])
def test_counts_repeat_across_traced_runs(workload):
    first, second = traced(workload, "a")[2], traced(workload, "b")[2]
    assert first["ops"] == second["ops"]
    a, b = counts(first), counts(second)
    common = sorted(set(a) & set(b))
    assert common and all(a[k] == b[k] for k in common)


def test_bare_directory_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "reshape_compile", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# ---- comparison --------------------------------------------------------


def _record(workload, seed, sf, cpus, wall):
    return {
        "stamp": {"workload": workload, "seed": seed, "trace": 0, "sf": sf, "cpus": cpus, "nproc": cpus,
                  "spark": "x", "java": "x", "python": "x", "git_sha": "x"},
        "failed": 0,
        "wrong_results": 0,
        "end_to_end": {"wall_s": wall},
    }


def test_compare_refuses_other_sf_or_cpus():
    base = compare.summarize([_record("a", s, 0.001, 4, 1.0 + s / 10) for s in range(3)])
    assert base["a"]["metrics"]["wall_s"] == pytest.approx(1.1)
    same = compare.summarize([_record("a", 9, 0.001, 4, 2.2)])
    assert "ratio=2.000x" in compare.compare(base, same)[0]
    for sf, cpus in ((0.001, 8), (0.01, 4)):
        with pytest.raises(compare.ConfigMismatch):
            compare.compare(base, compare.summarize([_record("a", 1, sf, cpus, 1.0)]))
    with pytest.raises(compare.ConfigMismatch):
        compare.summarize([_record("a", 1, 0.001, 4, 1.0), _record("a", 2, 0.001, 8, 1.0)])
