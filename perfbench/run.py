"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload reshape_nested --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts Spark on
``local[<nproc>]``, generates the data (fixed by the scale factor) and
the op list (drawn from ``--seed``), loads the data,
and runs every op once to check its output against an independent
answer (DuckDB or the expected schema) -- the check pass -- and one
untimed warm-up pass. Then ops run in sequence, closed loop with one
client, in a fixed number of whole passes that take about ``--seconds``
of op time on an unloaded host; each op is timed from the start of its
construction to the end of its forced ``noop`` write, in wall time and
in CPU time.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's public functions in spans, reads Spark's status store and
planning tracker after each op, and prints the per-layer metrics.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A record with the stamp, every sample and
(traced) the spans is written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

# scale factor per workload: pipelines are fixed-cost bound (jobs, not
# rows), so they run small; the reshape kernel runs at data scale
DEFAULT_SF = {
    "reshape_nested": 0.02,
    "reshape_compile": 0.001,
    "pipeline_iterative": 0.001,
    "pipeline_single_pass": 0.001,
}
# seconds of op time one pass takes on 4 unloaded cores. A run makes a
# fixed number of passes, --seconds / PASS_S: the JVM keeps warming up
# for several passes (a pass's CPU time falls by half from the first to
# the fourth, most of it JIT compilation), so a pass count that followed
# the host's speed would move the medians.
PASS_S = {
    "reshape_nested": 2.5,
    "reshape_compile": 1.6,
    "pipeline_iterative": 4.0,
    "pipeline_single_pass": 3.0,
}
# an untimed pass between the check pass and the timed ones, so that the
# timed passes start past the steepest part of the warm-up (on
# pipeline_iterative, JIT compilation is still more than half of a
# pass's CPU time after three passes)
WARMUP_PASSES = 1
SETUP_REPEATS = 3
MIN_PASSES = 2
# stop starting passes after this long, whatever --seconds says
HARD_STOP_S = 60.0


def pass_count(workload: str, seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_S[workload]))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="scale factor (default: per workload)")
    p.add_argument("--out", default=OUT_DIR, help="directory for the run record (default: %(default)s)")
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let executor-side Python import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(ROOT)
    sys.path[:0] = [ROOT, HERE]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_sha() -> str:
    """HEAD when the checkout is a git work tree of its own; otherwise a
    hash of the program's source files, prefixed ``tree:``."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
        )
        top, sha = (out.stdout.split() + ["", ""])[:2]
        if out.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return sha
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "avro_sql_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    return "tree:" + digest.hexdigest()


def stamp(args, sf: float, cpus: int, spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": git_sha(),
    }


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


def _reset_peak_rss(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # older kernels: the peak then counts from process start


def _peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _process_cpu_s(pid: int) -> float:
    return time.clock_gettime(((~pid) << 3) | 2)  # CPUCLOCK_SCHED of pid, ns resolution


_SCHEDSTAT = os.path.exists("/proc/self/schedstat")


def _thread_cpu_s(pid: int, tid: str) -> float:
    """CPU seconds of one thread: nanoseconds from ``schedstat``, or
    clock ticks from ``stat`` on kernels built without it."""
    if _SCHEDSTAT:
        with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
            return int(f.read().split()[0]) / 1e9
    with open(f"/proc/{pid}/task/{tid}/stat") as f:
        utime, stime = f.read().rsplit(")", 1)[1].split()[11:13]
    return (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK")


class TreeCpu:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers). Time the host steals from the machine
    is not CPU time, so this grows far less than wall time when other
    tenants load the host (over ten runs of ``reshape_compile`` in which
    the median pass's wall time ranged 1.2-2.8 s, its CPU time ranged
    1.6-2.2 s). Each process's last reading is kept, so one that exits
    between two readings does not make the total drop.

    The share of the JVM's JIT compiler threads is read as well
    (``jit_s``): a quarter (``reshape_compile``) to three fifths
    (``pipeline_iterative``) of the timed CPU time. It stays in the
    total, which spread less over ten runs of the same code than the
    total without it (quartile distance over median, 0.15 against 0.19
    on ``reshape_compile`` and 0.12 against 0.24 on
    ``pipeline_iterative``).
    """

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 characters

    def __init__(self):
        self.procs: dict[int, float] = {}
        self.jit: dict[tuple[int, str], float] = {}
        self.is_jit: dict[tuple[int, str], bool] = {}

    def _read_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            key = (pid, tid)
            try:
                if key not in self.is_jit:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self.is_jit[key] = f.read().startswith(self.JIT_THREADS)
                if self.is_jit[key]:
                    self.jit[key] = _thread_cpu_s(pid, tid)
            except OSError:
                continue  # exited since the listing

    def jit_s(self) -> float:
        return sum(self.jit.values())

    def read(self) -> float:
        me = os.getpid()
        for pid in _descendants(me):
            self._read_jit(pid)
            try:
                self.procs[pid] = _process_cpu_s(pid)
            except OSError:
                continue
        self.procs[me] = _process_cpu_s(me)
        return sum(self.procs.values())


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def sweep_pins(spark) -> int:
    """Unpersist every RDD still pinned (checkpoints, caches) and return
    how many there were; runs between ops, outside the timed window."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = [jmap[k] for k in list(jmap.keys())]
    for jrdd in rdds:
        jrdd.unpersist()
    spark.catalog.clearCache()
    return len(rdds)


class Run:
    def __init__(self, args):
        self.args = args
        self.sf = args.sf if args.sf is not None else DEFAULT_SF[args.workload]
        self.cpus = nproc()
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.problems: list[str] = []
        self.samples: list[dict] = []
        self.passes: list[float] = []
        self.pass_cpu: list[float] = []
        self.setup: dict = {}
        self.calib: list[float] = []
        self.tracer = None
        self.cpu = TreeCpu()

    # ---- set-up -----------------------------------------------------------

    def start_session(self):
        t0 = time.perf_counter()
        from avro_sql_spark.session import get_spark

        spark = get_spark("perfbench", cpus=self.cpus, shuffle_partitions=self.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = time.perf_counter() - t0
        return spark

    def make_inputs(self, spark, rep: int) -> dict:
        """Generate, write and load this run's inputs into a fresh
        directory; returns the paths and the step times."""
        import datagen
        from avro_sql_spark.session import load_tables

        base = os.path.join(self.work, f"inputs-{rep}")
        t0 = time.perf_counter()
        tables = datagen.generate_tables(self.sf)
        datagen.write_tables(tables, os.path.join(base, "tables"))
        if self.args.workload == "reshape_nested":
            datagen.write_nested(datagen.nested_orders(tables), os.path.join(base, "nested"))
        t1 = time.perf_counter()
        load_tables(spark, os.path.join(base, "tables"), register=False)
        if self.args.workload == "reshape_nested":
            spark.read.parquet(os.path.join(base, "nested")).schema
        t2 = time.perf_counter()
        return {
            "gen_s": t1 - t0,
            "load_s": t2 - t1,
            "tables": os.path.join(base, "tables"),
            "nested": os.path.join(base, "nested"),
        }

    def calibrate(self, spark, tables_dir: str) -> float:
        """One timed run of TPC-H q1, the drift control."""
        from avro_sql_spark.operators import relational

        t0 = time.perf_counter()
        relational.q1_pricing_summary(spark, tables_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def build_ops(self, spark, inputs: dict):
        import duckdb

        import workloads as w
        from avro_sql_spark.session import TABLES

        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(inputs['tables'], t)}.parquet'"
            )
        wl = self.args.workload
        if wl == "reshape_nested":
            return w.reshape_nested_ops(self.rng, spark, inputs["nested"], self.duck)
        if wl == "reshape_compile":
            return w.reshape_compile_ops(self.rng, spark)
        names = w.ITERATIVE if wl == "pipeline_iterative" else w.SINGLE_PASS
        return w.registry_ops(names, spark, inputs["tables"], self.duck, self.rng)

    def check_pass(self, spark, ops) -> float:
        """Run every op once and check its output; returns the time the
        pass took, the independent answers and comparisons included.
        Records each op's input records."""
        from tracing import group_stats

        sc = spark.sparkContext
        program_s = 0.0
        for op in ops:
            sweep_pins(spark)
            sc.setJobGroup(f"check:{op.name}", op.name, False)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = op.build()
                problem = op.check(result)
            except Exception as e:  # an op that raises is a failed op
                self.failed += 1
                self.problems.append(f"{op.name}: raised {type(e).__name__}: {str(e)[:300]}")
                op.records = 0
                continue
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            program_s += time.perf_counter() - t0
            stats = group_stats(spark, f"check:{op.name}")
            op.records = op.fixed_records or stats["input_records"]
            if problem:
                self.wrong += 1
                self.problems.append(f"{op.name}: {problem}")
        return program_s

    # ---- timed passes -----------------------------------------------------

    def timed_op(self, spark, op, pass_no: int) -> "dict | None":
        sc = spark.sparkContext
        pins_t0 = time.perf_counter()
        rdds_left = sweep_pins(spark)
        sweep_ms = (time.perf_counter() - pins_t0) * 1000
        sample_id = f"{op.name}@{pass_no}"
        tracer = self.tracer
        if tracer:
            tracer.op = sample_id
        sc.setJobGroup(f"{sample_id}:construct", op.name, False)
        self.attempted += 1
        cpu0 = self.cpu.read()
        jit0 = self.cpu.jit_s()
        try:
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("op", kind=op.kind):
                    with tracer.span("operators.entry" if op.kind == "registry" else "op.build"):
                        result = op.build()
                    t1 = time.perf_counter()
                    sc.setJobGroup(f"{sample_id}:write", op.name, False)
                    with tracer.span("exec.write"):
                        op.force(result)
            else:
                result = op.build()
                t1 = time.perf_counter()
                sc.setJobGroup(f"{sample_id}:write", op.name, False)
                op.force(result)
            t2 = time.perf_counter()
        except Exception as e:
            self.failed += 1
            self.problems.append(f"{sample_id}: raised {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            if tracer:
                tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        cpu_s = self.cpu.read() - cpu0
        sample = {
            "op": op.name,
            "pass": pass_no,
            "op_s": t2 - t0,
            "cpu_s": cpu_s,
            "jit_cpu_s": self.cpu.jit_s() - jit0,
            "construct_s": t1 - t0,
            "write_s": t2 - t1,
            "records": op.records,
            "pins": {"rdds_left": rdds_left, "sweep_ms": sweep_ms},
        }
        if tracer:
            sample.update(self.collect(spark, op, sample_id, result))
        else:
            # the deterministic counts, next to the wall time
            from tracing import job_counts

            sample["construct"] = job_counts(spark, f"{sample_id}:construct")
            sample["write"] = job_counts(spark, f"{sample_id}:write")
        return sample

    def collect(self, spark, op, sample_id: str, result) -> dict:
        """Per-layer record of one op sample, read after its window."""
        from pyspark.sql import DataFrame

        from tracing import catalyst_phases, group_stats, outer_time, read_leaves, self_times, span_totals

        spans = self.tracer.op_spans(sample_id)
        out = {
            "collected_at": time.perf_counter(),
            "spans": span_totals(spans),
            "self": self_times(spans),
            "columns": sum(s.get("columns", 0) for s in spans),
            "reshape_call_s": outer_time(self.tracer.spans, spans, "reshape."),
            "construct": group_stats(spark, f"{sample_id}:construct"),
            "write": group_stats(spark, f"{sample_id}:write"),
            "catalyst": {"analysis": 0, "optimization": 0, "planning": 0},
            "read_leaves": 0,
            "ref_leaves": op.ref_leaves,
        }
        frames = self.tracer.frames.pop(sample_id, [])
        if isinstance(result, DataFrame):
            out["catalyst"] = catalyst_phases(result)
            out["read_leaves"] = read_leaves(result)
        else:
            # schema-only ops: the frames reshape() made were analysed, never run
            for df in frames:
                for phase, ms in catalyst_phases(df, force=False).items():
                    out["catalyst"][phase] += ms
        return out

    def warm_up(self, spark, ops) -> float:
        """The untimed warm-up passes; returns the time they took. Their
        samples are dropped (pass numbers -1, -2, ...)."""
        t0 = time.perf_counter()
        for i in range(WARMUP_PASSES):
            for op in ops:
                self.timed_op(spark, op, -1 - i)
        return time.perf_counter() - t0

    def timed_passes(self, spark, ops, tables_dir: str) -> None:
        """Run ``pass_count`` timed passes, with the mid-run calibration
        after half of them. Stops early, after at least ``MIN_PASSES``,
        when a slow host has pushed the passes past ``HARD_STOP_S``."""
        n = pass_count(self.args.workload, self.args.seconds)
        start = time.perf_counter()
        for pass_no in range(n):
            total = 0.0
            for op in ops:
                sample = self.timed_op(spark, op, pass_no)
                if sample:
                    self.samples.append(sample)
                    total += sample["op_s"]
            self.passes.append(total)
            self.pass_cpu.append(sum(s["cpu_s"] for s in self.samples if s["pass"] == pass_no))
            if pass_no == (n - 1) // 2:
                self.calib.append(self.calibrate(spark, tables_dir))
            if pass_no + 1 >= MIN_PASSES and time.perf_counter() - start >= HARD_STOP_S:
                break

    # ---- metrics ----------------------------------------------------------

    def end_to_end(self) -> dict:
        """The gated metrics: CPU time of the benchmark's process tree
        (``TreeCpu``) per pass and per op, input records per CPU second,
        set-up time and peak memory. CPU time stands in for wall time
        because the host can steal a large, varying share of the
        machine's time, which moves wall figures of the same code by up
        to 2x between runs.

        ``op_cpu_p50_s`` is each op's median over the timed passes,
        averaged over the ops of the workload. The median of all samples
        together falls between the cheap and the dear forms (flatten
        and withstructure cost 2-3x apart), where few samples lie; over
        ten runs of ``reshape_compile`` it spread by a quarter of its
        median."""
        cpu = [s["cpu_s"] for s in self.samples]
        per_op: dict[str, list[float]] = {}
        for s in self.samples:
            per_op.setdefault(s["op"], []).append(s["cpu_s"])
        return {
            "cpu_s": (statistics.median(self.pass_cpu), "s"),
            "op_cpu_p50_s": (statistics.fmean(statistics.median(v) for v in per_op.values()), "s"),
            "records_per_cpu_s": (sum(s["records"] for s in self.samples) / sum(cpu), "1/s"),
            "setup_s": (self.setup["setup_s"], "s"),
            "driver_rss_mb": (self.peak_rss_mb, "MB"),
        }

    def wall(self) -> dict:
        """Wall-clock figures, recorded but not gated: the median pass,
        per-op latency with its sample count (the median, and the highest
        of p99, p90 and p75 that has at least 10 samples beyond it; none
        below 40 samples) and input records per second of op time.
        Failures and wrong results are counted over every op attempted,
        check pass included."""
        op_times = sorted(s["op_s"] for s in self.samples)
        out = {
            "wall_s": statistics.median(self.passes),
            "samples": len(op_times),
            "passes": len(self.passes),
            "op_p50_s": statistics.median(op_times),
            "op_tail": None,
            "records_per_s": sum(s["records"] for s in self.samples) / sum(op_times),
            "failed_frac": self.failed / self.attempted,
            "wrong_results": self.wrong,
        }
        for pct in (99, 90, 75):
            if len(op_times) * (100 - pct) >= 10 * 100:
                out["op_tail"] = {"pct": pct, "s": statistics.quantiles(op_times, n=100)[pct - 1]}
                break
        return out

    def main(self) -> dict:
        self.work = os.path.join(WORK_DIR, f"{self.args.workload}-{self.args.seed}-{os.getpid()}")
        prepare_environment(self.work)
        spark = self.start_session()
        try:
            return self._run(spark)
        finally:
            stop_spark(spark)
            shutil.rmtree(self.work, ignore_errors=True)

    def _run(self, spark) -> dict:
        reps = [self.make_inputs(spark, r) for r in range(SETUP_REPEATS)]
        inputs = reps[-1]
        self.setup["setup.input_gen_s"] = statistics.median(r["gen_s"] for r in reps)
        self.setup["session.load_tables_s"] = statistics.median(r["load_s"] for r in reps)
        rep_s = statistics.median(r["gen_s"] + r["load_s"] for r in reps)

        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.patch()
        ops = self.build_ops(spark, inputs)
        self.op_names = [op.name for op in ops]
        warm_s = self.check_pass(spark, ops)
        # the first drift control runs before the warm-up passes, so they
        # also absorb the JIT compilation it sets off
        self.calib.append(self.calibrate(spark, inputs["tables"]))
        warm_s += self.warm_up(spark, ops)
        self.setup["warm_s"] = warm_s
        self.setup["setup_s"] = self.setup["session.start_s"] + rep_s + warm_s

        pids = [os.getpid(), spark.sparkContext._jvm.ProcessHandle.current().pid()]
        for pid in pids:
            _reset_peak_rss(pid)
        self.timed_passes(spark, ops, inputs["tables"])
        self.peak_rss_mb = sum(_peak_rss_kb(pid) for pid in pids) / 1024
        self.calib.append(self.calibrate(spark, inputs["tables"]))
        if self.tracer:
            self.tracer.unpatch()
        self.stamp = stamp(self.args, self.sf, self.cpus, spark)
        return self.report()

    def report(self) -> dict:
        from layers import per_layer

        e2e = self.end_to_end()
        wall = self.wall()
        record = {
            "stamp": self.stamp,
            "ops": self.op_names,
            "setup": self.setup,
            "calib_q1_s": self.calib,
            "passes": self.passes,
            "attempted": self.attempted,
            "failed": self.failed,
            "wrong_results": self.wrong,
            "problems": self.problems,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "wall": wall,
            "samples": self.samples,
        }
        metrics = e2e
        if self.tracer:
            metrics = per_layer(self)
            record["per_layer"] = {k: v for k, (v, _) in metrics.items()}
        out_dir = self.args.out
        os.makedirs(out_dir, exist_ok=True)
        base = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
        with open(os.path.join(out_dir, base + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if self.tracer:
            self.tracer.dump(os.path.join(out_dir, base + ".spans.json"))
        for p in self.problems:
            print(f"problem: {p}", file=sys.stderr)
        print(
            f"{self.args.workload} seed={self.args.seed} sf={self.sf} cpus={self.cpus} "
            + " ".join(f"{k}={v}" for k, v in wall.items())
            + " | "
            + " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in metrics.items())
        )
        return {
            "correct": self.wrong == 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload not in DEFAULT_SF:
        print(f"unknown workload {args.workload!r}; choose from {sorted(DEFAULT_SF)}", file=sys.stderr)
        return 2
    for need in ("avro_sql_spark", "__spark_entry__.py", os.path.join("tools", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"{need} not found under {ROOT}: run from a checkout of the program", file=sys.stderr)
            return 2
    result = Run(args).main()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
