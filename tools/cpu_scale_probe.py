"""Core-count scaling probe at sf1 (VERDICT r8 item 7).

The sf0.1 suite is driver/job-overhead-bound, so the driver's c8-vs-c32
comparison cannot distinguish "parallelizes at scale" from
"overhead-bound" (r8 ratios clustered at ~1). This probe times the slow
tier on the 10x key-shifted probe data (built by tools/scale_probe.py,
same generator) at local[32] and local[8]; ratio >> 1 means executor
compute dominates and parallelizes, ~1 means the entry is still
overhead-bound at sf1.

Usage:
    python tools/cpu_scale_probe.py [entry ...]

Timing is bench.py's methodology (``bench.time_entries``). Defaults to
the slowest 20 of the committed bench_full.json. Writes
bench_cpu_probe_r09.json (merge semantics like scale_probe).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.scale_probe import build_probe_data  # noqa: E402


def main() -> None:
    dst = os.environ.get("SPARK_GRAFT_PROBE_DIR", "/tmp/sfprobe10")
    if sys.argv[1:]:
        names = sys.argv[1:]
    else:
        full = json.load(open(os.path.join(ROOT, "bench_full.json")))
        names = [
            n
            for n, _ in sorted(
                full["queries"].items(), key=lambda kv: -kv[1]
            )[:20]
        ]
    if not os.path.exists(os.path.join(dst, "lineitem.parquet")):
        print(f"building 10x probe data at {dst}", flush=True)
        build_probe_data("/root/testdata/sf0.1", dst)

    from avro_sql_spark.session import get_spark
    from bench import time_entries

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    results: dict[str, dict] = {n: {} for n in names}
    for cpus in (32, 8):
        spark = get_spark(f"cpu-probe-{cpus}", cpus=cpus, shuffle_partitions=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        for name in names:
            t = time_entries(spark, queries, [name], dst)[name]
            results[name][f"c{cpus}_sec"] = t
            print(f"c{cpus} {name}: {t:.2f}s", flush=True)
        spark.stop()
    for name, row in results.items():
        if row.get("c32_sec") and row.get("c8_sec"):
            row["ratio_c8_over_c32"] = round(row["c8_sec"] / row["c32_sec"], 3)
    out_path = os.path.join(ROOT, "bench_cpu_probe_r09.json")
    merged = results
    if os.path.exists(out_path):
        prior = json.load(open(out_path)).get("entries", {})
        merged = {**prior, **results}
    with open(out_path, "w") as f:
        json.dump(
            {
                "note": (
                    "slow-tier entries timed on the 10x key-shifted probe "
                    "data (tools/scale_probe.py generator) at local[32] "
                    "vs local[8], shuffle.partitions = core count, "
                    "noop sink, bench.time_entries (min of 2 passes "
                    "after a warmup at the probe scale). "
                    "ratio_c8_over_c32 ~4 = compute-bound and "
                    "parallelizing; ~1 = still overhead-bound at sf1."
                ),
                "entries": merged,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(json.dumps({"cpu_probe_entries": len(merged)}))


if __name__ == "__main__":
    main()
