"""Scale probe: measure how the slowest entries actually scale with
data volume, turning the plan-shape argument ("edge-linear", "bounded
frame") into a measured exponent.

The driver testdata stops at sf0.1, so the probe builds a synthetic
sf1.0-equivalent under ``$SPARK_GRAFT_PROBE_DIR`` (default
/tmp/sfprobe10) by unioning ``FACTOR`` copies of every sf0.1 table with
each replica's keys shifted into a disjoint range (orderkey, partkey,
suppkey, custkey, event/user/doc/vec ids all offset by i*OFFSET; dims
region/nation copied once). That preserves every join relationship and
gives FACTOR disjoint copies of the copurchase graph / user universe —
the right shape for probing shuffle- and frontier-bound entries.

Caveat recorded in the output: ``documents.text`` is replicated
verbatim, so dedup-family entries see an inflated duplicate rate (every
doc gains FACTOR-1 exact twins). For those entries the probe measures
the duplicate-heavy worst case, which upper-bounds the honest cost.

Usage:
    python tools/scale_probe.py [entry ...]

Each scale is timed with bench.py's methodology (``bench.time_entries``:
warmup, then min of 2 passes, caches and pinned RDDs dropped outside
the timed window). Defaults to the slowest-10 of the committed
bench_full.json. MERGES
into bench_scale_probe.json (re-probing an entry overwrites its row;
entries not named are preserved): per-entry sf0.1 time, sf1.0 time,
ratio, and the log-log scaling exponent alpha (t ~ data^alpha;
alpha <= ~1.1 is linear within noise, 0 is fixed-overhead-bound).

Entries in SMALL_BASIS (the deliberate O(n^2) exact baselines) are
probed one decade DOWN — sf0.01 -> sf0.1, also a 10x step — because
at alpha ~= 2 the sf1.0 run would take ~100x the sf0.1 time (hours);
their rows carry a ``basis`` field saying so.
"""

from __future__ import annotations

import json
import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FACTOR = 10
OFFSET = 100_000_000

# key columns shifted per replica (disjoint key ranges, joins preserved)
SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONCE = ["region", "nation"]

# deliberate O(n^2) exact baselines: probed one decade DOWN
# (sf0.01 -> sf0.1, still a 10x step) because their sf1.0 leg would
# take ~100x the sf0.1 time by construction — the honest alpha~2 is
# the point of the measurement, not a surprise to spend hours on
SMALL_BASIS = {
    "embedding_near_dup": (
        "probed sf0.01->sf0.1: exact all-pairs cosine baseline "
        "(BroadcastNestedLoopJoin, alpha~2 BY DESIGN); the headline "
        "scale path is embedding_near_dup_lsh"
    ),
}


def build_probe_data(src: str, dst: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    for t in COPY_ONCE:
        pq.write_table(
            pq.read_table(f"{src}/{t}.parquet"), f"{dst}/{t}.parquet"
        )
    for t, keys in SHIFTS.items():
        base = pq.read_table(f"{src}/{t}.parquet")
        chunks = []
        for i in range(FACTOR):
            rep = base
            for k in keys:
                idx = rep.schema.get_field_index(k)
                col = rep.column(k)
                shifted = pa.compute.add(
                    pa.compute.cast(col, pa.int64()), i * OFFSET
                ).cast(rep.schema.field(k).type)
                rep = rep.set_column(idx, rep.schema.field(k), shifted)
            chunks.append(rep)
        out = pa.concat_tables(chunks)
        pq.write_table(out, f"{dst}/{t}.parquet", row_group_size=1 << 20)
        print(f"  {t}: {base.num_rows} -> {out.num_rows} rows", flush=True)


def main() -> None:
    src = "/root/testdata/sf0.1"
    dst = os.environ.get("SPARK_GRAFT_PROBE_DIR", "/tmp/sfprobe10")
    if sys.argv[1:]:
        names = sys.argv[1:]
    else:
        full = json.load(open(os.path.join(ROOT, "bench_full.json")))
        names = [
            n
            for n, _ in sorted(
                full["queries"].items(), key=lambda kv: -kv[1]
            )[:10]
        ]
    if not os.path.exists(os.path.join(dst, "lineitem.parquet")):
        print(f"building {FACTOR}x probe data at {dst}", flush=True)
        build_probe_data(src, dst)

    from avro_sql_spark.session import get_spark
    from bench import time_entries

    import __spark_entry__ as entry_mod

    spark = get_spark("scale-probe", cpus=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    results = {}
    for name in names:
        if name in SMALL_BASIS:
            lo, hi = "/root/testdata/sf0.01", src
            keys = ("sf0.01_sec", "sf0.1_sec")
        else:
            lo, hi = src, dst
            keys = ("sf0.1_sec", "sf1.0_sec")
        t_small = time_entries(spark, queries, [name], lo)[name]
        t_big = time_entries(spark, queries, [name], hi)[name]
        ratio = round(t_big / t_small, 3) if t_small > 0 else None
        alpha = (
            round(math.log(t_big / t_small) / math.log(FACTOR), 3)
            if t_small > 0 and t_big > 0
            else None
        )
        results[name] = {
            keys[0]: t_small,
            keys[1]: t_big,
            "ratio": ratio,
            "alpha": alpha,
        }
        if name in SMALL_BASIS:
            results[name]["basis"] = SMALL_BASIS[name]
        print(
            f"{name}: {t_small:.2f}s -> {t_big:.2f}s "
            f"(x{ratio}, alpha={alpha})",
            flush=True,
        )
    out_path = os.path.join(ROOT, "bench_scale_probe.json")
    merged = results
    if os.path.exists(out_path):
        prior = json.load(open(out_path)).get("entries", {})
        merged = {**prior, **results}
    out = {
        "factor": FACTOR,
        "note": (
            "sf1.0 data = 10 disjoint key-shifted copies of sf0.1 "
            "(joins/graphs preserved; documents.text replicated verbatim, "
            "so dedup-family entries measure the duplicate-heavy worst "
            "case). alpha = log(t_ratio)/log(10): ~1 linear, <1 "
            "overhead-bound, >1 super-linear. Entries with a 'basis' "
            "field are probed sf0.01 -> sf0.1 instead (the deliberate "
            "quadratic exact baselines, where the sf1.0 leg would take "
            "hours by construction)."
        ),
        "entries": merged,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"probe_entries": len(merged)}))


if __name__ == "__main__":
    main()
