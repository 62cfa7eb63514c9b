"""Compare benchmark results against a baseline, or freeze a baseline.

    python3 perfbench/compare.py [--base perfbench/baseline.json] RECORD...
    python3 perfbench/compare.py --freeze OUT.json RECORD...

RECORDs are the untraced run records (``.perfbench_out/*-trace0.json``).
Records are grouped by workload; each end-to-end metric's median over
the seeds is compared with the baseline's median. Results are only
comparable at the same scale factor and the same CPU count: the
comparison refuses (exit code 2) when ``(sf, cpus)`` differ between the
baseline and a record, or between two records of one workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_BASE = os.path.join(HERE, "baseline.json")
STAMP_KEYS = ("sf", "cpus", "nproc", "spark", "java", "python", "git_sha")


class ConfigMismatch(ValueError):
    pass


def config(stamp: dict) -> tuple:
    return (stamp["sf"], stamp["cpus"])


def summarize(records: list[dict]) -> dict:
    """Per workload: its stamp (``sf``, ``cpus`` and versions), seeds and
    the median of each end-to-end metric over them."""
    groups: dict[str, list[dict]] = {}
    for rec in records:
        if rec["stamp"]["trace"]:
            continue
        groups.setdefault(rec["stamp"]["workload"], []).append(rec)
    out = {}
    for wl, recs in sorted(groups.items()):
        configs = {config(r["stamp"]) for r in recs}
        if len(configs) > 1:
            raise ConfigMismatch(f"{wl}: records mix (sf, cpus) {sorted(configs)}")
        names = recs[0]["end_to_end"]
        out[wl] = {
            "stamp": {k: recs[0]["stamp"][k] for k in STAMP_KEYS},
            "seeds": sorted(r["stamp"]["seed"] for r in recs),
            "correct": all(r["failed"] == 0 and r["wrong_results"] == 0 for r in recs),
            "metrics": {m: statistics.median(r["end_to_end"][m] for r in recs) for m in names},
        }
    return out


def compare(base: dict, new: dict) -> list[str]:
    """One line per workload and metric: baseline median, new median and
    their ratio. Refuses workloads whose ``(sf, cpus)`` differ."""
    lines = []
    for wl, cur in new.items():
        if wl not in base:
            lines.append(f"{wl}: not in the baseline")
            continue
        ref = base[wl]
        if config(ref["stamp"]) != config(cur["stamp"]):
            raise ConfigMismatch(
                f"{wl}: baseline (sf, cpus) = {config(ref['stamp'])}, "
                f"results {config(cur['stamp'])}; not comparable"
            )
        for m, v in cur["metrics"].items():
            b = ref["metrics"].get(m)
            ratio = f"{v / b:.3f}x" if b else "n/a"
            lines.append(f"{wl} {m}: base={b} new={v:.6g} ratio={ratio}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("records", nargs="+")
    p.add_argument("--base", default=DEFAULT_BASE)
    p.add_argument("--freeze", metavar="OUT", help="write the records' medians as a baseline")
    args = p.parse_args(argv)
    records = []
    for path in args.records:
        with open(path) as f:
            records.append(json.load(f))
    try:
        new = summarize(records)
        if args.freeze:
            with open(args.freeze, "w") as f:
                json.dump(new, f, indent=1, sort_keys=True)
                f.write("\n")
            return 0
        with open(args.base) as f:
            base = json.load(f)
        print("\n".join(compare(base, new)))
    except ConfigMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
