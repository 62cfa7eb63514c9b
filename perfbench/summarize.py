"""Where a workload's time goes, from the benchmark's traced records.

    python3 perfbench/summarize.py [RECORD_DIR]

Reads every ``<workload>-seed<n>-trace1.json`` under RECORD_DIR
(default ``.perfbench_out``) and prints, per workload and seed, the
mean pass's op time split by layer, in seconds and as shares:

* ``plans``: self time of the planner (``plans.fields.parse``,
  ``plan_flatten``, ``plan_withstructure``);
* ``reshape``: self time of ``reshape`` / ``reshape_schema`` (DataFrame
  creation) less Catalyst analysis;
* ``avro_schema``: self time of the Avro <-> Spark schema converters;
* ``construction``: the rest of the build step: operator code, the jobs
  it runs while building, reading input;
* ``catalyst``: analysis, optimization and planning;
* ``exec``: the final ``noop`` write less optimization and planning.

The split is approximate where Spark's phases nest inside a span.
When the untraced record of the same workload and seed is present, the
gap in ``wall_s`` is printed as the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

LAYERS = ("plans", "reshape", "avro_schema", "construction", "catalyst", "exec")
_NAME = re.compile(r"(?P<workload>.+)-seed(?P<seed>-?\d+)-trace(?P<trace>[01])\.json$")


def sample_layers(sample: dict) -> dict[str, float]:
    """Seconds per layer of one op sample; they add up to its op time."""
    own = sample["self"]
    cat = {k: v / 1000 for k, v in sample["catalyst"].items()}
    plans = sum(v for k, v in own.items() if k.startswith("plans."))
    avro = sum(v for k, v in own.items() if k.startswith("avro_schema."))
    reshape_self = sum(v for k, v in own.items() if k.startswith("reshape."))
    build_rest = sample["construct_s"] - plans - avro - reshape_self
    # analysis runs while the frame is built: inside reshape() for the
    # reshape ops, inside the operator's own code otherwise
    if reshape_self > 0:
        analysis = min(cat["analysis"], reshape_self)
        reshape_self -= analysis
    else:
        analysis = min(cat["analysis"], max(build_rest, 0.0))
        build_rest -= analysis
    late = min(cat["optimization"] + cat["planning"], sample["write_s"])
    return {
        "plans": plans,
        "reshape": reshape_self,
        "avro_schema": avro,
        "construction": max(build_rest, 0.0),
        "catalyst": analysis + late,
        "exec": sample["write_s"] - late,
    }


def pass_layers(record: dict) -> dict[str, float]:
    """Seconds per layer in one pass: totals over the samples divided by
    the number of timed passes."""
    n = max(len(record["passes"]), 1)
    out = dict.fromkeys(LAYERS, 0.0)
    for s in record["samples"]:
        for k, v in sample_layers(s).items():
            out[k] += v / n
    return out


def load(record_dir: str) -> dict[tuple[str, int, int], dict]:
    out = {}
    for path in sorted(glob.glob(os.path.join(record_dir, "*.json"))):
        m = _NAME.match(os.path.basename(path))
        if m:
            with open(path) as f:
                out[(m["workload"], int(m["seed"]), int(m["trace"]))] = json.load(f)
    return out


def report(records: dict) -> list[str]:
    lines = []
    for (wl, seed, trace), rec in sorted(records.items()):
        if trace != 1:
            continue
        wall = rec["wall"]["wall_s"]
        layers = pass_layers(rec)
        total = sum(layers.values())
        st = rec["stamp"]
        lines.append(
            f"{wl} seed={seed} sf={st['sf']} cpus={st['cpus']} passes={len(rec['passes'])} "
            f"wall_s={wall:.3f} (traced median pass), mean pass {total:.3f} s:"
        )
        for name in LAYERS:
            lines.append(f"  {name:<13}{layers[name]:9.3f} s  {layers[name] / total:6.1%}")
        plain = records.get((wl, seed, 0))
        if plain:
            base = plain["wall"]["wall_s"]
            lines.append(
                f"  tracing overhead: {wall - base:+.3f} s ({(wall - base) / base:+.1%}) "
                f"over untraced wall_s={base:.3f}"
            )
        else:
            lines.append("  tracing overhead: no untraced record of this seed")
    return lines


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    record_dir = argv[0] if argv else ".perfbench_out"
    lines = report(load(record_dir))
    if not lines:
        print(f"no traced records under {record_dir}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
