"""Per-query bench regression gate: compare a fresh ``bench_full.json``
against the previous round's committed artifact and fail on any entry
that got more than REGRESSION_FACTOR slower than the MACHINE-DRIFT-
NORMALIZED baseline.

Normalization: the shared box these benches run on drifts in absolute
speed round-over-round (observed: the same commit measures anywhere
from 0.9x to ~2x its prior-round wall times, uniformly across
entries). A fixed per-entry threshold cannot tell that drift from a
real regression, so the gate first estimates the drift as the MEDIAN
ratio t_new/t_base over all common entries (>= MIN_BASE_SEC so
micro-entries' jitter doesn't vote), then flags entries slower than
drift * max(factor * t_base, t_base + slack). A uniform slowdown moves
the median and flags nothing; one entry regressing while the rest sit
at the median still trips. The drift estimate is printed so a large
value is visible in the committed output rather than silently
absorbed.

This is the runtime counterpart of tests/plan_budgets.json: the plan
budget catches a silently-added shuffle before it runs; this catches a
slowdown the plan shape can't see (a regressed UDF, a lost broadcast
that AQE used to recover, a cache that stopped helping).

Waivers: per-entry measurement noise on this box spans roughly
0.7x-1.3x AROUND the drift median on identical code (measured by
re-running flagged entries standalone), so a flagged entry is a
SCREEN, not a verdict. The protocol: re-measure the flagged entry
standalone on an idle box; if its standalone ratio is inside the
noise band, record it in ``bench_waivers.json`` with the measured
standalone ratio as evidence. Waivers are committed and auditable —
the gate subtracts them but prints them, so an abused waiver is
visible in review.

Usage:
    python tools/check_bench_regression.py [new_json] [baseline_json]

Defaults: bench_full.json vs the newest committed bench_full_r*.json
measured at the same ``(sf, cpus)``; maps from different configs are
refused.
tests/test_bench_regression.py runs the same comparison on the two
COMMITTED artifacts, so a regressed bench cannot be committed green.
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGRESSION_FACTOR = 1.5
ABS_SLACK_SEC = 1.0
MIN_BASE_SEC = 0.3


def speed_drift(new: dict[str, float], base: dict[str, float]) -> float:
    """Median t_new/t_base over common entries with a non-trivial
    baseline — the scalar machine-speed factor between the two runs."""
    ratios = sorted(
        new[k] / base[k]
        for k in new.keys() & base.keys()
        if base[k] >= MIN_BASE_SEC and new[k] > 0
    )
    if not ratios:
        return 1.0
    mid = len(ratios) // 2
    if len(ratios) % 2:
        return ratios[mid]
    return (ratios[mid - 1] + ratios[mid]) / 2.0


def find_regressions(
    new: dict[str, float], base: dict[str, float]
) -> list[tuple[str, float, float]]:
    """Entries slower than drift * max(factor * base, base + slack).
    Entries in only one map are skipped (new entries have no baseline;
    retired ones no current number)."""
    drift = speed_drift(new, base)
    out = []
    for name, t_new in sorted(new.items()):
        t_base = base.get(name)
        if t_base is None:
            continue
        cap = drift * max(
            REGRESSION_FACTOR * t_base, t_base + ABS_SLACK_SEC
        )
        if t_new > cap:
            out.append((name, t_base, t_new))
    return out


def config(doc: dict) -> tuple:
    """The ``(sf, cpus)`` a bench map was measured at: maps from
    different configs are never compared (a c8 map against a c32
    baseline reads as a uniform slowdown on one side and hides or
    invents regressions on the other)."""
    return doc.get("sf"), doc.get("cpus")


def latest_baseline(new: dict) -> str:
    """Newest committed ``bench_full_r*.json`` with the same ``(sf,
    cpus)`` as the bench document ``new`` — EXCLUDING any whose query
    map is identical to the map under test. Without the exclusion the
    gate has a freeze-ordering hole: the moment a new round's map is
    committed it becomes the newest baseline, the gate compares the map
    against itself, and any regression it carried is grandfathered
    (this happened to quality_calibration in r6). With it, the gate
    keeps judging a freshly-frozen map against the PRIOR round until a
    genuinely newer measurement exists. Raises when no such baseline
    exists: the gate never passes by finding nothing to compare."""
    for path in sorted(glob.glob(os.path.join(ROOT, "bench_full_r*.json")),
                       reverse=True):
        with open(path) as f:
            doc = json.load(f)
        if config(doc) == config(new) and doc["queries"] != new["queries"]:
            return path
    raise SystemExit(
        "no committed bench_full_r*.json baseline at sf=%s cpus=%s"
        % config(new)
    )


def load_waivers() -> dict[str, str]:
    path = os.path.join(ROOT, "bench_waivers.json")
    if not os.path.exists(path):
        return {}
    return json.load(open(path))


def main() -> int:
    new_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        ROOT, "bench_full.json"
    )
    new_doc = json.load(open(new_path))
    base_path = sys.argv[2] if len(sys.argv) > 2 else latest_baseline(new_doc)
    base_doc = json.load(open(base_path))
    if config(base_doc) != config(new_doc):
        raise SystemExit(
            f"refusing to compare sf/cpus {config(new_doc)} against "
            f"{config(base_doc)}"
        )
    new, base = new_doc["queries"], base_doc["queries"]
    drift = speed_drift(new, base)
    waivers = load_waivers()
    regs = [r for r in find_regressions(new, base) if r[0] not in waivers]
    for name in sorted(set(waivers) & {r[0] for r in find_regressions(new, base)}):
        print(f"WAIVED     {name}: {waivers[name]}")
    common = len(set(new) & set(base))
    for name, t_base, t_new in regs:
        print(
            f"REGRESSED  {name}: {t_base:.3f}s -> {t_new:.3f}s "
            f"({t_new / t_base:.2f}x raw, {t_new / t_base / drift:.2f}x "
            f"drift-adjusted)"
        )
    print(
        f"{len(regs)} regressions over {common} common entries "
        f"(machine drift {drift:.2f}x; "
        f"{os.path.basename(new_path)} vs {os.path.basename(base_path)}; "
        f"gate: drift-normalized >{REGRESSION_FACTOR}x and "
        f">+{ABS_SLACK_SEC}s)"
    )
    return 1 if regs else 0


if __name__ == "__main__":
    raise SystemExit(main())
