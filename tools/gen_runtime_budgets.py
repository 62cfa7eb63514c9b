"""Generate tests/runtime_stage_budgets.json: LISTENER-LEVEL stage
budgets for the iterative/checkpointed entries whose static plan
budgets are blind (localCheckpoint truncates the visible plan to an
ExistingRDD scan, freezing tests/plan_budgets.json at 0 exchanges).

Counting runs each entry END-TO-END (construction + noop write) under
a dedicated Spark job group and reads the status tracker afterwards:
every stage the entry scheduled is attributed to the group, including
every per-round job an iterative operator ran behind a checkpoint —
runtime stages cannot be hidden by lineage truncation. The budgeted
metric is ``shuffle_stages = distinct stages - jobs`` (each job has
exactly one result stage; the remainder are shuffle-map stages, i.e.
real exchanges executed), plus the raw job/stage counts for context.

Budgets are environment-shape-dependent (cpus=4, shuffle_partitions=4,
sf0.001 — identical to tests/conftest.py), so regenerate deliberately
with ``python tools/gen_runtime_budgets.py`` when an intentional plan
change lands. Each entry is measured twice and the max is kept (AQE
may fold a stage between runs; the budget is an upper bound).

The budgeted entries are the keys already committed in that file: the
iterative/checkpointed entries that run jobs eagerly at construction
behind localCheckpoint / collect bounds. To budget a new one, add its
key (any value) and regenerate.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avro_sql_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "runtime_stage_budgets.json",
)


def measure(spark, name: str, fn, run: int) -> dict[str, int]:
    sc = spark.sparkContext
    spark.catalog.clearCache()
    group = f"budget-{name}-{run}"
    sc.setJobGroup(group, name)
    try:
        fn(spark, SF).write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup("budget-idle", "budget-idle")
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "shuffle_stages": max(0, len(stages) - len(jobs)),
    }


def main() -> None:
    spark = get_spark("runtime-budgets", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    with open(OUT) as f:
        names = sorted(json.load(f))
    budgets: dict[str, dict[str, int]] = {}
    for name in names:
        runs = [measure(spark, name, queries[name], r) for r in (1, 2)]
        budgets[name] = {
            k: max(r[k] for r in runs) for k in ("jobs", "stages", "shuffle_stages")
        }
        print(name, budgets[name], flush=True)
    with open(OUT, "w") as f:
        json.dump(budgets, f, indent=1, sort_keys=True)
    print("wrote", OUT)


if __name__ == "__main__":
    main()
