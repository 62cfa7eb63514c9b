"""Regenerate tests/plan_budgets.json: frozen physical-plan-shape budgets
(shuffle exchanges, sort-merge joins, cartesian products) for every BATCH
entry in ``queries()`` — the static guard that fails when an edit silently
adds a shuffle or degrades a broadcast join, before it costs anything at
scale.

Counting matches tests/test_plan_budgets.py exactly: cpus=4,
shuffle_partitions=4, sf0.001, clearCache before each entry, counts over
``executedPlan().toString()``. Exempt (never budgeted here): the
registry's ``NON_BATCH_ENTRIES``, whose cost is not a batch plan.

Iterative/checkpointed entries ALSO carry a listener-level runtime budget
(tools/gen_runtime_budgets.py) because localCheckpoint truncates the plan
this tool sees. Run deliberately when an intentional plan change lands:

    python tools/gen_plan_budgets.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from avro_sql_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"


def plan_metrics(plan: str) -> dict[str, int]:
    """Shared by the generator and tests/test_plan_budgets.py.

    ``global_windows`` counts Window nodes whose child chain reaches
    ``Exchange SinglePartition`` within the next few plan lines — the
    physical signature of ``Window.orderBy`` with no partitionBy, i.e.
    ALL rows sorted through one task. Every frozen nonzero count has
    been audited as a BOUNDED frame (global_rank's partitions-sized
    offset table, compaction_plan's file-metadata list, twopass_median's
    ≤buckets counter frame, Kaplan–Meier's distinct-time frame); a new
    unpartitioned window over data rows trips the cap before it ships.
    """
    import re

    lines = plan.splitlines()
    gw = 0
    for i, line in enumerate(lines):
        if re.search(r"\bWindow ", line):
            if "SinglePartition" in "\n".join(lines[i + 1 : i + 4]):
                gw += 1
    return {
        "cartesian": plan.count("CartesianProduct"),
        # a non-equi self-join is a BroadcastNestedLoopJoin, NOT a
        # CartesianProduct node — without this metric an all-pairs
        # O(n^2) plan reads as "cartesian: 0" (the r6 verdict's
        # embedding_near_dup finding); count the class explicitly
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "global_windows": gw,
        # repartition(n) with no key — the scan-spread exchange; kept
        # out of ``exchanges`` so that key's frozen values stay
        # comparable across rounds
        "roundrobin_exchanges": plan.count("Exchange RoundRobinPartitioning"),
    }
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_budgets.json",
)


def main() -> None:
    spark = get_spark("plan-budget-gen", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    budgets: dict[str, dict[str, int]] = {}
    for name, fn in queries.items():
        if name in entry_mod.NON_BATCH_ENTRIES:
            continue
        spark.catalog.clearCache()
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        budgets[name] = plan_metrics(plan)
        print(f"{name}: {budgets[name]}")
    with open(OUT, "w") as f:
        json.dump(dict(sorted(budgets.items())), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"\nwrote {len(budgets)} budgets to {OUT}; "
          f"exempt: {len(entry_mod.NON_BATCH_ENTRIES)}")


if __name__ == "__main__":
    main()
