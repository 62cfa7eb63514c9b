"""Plan-shape regression guard: every batch entry's physical plan is
budgeted (shuffle exchanges, round-robin spread exchanges, sort-merge
joins, cartesian products) from a reviewed snapshot — an edit that
silently adds a shuffle or degrades a broadcast join to SMJ fails here
before it costs anything at scale. Covers every entry outside
``__spark_entry__.NON_BATCH_ENTRIES`` (tests/test_entry_index.py pins
that). Regenerate tests/plan_budgets.json
deliberately when a plan change is intentional:
``python tools/gen_plan_budgets.py``.
"""

import json
import os

import pytest

import __spark_entry__ as entry_mod
from tools.gen_plan_budgets import plan_metrics

SF = "/root/testdata/sf0.001"
BUDGETS = json.load(
    open(os.path.join(os.path.dirname(__file__), "plan_budgets.json"))
)


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_headline_plan_within_budget(spark, name):
    # a materialized .cache() from an earlier query collapses the plan
    # below it into InMemoryTableScan, hiding exchanges — clear so the
    # budget is measured against the cold plan, same as the generator
    spark.catalog.clearCache()
    df = entry_mod.queries()[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    got = plan_metrics(plan)
    budget = BUDGETS[name]
    for metric, cap in budget.items():
        assert got[metric] <= cap, (
            f"{name}: {metric} regressed {cap} -> {got[metric]}"
        )
