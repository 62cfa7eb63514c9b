"""The registry is the only entry index: ``queries()`` plus the committed
budget files decide what is benched and budgeted. A new batch entry
without a plan budget, or a non-batch name that left the registry,
fails here.
"""

import json
import os

import __spark_entry__ as entry_mod
import bench

PLAN_BUDGETS = json.load(
    open(os.path.join(os.path.dirname(__file__), "plan_budgets.json"))
)


def test_non_batch_entries_are_registered():
    assert entry_mod.NON_BATCH_ENTRIES <= set(entry_mod.queries())


def test_every_batch_entry_has_a_plan_budget():
    batch = set(entry_mod.queries()) - entry_mod.NON_BATCH_ENTRIES
    assert set(PLAN_BUDGETS) == batch


def test_headline_is_the_budgeted_set_minus_the_oracle_baseline():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert set(bench.HEADLINE) == set(PLAN_BUDGETS) - {bench.ORACLE_BASELINE}
