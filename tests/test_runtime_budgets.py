"""Runtime-stage regression guard for iterative/checkpointed entries.

The static plan-budget test (test_plan_budgets.py) reads the FINAL
physical plan, which localCheckpoint truncates — an iterative operator
could grow a per-round shuffle and the frozen 0-exchange budget would
never notice. This guard counts what actually RAN: each entry executes
end-to-end under a dedicated job group and the status tracker reports
every job/stage the group scheduled, checkpointed rounds included.
``shuffle_stages`` (distinct stages minus jobs, i.e. executed
shuffle-map stages) is the regression metric. Regenerate the budgets
deliberately with ``python tools/gen_runtime_budgets.py`` when an
intentional change lands.
"""

import json
import os

import pytest

import __spark_entry__ as entry_mod
from tools.gen_runtime_budgets import measure

BUDGETS = json.load(
    open(os.path.join(os.path.dirname(__file__), "runtime_stage_budgets.json"))
)


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_runtime_stages_within_budget(spark, name):
    # +4 slack, and one re-measure on failure: AQE materializes query
    # stages in a run-order-dependent way on tiny inputs (broadcast
    # decisions flip, exchanges get reused) — after hundreds of prior
    # queries in the same session a reading can sit a few stages above
    # the cold-session budget. A real per-round shuffle regression in
    # an iterative operator costs O(rounds) ~ 10+ extra stages on EVERY
    # run and still trips both measurements.
    cap = BUDGETS[name]["shuffle_stages"] + 4
    fn = entry_mod.queries()[name]
    got = measure(spark, name, fn, 1)
    if got["shuffle_stages"] > cap:
        got = measure(spark, name, fn, 2)
    assert got["shuffle_stages"] <= cap, (
        f"{name}: executed shuffle-map stages regressed {cap} -> "
        f"{got['shuffle_stages']} ({got['jobs']} jobs, {got['stages']} stages)"
    )
