"""The registry is the only entry index: ``queries()`` plus the committed
budget files decide what is benched and budgeted. A new batch entry
without a plan budget, or a non-batch name that left the registry,
fails here.
"""

import ast
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


def _is_literal(node):
    try:
        ast.literal_eval(node)
    except ValueError:
        return False
    return True


def _bindable(fn):
    """True when ``fn`` is a pure thin wrapper that ``_bind`` can express:
    an optional docstring and imports, ``t = load_tables(...)``, then
    ``return op(t["a"], ..., literal, ..., key=literal)`` with at least
    one table, every table ahead of every literal."""
    body = [s for s in fn.body if not isinstance(s, (ast.Import, ast.ImportFrom))]
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    if len(body) != 2:
        return False
    load, ret = body
    if not (
        isinstance(load, ast.Assign)
        and isinstance(load.targets[0], ast.Name)
        and isinstance(load.value, ast.Call)
        and isinstance(load.value.func, ast.Name)
        and load.value.func.id == "load_tables"
    ):
        return False
    call = ret.value if isinstance(ret, ast.Return) else None
    if not isinstance(call, ast.Call):
        return False
    op = call.func
    if isinstance(op, ast.Attribute):
        op = op.value
    if not isinstance(op, ast.Name):
        return False
    tables = load.targets[0].id

    def is_table(node):
        return (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Name)
            and node.value.id == tables
            and isinstance(node.slice, ast.Constant)
        )

    n = 0
    while n < len(call.args) and is_table(call.args[n]):
        n += 1
    return (
        n > 0
        and all(_is_literal(a) for a in call.args[n:])
        and all(k.arg is not None and _is_literal(k.value) for k in call.keywords)
    )


def test_no_entry_is_a_bindable_wrapper():
    """An entry that only loads tables and calls one operator with them
    and literals is a ``_bind`` row, not a function (README, registry)."""
    with open(entry_mod.__file__) as f:
        tree = ast.parse(f.read())
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    wrappers = sorted(
        name
        for name, fn in entry_mod.queries().items()
        if getattr(fn, "__module__", None) == entry_mod.__name__
        and fn.__name__ in defs
        and _bindable(defs[fn.__name__])
    )
    assert wrappers == [], f"{len(wrappers)} entries can be _bind rows: {wrappers}"
