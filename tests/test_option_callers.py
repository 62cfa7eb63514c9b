"""Every operator option has a program caller.

An operator or function parameter with a default is a configuration.
If no call in the program ever sets it, the bench and the oracle never
run that configuration, so it belongs in the body as a constant. A
test that sets it checks only a value the program never uses, so calls
in tests do not count.

The scan is plain ``ast`` (no Spark). It covers the defaulted parameters
of top-level functions in ``avro_sql_spark/operators/`` and
``avro_sql_spark/functions/``. A parameter counts as set by a keyword or
a positional argument in any call in the repository outside a ``tests/``
directory, or by a ``_bind(op, tables, **kwargs)`` registry row (the
tables are passed positionally, the kwargs by keyword). Calls are
matched by function name only, so a name collision counts as set.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPTION_DIRS = ("avro_sql_spark/operators", "avro_sql_spark/functions")


def _sources():
    for base, dirs, files in os.walk(ROOT):
        # hidden directories hold git state and run outputs, not callers
        dirs[:] = sorted(d for d in dirs if not d.startswith(".") and d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                yield os.path.relpath(path, ROOT), ast.parse(open(path).read())


def _callee(node):
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def defaulted_options():
    """``{(module path, function, parameter): positional index or None}``
    for every defaulted parameter of a top-level operator function
    (None marks a keyword-only parameter)."""
    out = {}
    for rel, tree in _sources():
        if not rel.startswith(OPTION_DIRS):
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, p in enumerate(pos[first:], first):
                out[(rel, fn.name, p.arg)] = i
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out[(rel, fn.name, p.arg)] = None
    return out


def _is_test(rel):
    return "tests" in rel.split(os.sep)[:-1]


def set_by_calls():
    """``{function name: (max positional args, keyword names)}`` over
    every call outside the tests, ``_bind`` rows included."""
    seen = {}

    def note(name, npos, keys):
        n, k = seen.get(name, (0, set()))
        seen[name] = (max(n, npos), k | keys)

    for rel, tree in _sources():
        if _is_test(rel):
            continue
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            keys = {k.arg for k in node.keywords if k.arg is not None}
            name = _callee(node.func)
            if name == "_bind" and node.args:
                tables = node.args[1] if len(node.args) > 1 else None
                npos = len(tables.elts) if isinstance(tables, ast.Tuple) else 1
                op = _callee(node.args[0])
                if op:
                    note(op, npos, keys)
            elif name:
                note(name, len(node.args), keys)
    return seen


def unset_options():
    calls = set_by_calls()
    unset = []
    for (rel, fn, param), index in sorted(defaulted_options().items()):
        npos, keys = calls.get(fn, (0, set()))
        if param not in keys and (index is None or index >= npos):
            unset.append(f"{rel}:{fn}({param})")
    return unset


def test_every_option_is_set_by_some_call():
    assert defaulted_options(), "the scan found no operator options"
    assert unset_options() == []
