"""Every operator option takes two different values in the program.

An operator or function parameter with a default is a configuration.
It earns its place only when two program calls need different values:
if every call passes the same value (or omits it, which passes the
default), the bench and the oracle run one configuration only, so the
value belongs in the body as a constant. A test that sets another value
checks a configuration the program never uses, so calls in tests do
not count.

The scan is plain ``ast`` (no Spark). It covers the defaulted parameters
of top-level functions in ``avro_sql_spark/operators/`` and
``avro_sql_spark/functions/``. Every call in the repository outside a
``tests/`` directory gives each such parameter one value, and so does a
``_bind(op, tables, **kwargs)`` registry row (the tables are passed
positionally, the kwargs by keyword). A call that omits the parameter
gives its default, a literal argument gives its ``ast.literal_eval``
value, and any other expression (a name, ``k=k``, ``*args``/``**kw``)
counts as unknown, which keeps the option. Calls are matched by
function name only, so a name collision adds that call's values.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPTION_DIRS = ("avro_sql_spark/operators", "avro_sql_spark/functions")
UNKNOWN = object()


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


def _value(node):
    """A hashable stand-in for what an argument expression passes."""
    try:
        return ("literal", repr(ast.literal_eval(node)))
    except ValueError:
        return UNKNOWN


def defaulted_options():
    """``{(module path, function, parameter): (positional index or None,
    default value)}`` for every defaulted parameter of a top-level
    operator function (None marks a keyword-only parameter)."""
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
            for i, (p, d) in enumerate(zip(pos[first:], a.defaults), first):
                out[(rel, fn.name, p.arg)] = (i, _value(d))
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    out[(rel, fn.name, p.arg)] = (None, _value(d))
    return out


def _is_test(rel):
    return "tests" in rel.split(os.sep)[:-1]


def program_calls():
    """``{function name: [(positional args, {keyword: arg})]}`` over
    every call outside the tests, ``_bind`` rows included. A ``*args``
    or ``**kw`` call is recorded with ``None`` for its arguments."""
    calls = {}
    for rel, tree in _sources():
        if _is_test(rel):
            continue
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _callee(node.func)
            args, kwargs = node.args, node.keywords
            if name == "_bind" and args:
                tables = args[1] if len(args) > 1 else None
                n = len(tables.elts) if isinstance(tables, ast.Tuple) else 1
                name, args = _callee(args[0]), [None] * n
            if not name:
                continue
            starred = any(isinstance(a, ast.Starred) for a in args)
            if starred or any(k.arg is None for k in kwargs):
                calls.setdefault(name, []).append(None)
            else:
                calls.setdefault(name, []).append((args, {k.arg: k.value for k in kwargs}))
    return calls


def option_values():
    """``{"module:function(parameter)": set of values}`` from the
    program's calls; ``UNKNOWN`` in a set marks a non-literal value."""
    calls = program_calls()
    out = {}
    for (rel, fn, param), (index, default) in sorted(defaulted_options().items()):
        values = set()
        for call in calls.get(fn, ()):
            if call is None:
                values.add(UNKNOWN)
                continue
            args, kwargs = call
            if param in kwargs:
                values.add(_value(kwargs[param]))
            elif index is not None and index < len(args):
                values.add(UNKNOWN if args[index] is None else _value(args[index]))
            else:
                values.add(default)
        out[f"{rel}:{fn}({param})"] = values
    return out


def single_valued_options():
    return [k for k, v in option_values().items() if UNKNOWN not in v and len(v) < 2]


def test_every_option_takes_two_program_values():
    assert option_values(), "the scan found no operator options"
    assert single_valued_options() == []
