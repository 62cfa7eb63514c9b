"""The benchmark's four workloads and the check for each op.

An op is one unit a client waits for. ``build()`` is the construction
step (planning, and for iterative registry entries the jobs they run
while they are built); ``force(result)`` is the forced ``noop`` write.
``check(result)`` runs outside the timed window and returns a problem
string, or ``None`` when the output is right.

Every op list is a pure function of the seed and the generated data,
so the same seed gives the same ops. The seed varies the queries, the
schemas and the op order; the amount of work per pass is held fixed
(the same number of ops of each kind, schema sizes on a fixed ladder,
data that depends only on the scale factor), so timings from different
seeds stay comparable.
"""

from __future__ import annotations

import glob
import os
import random
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

WORKLOADS = ("reshape_nested", "reshape_compile", "pipeline_iterative", "pipeline_single_pass")

# Registry entries that run jobs while they are constructed (loop
# rounds, checkpoints, convergence collects). A subset: one pass of all
# eleven such entries takes about 35 s at sf0.001 on 4 cores, more than
# one benchmark run may spend.
ITERATIVE = ("copurchase_bfs", "label_communities")
# Registry entries whose jobs all run at the final write: TPC-H
# queries (per-job fixed cost) plus CPU-bound pair kernels. A subset
# again: all 22 TPC-H queries and six pair kernels take about 17 s a pass.
SINGLE_PASS = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_nation_year_profit",
    "q18_large_volume_customers",
    "jaccard_pairs_prefix",
    "embedding_near_dup_lsh",
)


@dataclass
class Op:
    name: str
    kind: str  # flatten | withstructure | compile | registry
    build: Callable[[], Any]
    force: Callable[[Any], None]
    check: Callable[[Any], "str | None"]
    query: str = ""
    # leaves the query references, for scan.prune_ratio (reshape ops only)
    ref_leaves: int = 0
    # input records per op when no scan counts them (compile: 1 schema)
    fixed_records: int = 0
    # input records one run of the op reads, measured in the check pass
    records: int = 0


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def leaf_count(dtype: DataType) -> int:
    """Leaves of a Spark type: a struct counts its fields' leaves, an
    array its element's, a map its key's plus its value's."""
    if isinstance(dtype, StructType):
        return sum(leaf_count(f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return leaf_count(dtype.elementType)
    if isinstance(dtype, MapType):
        return leaf_count(dtype.keyType) + leaf_count(dtype.valueType)
    return 1


# --------------------------------------------------------------------------
# expected output schemas, derived from the input schema independently of
# the planner (restricted to the query forms the generators emit)
# --------------------------------------------------------------------------


def _child(dtype: DataType, name: str) -> DataType:
    if isinstance(dtype, ArrayType):
        dtype = dtype.elementType
    return dtype[name].dataType


def expected_flatten(schema: StructType, items: list[tuple[tuple[str, ...], str]]) -> StructType:
    """``items`` are (source path, output name) pairs in output order."""
    out = []
    for path, name in items:
        dtype: DataType = schema
        for seg in path:
            dtype = _child(dtype, seg)
        out.append(StructField(name, dtype))
    return StructType(out)


def expected_withstructure(
    schema: StructType, items: list[tuple[tuple[str, ...], str]]
) -> StructType:
    """Structure-keeping projection of leaf paths: at every level the
    children appear in order of first mention, arrays of records stay
    arrays of the projected record, and only the leaf takes the alias.
    No path may be a prefix of another."""
    tree: dict = {}
    for path, name in items:
        node = tree
        for seg in path[:-1]:
            node = node.setdefault(seg, {})
        node[path[-1]] = name

    def build(dtype: StructType, node: dict) -> StructType:
        fields = []
        for seg, sub in node.items():
            src = dtype[seg].dataType
            if isinstance(sub, str):
                fields.append(StructField(sub, src))
            elif isinstance(src, ArrayType):
                fields.append(StructField(seg, ArrayType(build(src.elementType, sub))))
            else:
                fields.append(StructField(seg, build(src, sub)))
        return StructType(fields)

    return build(schema, tree)


def schema_problem(actual: StructType, expected: StructType) -> "str | None":
    if actual.simpleString() != expected.simpleString():
        return f"schema {actual.simpleString()} != expected {expected.simpleString()}"
    return None


# --------------------------------------------------------------------------
# reshape_nested: the dialect over nested parquet orders
# --------------------------------------------------------------------------

_FLAT_LEAVES = (
    ("orderkey",),
    ("status",),
    ("priority",),
    ("totalprice",),
    ("customer", "custkey"),
    ("customer", "name"),
    ("customer", "address", "nation"),
    ("customer", "address", "region"),
    ("customer", "account", "segment"),
    ("customer", "account", "balance"),
)
# leaves inside the lines array the withstructure forms pick from
_ITEM_LEAVES = (("lines", "item", "partkey"), ("lines", "item", "suppkey"))
_MONEY_LEAVES = tuple(("lines", "money", f) for f in ("quantity", "price", "discount", "tax"))
_SUBSTRUCTS = {
    ("customer", "address"): ("nation", "region"),
    ("customer", "account"): ("segment", "balance"),
}


def _dotted(path: tuple[str, ...]) -> str:
    return ".".join(path)


def nested_queries(rng: random.Random) -> list[tuple[str, str, list]]:
    """Eight queries, one of each form, as (form, query, items). Items
    are (path, output name) pairs; a ``None`` name marks a star whose
    expansion the item list already spells out. Forms 1-4 flatten,
    5-8 keep structure."""
    out = []
    # 1. flatten paths
    picked = rng.sample(_FLAT_LEAVES, 5)
    out.append(
        ("flatten_paths", "SELECT " + ", ".join(_dotted(p) for p in picked), [(p, p[-1]) for p in picked])
    )
    # 2. flatten with renames
    picked = rng.sample(_FLAT_LEAVES, 4)
    aliases = [f"r{i}_{p[-1]}" for i, p in enumerate(picked)]
    out.append(
        (
            "flatten_rename",
            "SELECT " + ", ".join(f"{_dotted(p)} AS {a}" for p, a in zip(picked, aliases)),
            list(zip(picked, aliases)),
        )
    )
    # 3. flatten nested star
    parent = rng.choice(sorted(_SUBSTRUCTS))
    lead = rng.choice(("orderkey", "totalprice", "status"))
    out.append(
        (
            "flatten_star",
            f"SELECT {lead}, {_dotted(parent)}.*",
            [((lead,), lead)] + [((*parent, f), f) for f in _SUBSTRUCTS[parent]],
        )
    )
    # 4. flatten star with exclusion: the explicit field is left out of
    # the star's expansion at the same path
    parent = rng.choice(sorted(_SUBSTRUCTS))
    excluded = rng.choice(_SUBSTRUCTS[parent])
    rest = [f for f in _SUBSTRUCTS[parent] if f != excluded]
    out.append(
        (
            "flatten_star_exclusion",
            f"SELECT {_dotted(parent)}.{excluded} AS x_{excluded}, {_dotted(parent)}.*, orderkey",
            [((*parent, excluded), f"x_{excluded}")]
            + [((*parent, f), f) for f in rest]
            + [(("orderkey",), "orderkey")],
        )
    )
    # 5. withstructure cherry-pick inside the lines array: one int64
    # leaf of item and one float64 leaf of money, so every seed reads the
    # same amount of the array (the array forms are most of a pass)
    picked = [rng.choice(_ITEM_LEAVES), rng.choice(_MONEY_LEAVES)]
    rng.shuffle(picked)
    items = [(("orderkey",), "orderkey")] + [(p, p[-1]) for p in picked]
    out.append(
        (
            "ws_array_pick",
            "SELECT " + ", ".join(_dotted(p) for p, _ in items) + " FROM orders withstructure",
            items,
        )
    )
    # 6. withstructure rename of a money leaf inside the array plus the
    # item star (fixed for the same reason as form 5)
    leaf = rng.choice(_MONEY_LEAVES)
    star = "item"
    out.append(
        (
            "ws_array_star",
            f"SELECT orderkey, {_dotted(leaf)} AS y_{leaf[-1]}, lines.{star}.* FROM orders withstructure",
            [(("orderkey",), "orderkey"), (leaf, f"y_{leaf[-1]}"), (("lines", star), None)],
        )
    )
    # 7. withstructure map key select and rename
    keys = rng.sample(("channel", "clerk", "gift", "ship_mode", "terms"), 2)
    out.append(
        (
            "ws_map_keys",
            f"SELECT orderkey, attrs.{keys[0]} AS k_{keys[0]}, attrs.{keys[1]} FROM orders withstructure",
            [(("orderkey",), "orderkey"), (("attrs",), None)],
        )
    )
    # 8. withstructure cherry-pick in the customer struct
    picked = rng.sample(_FLAT_LEAVES[4:], 2)
    items = [(p, f"z_{p[-1]}") for p in picked] + [(("priority",), "priority")]
    out.append(
        (
            "ws_struct_pick",
            "SELECT "
            + ", ".join(f"{_dotted(p)} AS {a}" if len(p) > 1 else _dotted(p) for p, a in items)
            + " FROM orders withstructure",
            items,
        )
    )
    return out


def _duck_path(path: tuple[str, ...]) -> str:
    expr = f'"{path[0]}"'
    for seg in path[1:]:
        expr = f"struct_extract({expr}, '{seg}')"
    return expr


def _ws_expected(schema: StructType, items: list) -> StructType:
    """Expected schema of the forms-5..8 items: a ``None`` name keeps
    the whole source field at that path (a nested star, or a map whose
    keys are selected)."""
    leafy = []
    for path, name in items:
        leafy.append((path, name if name is not None else path[-1]))
    return expected_withstructure(schema, leafy)


def reshape_nested_ops(rng: random.Random, spark, nested_dir: str, duck) -> list[Op]:
    from avro_sql_spark import reshape

    from check import frames_problem

    files = sorted(glob.glob(os.path.join(nested_dir, "*.parquet")))
    source = f"read_parquet({files!r})"
    schema = spark.read.parquet(nested_dir).schema
    ops = []
    for i, (form, query, items) in enumerate(nested_queries(rng)):
        def build(q=query):
            return reshape(spark.read.parquet(nested_dir), q)

        if form.startswith("flatten"):
            expected = expected_flatten(schema, items)
            sql = "SELECT " + ", ".join(f'{_duck_path(p)} AS "{n}"' for p, n in items) + f" FROM {source}"

            def check(df, sql=sql, expected=expected):
                return schema_problem(df.schema, expected) or frames_problem(
                    df.toPandas(), duck.execute(sql).df(), ordered_columns=True
                )
        else:
            expected = _ws_expected(schema, items)

            def check(df, expected=expected):
                noop_write(df)
                return schema_problem(df.schema, expected)

        ops.append(
            Op(
                name=f"{form}#{i}",
                kind="flatten" if form.startswith("flatten") else "withstructure",
                build=build,
                force=noop_write,
                check=check,
                query=query,
                ref_leaves=leaf_count(expected),
            )
        )
    return ops


# --------------------------------------------------------------------------
# reshape_compile: Avro schema -> Spark schema -> reshape_schema -> Avro
# --------------------------------------------------------------------------

_PRIMITIVES = ("int", "long", "double", "float", "string", "boolean")
# leaf counts of the generated schemas: a fixed ladder, so every seed
# compiles the same amount of schema
COMPILE_LEAVES = tuple(range(30, 91, 10))


class _SchemaGen:
    """Avro record schemas on the leaf-count ladder. The shape of a
    schema (which fields are records, arrays of records or maps, and how
    large each is) is fixed by its leaf count, so every seed compiles the
    same amount of schema; the seed draws the primitive types and which
    fields are nullable. Shapes drawn per seed moved the cost of an op of
    the same size by up to 1.8x between seeds."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.n_records = 0

    def _prim(self):
        t = self.rng.choice(_PRIMITIVES)
        return ["null", t] if self.rng.random() < 0.3 else t

    def _record(self, shape: random.Random, n_leaves: int, depth: int) -> tuple[dict, int]:
        self.n_records += 1
        fields = []
        used = 0
        while used < n_leaves:
            name = f"f{len(fields)}"
            left = n_leaves - used
            roll = shape.random()
            if depth < 3 and left >= 4 and roll < 0.2:
                sub, k = self._record(shape, shape.randint(2, min(6, left - 1)), depth + 1)
                ftype = ["null", sub] if self.rng.random() < 0.3 else sub
            elif depth < 3 and left >= 4 and roll < 0.35:
                sub, k = self._record(shape, shape.randint(2, min(5, left - 1)), depth + 1)
                ftype = {"type": "array", "items": sub}
            elif left >= 2 and roll < 0.45:
                ftype, k = {"type": "map", "values": self.rng.choice(_PRIMITIVES)}, 2
            else:
                ftype, k = self._prim(), 1
            fields.append({"name": name, "type": ftype})
            used += k
        return {"type": "record", "name": f"R{self.n_records}", "fields": fields}, used

    def schema(self, n_leaves: int) -> dict:
        rec, _ = self._record(random.Random(n_leaves), n_leaves, 0)
        rec["namespace"] = "perfbench"
        return rec


def _paths(dtype: StructType, prefix=(), in_array=False):
    """(path, kind, under_array) for every primitive leaf and map field."""
    for f in dtype.fields:
        p = (*prefix, f.name)
        t = f.dataType
        if isinstance(t, StructType):
            yield from _paths(t, p, in_array)
        elif isinstance(t, ArrayType) and isinstance(t.elementType, StructType):
            yield from _paths(t.elementType, p, True)
        elif isinstance(t, MapType):
            yield p, "map", in_array
        else:
            yield p, "leaf", in_array


def compile_queries(rng: random.Random, schema: StructType) -> list[tuple[str, str, list]]:
    """One flatten and one withstructure query over ``schema``. Valid by
    construction: flatten picks only primitive leaves reached through
    records (it rejects map and array leaves and array traversal);
    withstructure picks leaves through records and arrays of records,
    or whole maps, with no path a prefix of another."""
    paths = list(_paths(schema))
    flat = [p for p, kind, arr in paths if kind == "leaf" and not arr]
    ws = [p for p, kind, arr in paths]
    out = []
    pick = rng.sample(flat, min(len(flat), max(3, len(flat) // 3)))
    items = [(p, f"c{i}_{p[-1]}") for i, p in enumerate(pick)]
    out.append(
        ("flatten", "SELECT " + ", ".join(f"{_dotted(p)} AS {a}" for p, a in items), items)
    )
    pick = rng.sample(ws, min(len(ws), max(3, len(ws) // 3)))
    items = [(p, f"w{i}_{p[-1]}") for i, p in enumerate(pick)]
    out.append(
        (
            "withstructure",
            "SELECT " + ", ".join(f"{_dotted(p)} AS {a}" for p, a in items) + " withstructure",
            items,
        )
    )
    return out


def reshape_compile_ops(rng: random.Random, spark) -> list[Op]:
    from avro_sql_spark import reshape_schema
    from avro_sql_spark.sources.avro_schema import avro_to_spark_schema, spark_to_avro_schema

    gen = _SchemaGen(rng)
    sizes = list(COMPILE_LEAVES)
    rng.shuffle(sizes)
    ops = []
    for n_leaves in sizes:
        avro = gen.schema(n_leaves)
        in_schema = avro_to_spark_schema(avro)
        for form, query, items in compile_queries(rng, in_schema):
            expected = (expected_flatten if form == "flatten" else expected_withstructure)(in_schema, items)

            def build(avro=avro, q=query):
                out = reshape_schema(spark, avro_to_spark_schema(avro), q)
                return out, spark_to_avro_schema(out, name="Reshaped", namespace="perfbench")

            def check(result, expected=expected):
                out, out_avro = result
                back = avro_to_spark_schema(out_avro)
                if back.simpleString() != out.simpleString():
                    return f"avro round trip {back.simpleString()} != {out.simpleString()}"
                return schema_problem(out, expected)

            ops.append(
                Op(
                    name=f"compile_{form}_{n_leaves}#{len(ops)}",
                    kind="compile",
                    build=build,
                    force=lambda result: None,
                    check=check,
                    query=query,
                    fixed_records=1,
                )
            )
    return ops


# --------------------------------------------------------------------------
# pipeline workloads: registry entries checked against oracle_sql()
# --------------------------------------------------------------------------


def registry_ops(names: tuple, spark, sf_dir: str, duck, rng: random.Random) -> list[Op]:
    import __spark_entry__ as entry_mod

    from check import frames_problem

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    order = list(names)
    rng.shuffle(order)
    ops = []
    for name in order:
        fn = queries[name]

        def check(df, name=name):
            got = df.toPandas()
            if name not in oracles:
                return None if len(got) > 0 else "no rows"
            return frames_problem(got, duck.execute(oracles[name]).df())

        ops.append(
            Op(
                name=name,
                kind="registry",
                build=lambda fn=fn: fn(spark, sf_dir),
                force=noop_write,
                check=check,
            )
        )
    return ops
