"""Planner output as Spark SQL text: the emitter's quoting, the plans it
builds, and the JVM round trips one reshape costs.

The first group needs no Spark. The quoting tests with Spark run each
query under both settings of ``spark.sql.parser.escapedStringLiterals``,
since the strings are parsed by whatever session applies them.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from avro_sql_spark import reshape, reshape_schema
from avro_sql_spark.plans import parse, plan_flatten, plan_withstructure
from avro_sql_spark.plans import sqltext as sql
from tests.conftest import PERSON_SCHEMA, PIZZA_SCHEMA

# --------------------------------------------------------------------------
# emitter (no Spark)
# --------------------------------------------------------------------------


def test_ident_quotes_backtick_dot_space_and_non_ascii():
    assert sql.ident("a`b") == "`a``b`"
    assert sql.ident("a.b") == "`a.b`"
    assert sql.ident("a b") == "`a b`"
    assert sql.ident("größe") == "`größe`"


def test_string_is_a_literal_only_without_quote_or_backslash():
    assert sql.string("gift") == "'gift'"
    assert sql.string("größe") == "'größe'"
    # a backslash can't be spelled the same under both settings of
    # spark.sql.parser.escapedStringLiterals: UTF-8 bytes instead
    assert sql.string("o'k") == "CAST(X'6F276B' AS STRING)"
    assert sql.string("a\\b") == "CAST(X'615C62' AS STRING)"
    assert sql.string("é'") == "CAST(X'C3A927' AS STRING)"


def test_field_uses_dereference_for_quote_and_backslash_names():
    assert sql.field("`a`", "b") == "`a`['b']"
    assert sql.field("`a`['b']", "x'y") == "`a`['b'].`x'y`"
    assert sql.field("__e1", "p\\q") == "__e1.`p\\q`"


def _text(plan):
    return [c.sql for c in plan]


def test_flatten_plan_text():
    fields, _ = parse("SELECT name, address.street.name AS sn")
    assert _text(plan_flatten(PERSON_SCHEMA, fields)) == [
        "`name` AS `name`",
        "`address`['street']['name'] AS `sn`",
    ]


def test_withstructure_plan_text_and_null_guard():
    fields, _ = parse("SELECT address.street2.name AS s2 withstructure")
    assert _text(plan_withstructure(PERSON_SCHEMA, fields)) == [
        "struct(CASE WHEN `address`['street2'] IS NOT NULL"
        " THEN struct(`address`['street2']['name'] AS `s2`) END AS `street2`) AS `address`"
    ]


def test_lambda_names_are_fresh_per_plan():
    fields, _ = parse("SELECT name, ingredients.name AS n FROM t withstructure")
    want = [
        "`name` AS `name`",
        "transform(`ingredients`, __e1 -> struct(__e1['name'] AS `n`)) AS `ingredients`",
    ]
    assert _text(plan_withstructure(PIZZA_SCHEMA, fields)) == want
    assert _text(plan_withstructure(PIZZA_SCHEMA, fields)) == want


def test_map_plan_text():
    schema = StructType([StructField("m", MapType(StringType(), IntegerType()))])
    fields, _ = parse("SELECT m.a AS x, m.b withstructure")
    assert _text(plan_withstructure(schema, fields)) == [
        "map_from_entries(transform("
        "filter(map_entries(`m`), __e1 -> __e1['key'] IN ('a', 'b')), "
        "__e2 -> struct(CASE WHEN __e2['key'] = 'a' THEN 'x' ELSE __e2['key'] END AS `key`, "
        "__e2['value'] AS `value`))) AS `m`"
    ]


# --------------------------------------------------------------------------
# quoting under Spark
# --------------------------------------------------------------------------


@pytest.fixture(params=["false", "true"])
def escaped_literals(request, spark):
    """Run the test with spark.sql.parser.escapedStringLiterals set to
    the parameter, restoring the session's setting afterwards."""
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.set(key, before)


ODD = StructType(
    [
        StructField("a`b", IntegerType()),
        StructField(
            "c.d",
            StructType(
                [
                    StructField("e f", StringType()),
                    StructField("größe", IntegerType()),
                    StructField(
                        "in",
                        StructType([StructField("x'y", IntegerType()), StructField("p\\q", IntegerType())]),
                    ),
                ]
            ),
        ),
        StructField("x'y", StructType([StructField("p\\q", IntegerType())])),
        StructField("arr", ArrayType(StructType([StructField("né", IntegerType()), StructField("z", IntegerType())]))),
    ]
)
ODD_ROW = (1, ("s", 2, (3, 4)), (5,), [(6, 7)])


def test_odd_identifiers_flatten(spark, escaped_literals):
    # flatten rejects array leaves, and the top-level star would reach one
    df = spark.createDataFrame([ODD_ROW], ODD).drop("arr")
    out = reshape(df, "SELECT `c.d`.`e f` AS `v w`, `c.d`.in.*, `x'y`.`p\\q` AS pq, `c.d`.`größe`, *")
    assert out.columns == ["v w", "x'y", "p\\q", "pq", "größe", "a`b", "c.d", "x'y_1"]
    assert tuple(out.collect()[0])[:6] == ("s", 3, 4, 5, 2, 1)


def test_odd_identifiers_withstructure(spark, escaped_literals):
    df = spark.createDataFrame([ODD_ROW], ODD)
    out = reshape(
        df, "SELECT `c.d`.`größe` AS `g h`, `c.d`.in.`p\\q`, arr.`né` AS `n'e` FROM t withstructure"
    )
    assert out.schema.simpleString() == (
        "struct<c.d:struct<g h:int,in:struct<p\\q:int>>,arr:array<struct<n'e:int>>>"
    )
    assert out.collect()[0].asDict(recursive=True) == {
        "c.d": {"g h": 2, "in": {"p\\q": 4}},
        "arr": [{"n'e": 6}],
    }


MAPS = StructType(
    [
        StructField("id", IntegerType()),
        StructField("m", MapType(StringType(), IntegerType())),
        StructField("mm", MapType(StringType(), StructType([StructField("v", IntegerType()), StructField("w", IntegerType())]))),
    ]
)
MAP_ROW = (
    1,
    {"o'k": 1, "a\\b": 2, "plain": 3},
    {"o'k": (1, 2), "a\\b": (3, 4), "plain": (5, 6)},
)


def test_map_keys_with_quote_and_backslash(spark, escaped_literals):
    df = spark.createDataFrame([MAP_ROW], MAPS)
    out = reshape(
        df, "SELECT id, `m`.`o'k` AS `x\\y`, `m`.`a\\b`, mm.`o'k`.v, mm.`a\\b`.v FROM t withstructure"
    )
    got = out.collect()[0].asDict(recursive=True)
    assert got == {
        "id": 1,
        "m": {"x\\y": 1, "a\\b": 2},
        "mm": {"o'k": {"v": 1}, "a\\b": {"v": 3}},
    }


# --------------------------------------------------------------------------
# JVM round trips per reshape
# --------------------------------------------------------------------------


def _atoms(prefix: str, n: int) -> list[StructField]:
    return [StructField(f"{prefix}{i}", IntegerType()) for i in range(n)]


def _leaves(dtype) -> int:
    if isinstance(dtype, StructType):
        return sum(_leaves(f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return _leaves(dtype.elementType)
    if isinstance(dtype, MapType):
        return _leaves(dtype.keyType) + _leaves(dtype.valueType)
    return 1


def _wide_schema() -> StructType:
    """A fixed 90-leaf schema: top-level atoms, records, arrays of
    records, maps, and a record holding a record, an array and a map."""
    fields = _atoms("f", 22)
    fields += [StructField(f"r{i}", StructType(_atoms("x", 6))) for i in range(5)]
    fields += [StructField(f"a{i}", ArrayType(StructType(_atoms("y", 5)))) for i in range(4)]
    fields += [StructField(f"m{i}", MapType(StringType(), IntegerType())) for i in range(5)]
    inner = [
        StructField("s", StructType(_atoms("z", 4))),
        StructField("arr", ArrayType(StructType(_atoms("w", 2)))),
        StructField("m", MapType(StringType(), IntegerType())),
    ]
    fields.append(StructField("n", StructType(inner)))
    return StructType(fields)


WIDE_QUERIES = {
    "flatten": "SELECT "
    + ", ".join([f"f{i}" for i in range(0, 22, 2)] + [f"r{i}.x{i} AS rx{i}" for i in range(5)] + ["n.s.*"]),
    "withstructure": "SELECT "
    + ", ".join(
        [f"f{i}" for i in range(0, 22, 3)]
        + [f"r{i}.x{i}" for i in range(5)]
        + [f"a{i}.y{i} AS ay" for i in range(4)]
        + ["m0.k AS kk", "m1.*", "m2", "n.s.z1", "n.arr.w0", "n.m.q"]
    )
    + " withstructure",
}


def py4j_calls(spark, monkeypatch, fn):
    """``(number of py4j calls fn() makes on this thread, its result)``."""
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command
    me = threading.get_ident()

    def counted(*args, **kwargs):
        # py4j's finalizer thread sends object-release messages for
        # proxies freed at any earlier point; those are not this call's
        if threading.get_ident() == me:
            calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    return len(calls), out


@pytest.mark.parametrize("mode", sorted(WIDE_QUERIES))
def test_reshape_round_trips_per_output_column(spark, monkeypatch, mode):
    """py4j calls made by one ``reshape()`` stay within the top-level
    output columns plus a fixed few: planning crosses into the JVM
    nowhere, the select once per column (columns + 7 at present)."""
    schema = _wide_schema()
    assert _leaves(schema) == 90
    df = spark.createDataFrame([], schema)
    n_calls, out = py4j_calls(spark, monkeypatch, lambda: reshape(df, WIDE_QUERIES[mode]))
    n_cols = len(out.columns)
    assert n_cols >= 10
    assert n_calls <= n_cols + 10, (n_calls, n_cols)


@pytest.mark.parametrize("mode", sorted(WIDE_QUERIES))
def test_reshape_schema_makes_no_jvm_call(spark, monkeypatch, mode):
    """The planner types what it emits, so the schema alone needs no
    JVM, and it is the schema Catalyst gives the reshaped frame."""
    schema = _wide_schema()
    n_calls, out = py4j_calls(
        spark, monkeypatch, lambda: reshape_schema(spark, schema, WIDE_QUERIES[mode])
    )
    assert n_calls == 0
    assert out == reshape(spark.createDataFrame([], schema), WIDE_QUERIES[mode]).schema
