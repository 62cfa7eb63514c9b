"""Map projection tests (O12) — the reference implements map key
selection/rename and value projection (AvroSql.scala:246-278) but never
tests it; FIXTURES.md suggests this fixture shape."""

import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from avro_sql_spark import AvroSqlError, reshape, reshape_schema
from tests.conftest import row0


@pytest.fixture(scope="module")
def mapped(spark):
    schema = StructType(
        [
            StructField("name", StringType(), False),
            StructField(
                "attrs",
                MapType(
                    StringType(),
                    StructType([StructField("v", DoubleType(), False), StructField("w", DoubleType(), False)]),
                    False,
                ),
                False,
            ),
        ]
    )
    rows = [("thing", {"a": (1.0, 10.0), "b": (2.0, 20.0), "c": (3.0, 30.0)})]
    return spark.createDataFrame(rows, schema)


def test_map_key_selection(mapped):
    out = reshape(mapped, "SELECT name, attrs.a, attrs.c FROM t withstructure")
    r = row0(out)
    assert set(r[1].keys()) == {"a", "c"}


def test_map_key_rename(mapped):
    out = reshape(mapped, "SELECT attrs.a as alpha, attrs.b as beta FROM t withstructure")
    r = row0(out)
    assert set(r[0].keys()) == {"alpha", "beta"}
    assert tuple(r[0]["alpha"]) == (1.0, 10.0)


def test_map_absent_key_skipped(mapped):
    out = reshape(mapped, "SELECT attrs.a, attrs.zzz FROM t withstructure")
    r = row0(out)
    assert set(r[0].keys()) == {"a"}  # absent key silently skipped


def test_map_passthrough(mapped):
    out = reshape(mapped, "SELECT name, attrs FROM t withstructure")
    r = row0(out)
    assert set(r[1].keys()) == {"a", "b", "c"}


def test_map_value_projection(mapped):
    # deeper path: attrs.a.v keeps key 'a' and projects v inside its
    # value (first segment after a map is a KEY, AvroSql.scala:253-268)
    out = reshape(mapped, "SELECT attrs.a.v FROM t withstructure")
    r = row0(out)
    assert set(r[0].keys()) == {"a"}
    assert tuple(r[0]["a"]) == (1.0,)
    vtype = out.schema["attrs"].dataType.valueType
    assert [f.name for f in vtype.fields] == ["v"]


def test_map_flatten_guard(mapped):
    with pytest.raises(AvroSqlError, match="Can't flatten"):
        reshape(mapped, "SELECT attrs")  # map leaf in flatten mode


# values of b: projections of different fields can't share one map
# value type. x1: its key projections differ only in null flags.
UNIFY_SCHEMA = StructType(
    [
        StructField(
            "b",
            MapType(StringType(), StructType([StructField("d", IntegerType()), StructField("e", LongType())])),
        ),
        StructField(
            "x1",
            MapType(
                StringType(),
                StructType(
                    [
                        StructField(
                            "a",
                            MapType(
                                StringType(),
                                StructType(
                                    [
                                        StructField("p", IntegerType(), False),
                                        StructField("q", StringType(), True, {"avro.doc": "q"}),
                                    ]
                                ),
                                False,
                            ),
                            False,
                        )
                    ]
                ),
                False,
            ),
            False,
        ),
        StructField("n", MapType(IntegerType(), IntegerType())),
    ]
)


@pytest.mark.parametrize(
    "query",
    [
        "SELECT b.k1.d, b.k2.e FROM t withstructure",
        # the same field name is not enough: int vs bigint
        "SELECT b.k1.d AS z, b.k2.e AS z FROM t withstructure",
    ],
)
def test_map_key_projections_of_other_types_raise(spark, query):
    """Catalyst can't type the per-key CASE over these values; the
    planner says which map, for the frame and for the schema alone."""
    df = spark.createDataFrame([], UNIFY_SCHEMA)
    with pytest.raises(AvroSqlError, match="in map b: .* must keep one type"):
        reshape(df, query)
    with pytest.raises(AvroSqlError, match="in map b: "):
        reshape_schema(spark, UNIFY_SCHEMA, query)


def test_map_key_projections_merge_null_flags(spark):
    """Per-key value types that differ only in null flags are one type,
    with the flags OR-ed, as Catalyst merges CASE branches."""
    df = spark.createDataFrame([], UNIFY_SCHEMA)
    q = "SELECT x1.k1.a.k1 AS z7, x1.k2.a.k1.* FROM t withstructure"
    out = reshape(df, q).schema
    assert out == reshape_schema(spark, UNIFY_SCHEMA, q)
    inner = out["x1"].dataType.valueType["a"].dataType
    assert inner.valueContainsNull  # k1's map holds no nulls, k2's may
    assert not inner.valueType["p"].nullable


def test_map_keys_must_be_strings(spark):
    df = spark.createDataFrame([], UNIFY_SCHEMA)
    with pytest.raises(AvroSqlError, match="keys of map n: its keys are int"):
        reshape(df, "SELECT n.a FROM t withstructure")
    # a whole non-string-keyed map passes through
    assert reshape(df, "SELECT n FROM t withstructure").schema == StructType([UNIFY_SCHEMA["n"]])
