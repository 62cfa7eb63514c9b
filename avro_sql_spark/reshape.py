"""Public reshape API — the Spark-native equivalent of the reference's
``record.sql("SELECT ...")`` extension method (AvroSql.scala:43-65).

The unit of data is a DataFrame instead of a single Avro record: the
query is parsed and planned ONCE, in pure Python, to one Spark SQL
expression string per output column, and applied with a single
``df.selectExpr`` — batch or streaming (the projection is stateless, so
the same plan works unchanged under Structured Streaming). Catalyst
parses the strings into the same expression trees the ``Column`` API
would build, at one JVM call per output column instead of one per
expression node. The plan also carries the field Catalyst gives each
column, so the output schema alone (``reshape_schema``) needs no JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .errors import AvroSqlError
from .plans.fields import Field, parse
from .plans.flatten import plan_flatten
from .plans.structure import plan_withstructure
from .plans.typed import PlanColumn


def reshape(df: DataFrame, query: str) -> DataFrame:
    """Apply a reshape-dialect query (``SELECT`` projection list, optional
    trailing ``withstructure``) to ``df``. Entry point 1 of the reference
    (AvroSql.scala:44-65)."""
    fields, withstructure = parse(query)
    return reshape_fields(df, fields, flatten=not withstructure)


def plan_fields(schema: StructType, fields: list[Field], flatten: bool = True) -> list[PlanColumn] | None:
    """Plan ``fields`` over ``schema``: the SQL select list with each
    column's field, or ``None`` for identity. Needs no session, so a plan
    can be kept and applied to any frame of this schema."""
    return plan_flatten(schema, fields) if flatten else plan_withstructure(schema, fields)


def plan_schema(schema: StructType, plan: list[PlanColumn] | None) -> StructType:
    """The schema of ``plan`` applied to a frame of ``schema``."""
    return schema if plan is None else StructType([c.field for c in plan])


def apply_plan(df: DataFrame, plan: list[PlanColumn] | None) -> DataFrame:
    return df if plan is None else df.selectExpr(*(c.sql for c in plan))


def reshape_fields(df: DataFrame, fields: list[Field], flatten: bool = True) -> DataFrame:
    """Pre-parsed entry point (reference entry point 3,
    AvroSql.scala:86-103): the host caches the projection list and
    dispatches many frames through one parse."""
    return apply_plan(df, plan_fields(df.schema, fields, flatten))


def reshape_container(df: DataFrame, query: str) -> DataFrame:
    """Primitive-container mode (reference ``NonRecordContainer``,
    AvroSql.scala:70,108-111): a single-column DataFrame carrying a bare
    value. Only ``SELECT *`` is legal; selecting fields from a primitive
    raises, as does flattening an array/map root
    (AvroSchemaSql.scala:113-114, AvroSql.scala:106-131)."""
    fields, withstructure = parse(query)
    if len(df.columns) != 1:
        raise AvroSqlError("Container mode requires a single-column DataFrame")
    if len(fields) == 1 and fields[0].is_star and not fields[0].has_parents:
        return df
    dtype = df.schema.fields[0].dataType
    if isinstance(dtype, StructType):
        raise AvroSqlError("Can't select multiple fields from a value container")
    if not withstructure and dtype.typeName() in ("array", "map"):
        raise AvroSqlError(f"Can't flattent schema type:{dtype.typeName().upper()}")
    raise AvroSqlError(
        f"Can't select specific fields from primitive avro record:{dtype.simpleString()}"
    )


def reshape_schema(spark: SparkSession, schema: StructType, query: str) -> StructType:
    """Schema-only transform (reference O3, ``Schema.copy``,
    AvroSchemaSql.scala:77-85): derive the output schema without any
    data. The planner types every column it emits as Catalyst would, so
    this makes no JVM call; ``spark`` is unused and kept for callers."""
    fields, withstructure = parse(query)
    return plan_schema(schema, plan_fields(schema, fields, flatten=not withstructure))
