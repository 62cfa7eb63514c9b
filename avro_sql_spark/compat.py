"""Host-embedding compat layer: the reference's calling convention
(``record.sql("SELECT ...")`` on one Avro record at a time,
AvroSql.scala:43-65) adapted to batches.

A reference user migrating a Kafka Connect SMT or similar host calls
:class:`AvroSqlProcessor` once per query; it parses and plans ONCE
against the Avro schema (the reference re-derives per record) and then
reshapes arbitrarily many record batches. Records are plain dicts
(Avro JSON-encoding shaped — logical-type values arrive as their
underlying ints/longs/strings and are converted to native Spark values
by the shared codec bridge); the output schema is available as both a
Spark StructType and an Avro JSON schema via the sidecar.
"""

from __future__ import annotations

import json
from typing import Sequence

from pyspark.sql import SparkSession

from .plans.fields import parse
from .reshape import apply_plan, empty_frame, plan_fields
from .sources.avro_io import _avro_to_spark_value, resolve_names
from .sources.avro_schema import avro_to_spark_schema, spark_to_avro_schema

# root attributes with dedicated slots in the rebuilt schema; everything
# else is a custom property forwarded verbatim (reference O16
# copyProperties, AvroSchemaSql.scala:131-141)
_ROOT_RESERVED = {"type", "name", "namespace", "doc", "fields", "aliases"}


class AvroSqlProcessor:
    """Parse/plan once, reshape many — entry point 3 of the reference
    (AvroSql.scala:86-103) with the schema work AND the plan hoisted out
    of the per-batch path (``apply`` is a bare ``df.selectExpr`` on the
    pre-built SQL expressions)."""

    def __init__(self, spark: SparkSession, avro_schema: str | dict, query: str):
        self.spark = spark
        # named-type references (a field reusing a record by name) are
        # inlined once, for the schema conversion and the value codec
        self.avro_schema = resolve_names(
            json.loads(avro_schema) if isinstance(avro_schema, str) else avro_schema
        )
        self.in_schema = avro_to_spark_schema(self.avro_schema)
        self.fields, ws = parse(query)
        self.flatten = not ws
        # plan once: the SQL strings are schema-bound, not frame- or
        # session-bound, so the same plan serves every batch
        self._plan = plan_fields(self.in_schema, self.fields, self.flatten)
        # derive the output schema with no data (reference O3)
        self.out_schema = apply_plan(empty_frame(spark, self.in_schema), self._plan).schema

    def out_avro_schema(self) -> dict:
        """Avro JSON schema of the output, carrying the input's
        name/namespace/doc AND custom root properties (reference O16)."""
        props = {k: v for k, v in self.avro_schema.items() if k not in _ROOT_RESERVED}
        return spark_to_avro_schema(
            self.out_schema,
            name=self.avro_schema.get("name", "topLevelRecord"),
            namespace=self.avro_schema.get("namespace"),
            doc=self.avro_schema.get("doc"),
            props=props or None,
        )

    def apply(self, records: Sequence[dict]) -> list[dict]:
        """Reshape a batch of records (null in → null out, as
        AvroSql.scala:68). Values convert through the shared Avro→Spark
        codec bridge, so logical types (date/timestamp/decimal) and
        bytes fields work, not just primitives."""
        live = [r for r in records if r is not None]
        if not live:
            return [None] * len(records)
        rows = [
            _avro_to_spark_value(r, self.in_schema, self.avro_schema) for r in live
        ]
        df = self.spark.createDataFrame(rows, self.in_schema)
        out = apply_plan(df, self._plan)
        reshaped = iter([row.asDict(recursive=True) for row in out.collect()])
        return [None if r is None else next(reshaped) for r in records]
