"""Avro ⇄ Spark schema sidecar (reference O16/O17).

Spark's own avro support drops record names, namespaces, docs, defaults
and custom properties when converting to StructType — the reference
preserves all of them (AvroSchemaSql.scala:131-141 copyProperties,
:144,265 name/namespace/doc, :273-274,302 field doc/default). This
module keeps that metadata in ``StructField.metadata`` under the
``avro.*`` keys on the way in, and rebuilds a faithful Avro JSON schema
on the way out — usable for ``to_avro`` round-trips and schema-registry
publication without the spark-avro jar.

Logical types follow AvroUnpacker.scala:37-43,98-119 but map to NATIVE
Spark types instead of the reference's string formatting (documented
divergence, SURVEY.md §1.2): decimal→DecimalType, uuid→StringType,
date→DateType, time-millis→IntegerType(ms), timestamp-millis/micros→
TimestampType, local-timestamp-millis/micros→TimestampNTZType (as
spark-avro maps them). Union policy matches AvroSchemaSql.scala:40-47: only
``[null, T]`` (either order) or single-member unions; anything else
raises the reference's message.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NullType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..errors import AvroSqlError

_PRIMITIVES: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "bytes": BinaryType(),
    "string": StringType(),
    "null": NullType(),
}

_RESERVED = {"type", "name", "namespace", "doc", "fields", "symbols", "items", "values", "size", "logicalType", "precision", "scale", "aliases", "default"}


def _unwrap_union(branches: list[Any]) -> tuple[Any, bool]:
    """[null, T] / [T, null] / [T] → (T, nullable). Anything else is
    rejected exactly as the reference does (AvroSchemaSql.scala:45)."""
    if len(branches) == 1:
        return branches[0], False
    if len(branches) == 2 and "null" in branches:
        other = branches[0] if branches[1] == "null" else branches[1]
        if other != "null":
            return other, True
    raise AvroSqlError("Unions has one specific type and null")


def avro_to_spark_type(avro: Any) -> tuple[DataType, bool, dict]:
    """→ (DataType, nullable, metadata). Named types must be inline
    (no cross-reference resolution in v1)."""
    if isinstance(avro, list):
        inner, nullable = _unwrap_union(avro)
        dtype, _, meta = avro_to_spark_type(inner)
        return dtype, nullable, meta
    if isinstance(avro, str):
        if avro not in _PRIMITIVES:
            raise AvroSqlError(f"Invalid Avro schema type:{avro}")
        return _PRIMITIVES[avro], False, {}
    if not isinstance(avro, dict):
        raise AvroSqlError(f"Invalid Avro schema type:{avro!r}")

    t = avro["type"]
    logical = avro.get("logicalType")
    meta: dict = {}
    for k, v in avro.items():
        if k not in _RESERVED:
            meta[f"avro.prop.{k}"] = v
    if logical is not None:
        meta["avro.logicalType"] = logical

    if logical == "decimal":
        return DecimalType(avro["precision"], avro.get("scale", 0)), False, meta
    if logical == "uuid":
        return StringType(), False, meta
    if logical == "date" and t == "int":
        return DateType(), False, meta
    if logical == "time-millis" and t == "int":
        return IntegerType(), False, meta
    if logical in ("timestamp-millis", "timestamp-micros") and t == "long":
        return TimestampType(), False, meta
    if logical in ("local-timestamp-millis", "local-timestamp-micros") and t == "long":
        return TimestampNTZType(), False, meta
    if logical == "time-micros" and t == "long":
        return LongType(), False, meta

    if t == "record":
        fields = []
        for f in avro["fields"]:
            dtype, nullable, fmeta = avro_to_spark_type(f["type"])
            if "doc" in f:
                fmeta["avro.doc"] = f["doc"]
            if "default" in f:
                fmeta["avro.default"] = json.dumps(f["default"])
            if "aliases" in f:
                fmeta["avro.aliases"] = f["aliases"]
            fields.append(StructField(f["name"], dtype, nullable, metadata=fmeta))
        meta["avro.name"] = avro["name"]
        if "namespace" in avro:
            meta["avro.namespace"] = avro["namespace"]
        if "doc" in avro:
            meta["avro.doc"] = avro["doc"]
        return StructType(fields), False, meta
    if t == "array":
        edt, enull, emeta = avro_to_spark_type(avro["items"])
        if emeta:
            # element-level metadata (enum symbols, fixed size, record
            # names/props) survives as a JSON sidecar on the container
            meta["avro.items.meta"] = json.dumps(emeta)
        return ArrayType(edt, containsNull=enull), False, meta
    if t == "map":
        vdt, vnull, vmeta = avro_to_spark_type(avro["values"])
        if vmeta:
            meta["avro.values.meta"] = json.dumps(vmeta)
        return MapType(StringType(), vdt, valueContainsNull=vnull), False, meta
    if t == "enum":
        meta["avro.name"] = avro["name"]
        meta["avro.symbols"] = avro["symbols"]
        return StringType(), False, meta
    if t == "fixed":
        meta["avro.name"] = avro["name"]
        meta["avro.size"] = avro["size"]
        return BinaryType(), False, meta
    if isinstance(t, str) and t in _PRIMITIVES:
        return _PRIMITIVES[t], False, meta
    # nested type object (dict-wrapped type or inline union): recurse,
    # keeping the wrapper's own custom props/logical annotations
    dtype, nullable, inner = avro_to_spark_type(t)
    inner.update(meta)
    return dtype, nullable, inner


def avro_to_spark_schema(avro_json: str | dict) -> StructType:
    avro = json.loads(avro_json) if isinstance(avro_json, str) else avro_json
    dtype, _, meta = avro_to_spark_type(avro)
    if not isinstance(dtype, StructType):
        raise AvroSqlError("top-level Avro schema must be a record")
    # root metadata has nowhere to live on StructType; re-attachable via
    # spark_to_avro_schema(name=..., namespace=...)
    return dtype


def spark_to_avro_type(dtype: DataType, nullable: bool, meta: dict, name_hint: str) -> Any:
    logical = meta.get("avro.logicalType")
    if isinstance(dtype, DecimalType):
        base = {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dtype.precision,
            "scale": dtype.scale,
        }
    elif isinstance(dtype, DateType):
        base = {"type": "int", "logicalType": "date"}
    elif isinstance(dtype, TimestampType):
        base = {"type": "long", "logicalType": logical or "timestamp-micros"}
    elif isinstance(dtype, TimestampNTZType):
        base = {"type": "long", "logicalType": logical or "local-timestamp-micros"}
    elif isinstance(dtype, StringType) and logical == "uuid":
        base = {"type": "string", "logicalType": "uuid"}
    elif isinstance(dtype, StringType) and "avro.symbols" in meta:
        base = {
            "type": "enum",
            "name": meta.get("avro.name", f"{name_hint}_enum"),
            "symbols": meta["avro.symbols"],
        }
    elif isinstance(dtype, BinaryType) and "avro.size" in meta:
        base = {
            "type": "fixed",
            "name": meta.get("avro.name", f"{name_hint}_fixed"),
            "size": meta["avro.size"],
        }
    elif isinstance(dtype, StructType):
        base = _record_schema(dtype, meta.get("avro.name", name_hint), meta)
    elif isinstance(dtype, ArrayType):
        emeta = (
            json.loads(meta["avro.items.meta"]) if "avro.items.meta" in meta else {}
        )
        base = {
            "type": "array",
            "items": spark_to_avro_type(
                dtype.elementType, dtype.containsNull, emeta, f"{name_hint}_item"
            ),
        }
    elif isinstance(dtype, MapType):
        vmeta = (
            json.loads(meta["avro.values.meta"]) if "avro.values.meta" in meta else {}
        )
        base = {
            "type": "map",
            "values": spark_to_avro_type(
                dtype.valueType, dtype.valueContainsNull, vmeta, f"{name_hint}_value"
            ),
        }
    elif isinstance(dtype, IntegerType) and logical == "time-millis":
        base = {"type": "int", "logicalType": "time-millis"}
    elif isinstance(dtype, LongType) and logical == "time-micros":
        base = {"type": "long", "logicalType": "time-micros"}
    else:
        simple = {
            "boolean": "boolean",
            "integer": "int",
            "short": "int",
            "byte": "int",
            "long": "long",
            "float": "float",
            "double": "double",
            "binary": "bytes",
            "string": "string",
            "void": "null",
        }.get(dtype.typeName())
        if simple is None:
            raise AvroSqlError(f"Invalid Avro schema type:{dtype.simpleString()}")
        base = simple
    for k, v in meta.items():
        if k.startswith("avro.prop."):
            if isinstance(base, str):
                base = {"type": base}
            base[k[len("avro.prop.") :]] = v
    return ["null", base] if nullable else base


def _record_schema(schema: StructType, name: str, meta: dict) -> dict:
    rec: dict = {"type": "record", "name": name}
    if "avro.namespace" in meta:
        rec["namespace"] = meta["avro.namespace"]
    if "avro.doc" in meta:
        rec["doc"] = meta["avro.doc"]
    fields = []
    for f in schema.fields:
        fmeta = dict(f.metadata) if f.metadata else {}
        entry: dict = {
            "name": f.name,
            "type": spark_to_avro_type(f.dataType, f.nullable, fmeta, f.name),
        }
        if "avro.doc" in fmeta:
            entry["doc"] = fmeta["avro.doc"]
        if "avro.default" in fmeta:
            d = json.loads(fmeta["avro.default"])
            t_out = entry["type"]
            if d is not None and isinstance(t_out, list) and t_out[0] == "null":
                # Avro requires a union default to match the FIRST branch:
                # a non-null default flips the rebuilt union to [T, null]
                entry["type"] = t_out[1:] + ["null"]
            entry["default"] = d
        # no default injection for nullable fields without one: adding
        # "default": null changes schema-evolution semantics
        if "avro.aliases" in fmeta:
            entry["aliases"] = fmeta["avro.aliases"]
        fields.append(entry)
    rec["fields"] = fields
    return rec


def spark_to_avro_schema(
    schema: StructType,
    name: str = "topLevelRecord",
    namespace: str | None = None,
    doc: str | None = None,
    props: dict | None = None,
) -> dict:
    meta: dict = {"avro.name": name}
    if namespace:
        meta["avro.namespace"] = namespace
    if doc:
        meta["avro.doc"] = doc
    rec = _record_schema(schema, name, meta)
    for k, v in (props or {}).items():
        rec[k] = v
    return rec
