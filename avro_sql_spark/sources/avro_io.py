"""Pure-Python Avro Object Container File reader/writer — the jar-less
fallback that makes the reference's native format (its entire domain is
Avro records, AvroSql.scala) round-trippable in environments without
the spark-avro jar or any avro pip package.

Implements the public Avro 1.11 spec: zigzag-varint ints/longs,
little-endian float/double, length-prefixed bytes/string, block-encoded
arrays/maps, index-prefixed unions, records as field concatenation;
container framing = ``Obj\\x01`` magic + metadata map (avro.schema /
avro.codec) + 16-byte sync marker + (count, byte-size, payload, sync)
blocks. Codecs: ``null`` and ``deflate`` (raw RFC-1951 via zlib).

Scale note: this fallback DECODES ON THE DRIVER (read → createDataFrame
with the sidecar-converted schema) and encodes from ``toLocalIterator``
— it is the development/small-data path and the schema-fidelity test
bed. On a cluster with real volumes, install the spark-avro jar and
``read_table(fmt="avro")`` uses the distributed datasource instead;
the sidecar schema layer (avro_schema.py) is shared by both paths.

Unions follow the engine-wide policy (AvroSchemaSql.scala:40-47): only
``[null, T]`` / ``[T, null]`` / ``[T]``. Named-type references (e.g.
Person's reused ``"Street"`` record, FIXTURES.md §F2) are resolved by
inlining before schema conversion.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from datetime import date, datetime, timedelta
from decimal import Decimal
from typing import Any, BinaryIO, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    DateType,
    DecimalType,
    MapType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..errors import AvroSqlError
from .avro_schema import avro_to_spark_schema, spark_to_avro_schema

_MAGIC = b"Obj\x01"
_EPOCH = date(1970, 1, 1)
_EPOCH_TS = datetime(1970, 1, 1)
_MILLIS = ("timestamp-millis", "local-timestamp-millis")
_NAMED_TYPES = ("record", "enum", "fixed")


# --------------------------------------------------------------------------
# named-type resolution
# --------------------------------------------------------------------------

def resolve_names(schema: Any, names: dict[str, Any] | None = None, namespace: str | None = None) -> Any:
    """Inline named-type references: a string that is not a primitive is
    looked up among previously defined record/enum/fixed names (both
    bare and namespace-qualified), per the spec's name resolution."""
    if names is None:
        names = {}
    if isinstance(schema, str):
        if schema in ("null", "boolean", "int", "long", "float", "double", "bytes", "string"):
            return schema
        for key in (schema, f"{namespace}.{schema}" if namespace else schema):
            if key in names:
                return names[key]
        raise AvroSqlError(f"Invalid Avro schema type:{schema}")
    if isinstance(schema, list):
        return [resolve_names(b, names, namespace) for b in schema]
    if not isinstance(schema, dict):
        raise AvroSqlError(f"Invalid Avro schema type:{schema!r}")
    t = schema.get("type")
    ns = schema.get("namespace", namespace)
    out = dict(schema)
    if t in _NAMED_TYPES:
        full = f"{ns}.{schema['name']}" if ns else schema["name"]
        names[schema["name"]] = out
        names[full] = out
    if t == "record":
        out["fields"] = [
            {**f, "type": resolve_names(f["type"], names, ns)} for f in schema["fields"]
        ]
    elif t == "array":
        out["items"] = resolve_names(schema["items"], names, ns)
    elif t == "map":
        out["values"] = resolve_names(schema["values"], names, ns)
    elif isinstance(t, (list, dict)):
        out["type"] = resolve_names(t, names, ns)
    return out


# --------------------------------------------------------------------------
# binary primitives
# --------------------------------------------------------------------------

def _write_long(buf: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_byte(buf) -> int:
    b = buf.read(1)
    if not b:
        raise AvroSqlError("Truncated Avro container: EOF inside a varint")
    return b[0]


def _read_long(buf) -> int:
    shift = 0
    acc = 0
    while True:
        b = _read_byte(buf)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def _read_long_first(buf, first_byte: int) -> int:
    """Varint whose first byte was already consumed (EOF probing)."""
    acc = first_byte & 0x7F
    shift = 7
    b = first_byte
    while b & 0x80:
        b = _read_byte(buf)
        acc |= (b & 0x7F) << shift
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


def _read_n(buf, n: int) -> bytes:
    b = buf.read(n)
    if len(b) < n:
        raise AvroSqlError(
            f"Truncated Avro container: wanted {n} bytes, got {len(b)}"
        )
    return b


def _read_string(buf) -> str:
    return _read_n(buf, _read_long(buf)).decode("utf-8")


def _read_index(buf, n: int, kind: str, unit: str) -> int:
    """A union branch or enum symbol index, checked against the ``n``
    the schema declares (a bare list index would wrap a negative one)."""
    idx = _read_long(buf)
    if not 0 <= idx < n:
        raise AvroSqlError(
            f"Corrupt Avro container: {kind} index {idx} out of range "
            f"for {n}-{unit} {kind}"
        )
    return idx


def _block_items(buf) -> Iterator[None]:
    """One step per item of a block-encoded array or map: reads each
    block's count (a negative count is followed by the block's byte
    size, skipped) until the zero-count terminator."""
    while True:
        n = _read_long(buf)
        if n == 0:
            return
        if n < 0:
            n = -n
            _read_long(buf)
        for _ in range(n):
            yield


# --------------------------------------------------------------------------
# schema-driven encode / decode (resolved schema dicts)
# --------------------------------------------------------------------------

def _encode(buf: io.BytesIO, schema: Any, v: Any) -> None:
    if isinstance(schema, list):  # union: [null, T] policy
        if v is None:
            _write_long(buf, schema.index("null"))
            return
        idx = next(i for i, b in enumerate(schema) if b != "null")
        _write_long(buf, idx)
        _encode(buf, schema[idx], v)
        return
    t = schema if isinstance(schema, str) else schema["type"]
    if isinstance(t, (list, dict)):
        _encode(buf, t, v)
        return
    if t == "null":
        return
    if t == "boolean":
        buf.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        _write_long(buf, int(v))
    elif t == "float":
        buf.write(struct.pack("<f", float(v)))
    elif t == "double":
        buf.write(struct.pack("<d", float(v)))
    elif t == "bytes":
        _write_bytes(buf, bytes(v))
    elif t == "string":
        _write_bytes(buf, v.encode("utf-8"))
    elif t == "fixed":
        buf.write(bytes(v))
    elif t == "enum":
        _write_long(buf, schema["symbols"].index(v))
    elif t == "array":
        items = schema["items"]
        seq = list(v)
        if seq:
            _write_long(buf, len(seq))
            for item in seq:
                _encode(buf, items, item)
        _write_long(buf, 0)
    elif t == "map":
        values = schema["values"]
        entries = dict(v)
        if entries:
            _write_long(buf, len(entries))
            for k, val in entries.items():
                _write_bytes(buf, k.encode("utf-8"))
                _encode(buf, values, val)
        _write_long(buf, 0)
    elif t == "record":
        for i, f in enumerate(schema["fields"]):
            fv = v[f["name"]] if isinstance(v, dict) else v[i]
            _encode(buf, f["type"], fv)
    else:
        raise AvroSqlError(f"Invalid Avro schema type:{t}")


def _decode(buf, schema: Any) -> Any:
    if isinstance(schema, list):
        return _decode(buf, schema[_read_index(buf, len(schema), "union", "branch")])
    t = schema if isinstance(schema, str) else schema["type"]
    if isinstance(t, (list, dict)):
        return _decode(buf, t)
    if t == "null":
        return None
    if t == "boolean":
        return _read_n(buf, 1) == b"\x01"
    if t in ("int", "long"):
        return _read_long(buf)
    if t == "float":
        return struct.unpack("<f", _read_n(buf, 4))[0]
    if t == "double":
        return struct.unpack("<d", _read_n(buf, 8))[0]
    if t == "bytes":
        return _read_n(buf, _read_long(buf))
    if t == "string":
        return _read_string(buf)
    if t == "fixed":
        return _read_n(buf, schema["size"])
    if t == "enum":
        symbols = schema["symbols"]
        return symbols[_read_index(buf, len(symbols), "enum", "symbol")]
    if t == "array":
        return [_decode(buf, schema["items"]) for _ in _block_items(buf)]
    if t == "map":
        # a dict comprehension evaluates each key before its value
        return {_read_string(buf): _decode(buf, schema["values"]) for _ in _block_items(buf)}
    if t == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    raise AvroSqlError(f"Invalid Avro schema type:{t}")


# --------------------------------------------------------------------------
# container file framing
# --------------------------------------------------------------------------

def write_container(
    out: BinaryIO,
    avro_schema: dict,
    records: Iterator[Any],
    codec: str = "null",
    records_per_block: int = 1024,
) -> int:
    """Stream ``records`` (dicts or positional sequences matching the
    record schema) into an Avro container file. Returns record count."""
    if codec not in ("null", "deflate"):
        raise AvroSqlError(f"Unsupported avro codec: {codec}")
    resolved = resolve_names(avro_schema)
    sync = os.urandom(16)
    header = io.BytesIO()
    header.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    _write_long(header, len(meta))
    for k, v in meta.items():
        _write_bytes(header, k.encode())
        _write_bytes(header, v)
    _write_long(header, 0)
    header.write(sync)
    out.write(header.getvalue())

    total = 0
    block: list[Any] = []

    def flush() -> None:
        nonlocal total
        if not block:
            return
        payload = io.BytesIO()
        for r in block:
            _encode(payload, resolved, r)
        data = payload.getvalue()
        if codec == "deflate":
            data = zlib.compress(data)[2:-4]  # raw RFC-1951 stream
        frame = io.BytesIO()
        _write_long(frame, len(block))
        _write_long(frame, len(data))
        out.write(frame.getvalue())
        out.write(data)
        out.write(sync)
        total += len(block)
        block.clear()

    for rec in records:
        block.append(rec)
        if len(block) >= records_per_block:
            flush()
    flush()
    return total


def read_container(
    fobj: BinaryIO, reader_schema: "dict | None" = None
) -> tuple[dict, list[Any]]:
    """→ (schema as dict, decoded records as Python values).

    With ``reader_schema``, records are resolved writer->reader per the
    Avro spec's Schema Resolution rules (promotions, defaults, field
    discard — see sources/avro_resolve.py); the returned schema is the
    READER's and incompatibilities raise before any byte is decoded."""
    if fobj.read(4) != _MAGIC:
        raise AvroSqlError("Not an Avro container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(fobj)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long(fobj)
        for _ in range(n):
            k = _read_n(fobj, _read_long(fobj)).decode()
            meta[k] = _read_n(fobj, _read_long(fobj))
    sync = fobj.read(16)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise AvroSqlError(f"Unsupported avro codec: {codec}")
    resolved = resolve_names(schema)
    plan = None
    if reader_schema is not None:
        from .avro_resolve import resolution_plan

        plan = resolution_plan(resolved, resolve_names(reader_schema))
    records: list[Any] = []
    while True:
        first = fobj.read(1)
        if not first:
            break
        count = _read_long_first(fobj, first[0])
        size = _read_long(fobj)
        data = fobj.read(size)
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        blockbuf = io.BytesIO(data)
        if plan is None:
            for _ in range(count):
                records.append(_decode(blockbuf, resolved))
        else:
            from .avro_resolve import decode_resolved

            for _ in range(count):
                records.append(decode_resolved(blockbuf, resolved, plan))
        if fobj.read(16) != sync:
            raise AvroSqlError("Avro container sync marker mismatch")
    return (schema if reader_schema is None else reader_schema), records


# --------------------------------------------------------------------------
# Spark bridges (logical types per the sidecar's native mapping)
# --------------------------------------------------------------------------

def _unwrap(avro: Any) -> Any:
    """Skip the [null, T] union wrapper to the payload schema node."""
    if isinstance(avro, list):
        return next(b for b in avro if b != "null")
    return avro


def _avro_to_spark_value(v: Any, dtype: DataType, avro: Any):
    if v is None:
        return None
    node = _unwrap(avro)
    if isinstance(dtype, StructType):
        fields_schema = {f["name"]: f["type"] for f in node["fields"]}
        return tuple(
            _avro_to_spark_value(v.get(f.name), f.dataType, fields_schema[f.name])
            for f in dtype.fields
        )
    if isinstance(dtype, ArrayType):
        return [_avro_to_spark_value(x, dtype.elementType, node["items"]) for x in v]
    if isinstance(dtype, MapType):
        return {k: _avro_to_spark_value(x, dtype.valueType, node["values"]) for k, x in v.items()}
    if isinstance(dtype, DateType):
        return _EPOCH + timedelta(days=v)
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        logical = node.get("logicalType") if isinstance(node, dict) else None
        us = v * 1000 if logical in _MILLIS else v
        return _EPOCH_TS + timedelta(microseconds=us)
    if isinstance(dtype, DecimalType):
        # Avro JSON encoding carries bytes as an ISO-8859-1 string
        raw = v.encode("latin-1") if isinstance(v, str) else v
        unscaled = int.from_bytes(raw, "big", signed=True)
        return Decimal(unscaled).scaleb(-dtype.scale)
    if isinstance(dtype, BinaryType):
        return bytearray(v.encode("latin-1") if isinstance(v, str) else v)
    return v


def _spark_to_avro_value(v: Any, dtype: DataType, avro: Any):
    if v is None:
        return None
    node = _unwrap(avro)
    if isinstance(dtype, StructType):
        fields_schema = {f["name"]: f["type"] for f in node["fields"]}
        return {
            f.name: _spark_to_avro_value(v[i], f.dataType, fields_schema[f.name])
            for i, f in enumerate(dtype.fields)
        }
    if isinstance(dtype, ArrayType):
        return [_spark_to_avro_value(x, dtype.elementType, node["items"]) for x in v]
    if isinstance(dtype, MapType):
        return {k: _spark_to_avro_value(x, dtype.valueType, node["values"]) for k, x in v.items()}
    if isinstance(dtype, DateType):
        return (v - _EPOCH).days
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        logical = node.get("logicalType") if isinstance(node, dict) else None
        delta = v.replace(tzinfo=None) - _EPOCH_TS
        us = delta // timedelta(microseconds=1)
        return us // 1000 if logical in _MILLIS else us
    if isinstance(dtype, DecimalType):
        unscaled = int(v.scaleb(dtype.scale))
        length = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(length, "big", signed=True)
    if isinstance(dtype, BinaryType):
        return bytes(v)
    return v


def read_avro_fallback(
    spark: SparkSession, path: str, reader_schema: "dict | None" = None
) -> DataFrame:
    """Read .avro container file(s) without the spark-avro jar: decode on
    the driver, convert with the sidecar schema (avro_to_spark_schema).
    ``path`` may be a file or a directory of ``*.avro`` files.
    ``reader_schema`` applies spec Schema Resolution (the jar path's
    ``avroSchema`` option): promotions, reader defaults, field discard."""
    paths = (
        sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".avro")
        )
        if os.path.isdir(path)
        else [path]
    )
    if not paths:
        raise AvroSqlError(f"No .avro files under {path}")
    spark_schema: StructType | None = None
    rows = []
    for p in paths:
        with open(p, "rb") as fobj:
            schema, records = read_container(fobj, reader_schema=reader_schema)
            resolved = resolve_names(schema)
            if spark_schema is None:
                spark_schema = avro_to_spark_schema(resolved)
            rows.extend(_avro_to_spark_value(r, spark_schema, resolved) for r in records)
    return spark.createDataFrame(rows, spark_schema)


def write_avro_fallback(
    df: DataFrame,
    path: str,
    name: str = "topLevelRecord",
    namespace: str | None = None,
    codec: str = "null",
) -> int:
    """Write ``df`` to a single .avro container file without the jar.
    The Avro schema derives from the Spark schema via the sidecar
    (spark_to_avro_schema), preserving names/docs/props metadata.
    Rows stream through ``toLocalIterator`` so driver memory holds one
    partition at a time. Returns the record count."""
    avro_schema = spark_to_avro_schema(df.schema, name=name, namespace=namespace)
    resolved = resolve_names(avro_schema)
    schema = df.schema

    def rows() -> Iterator[dict]:
        for row in df.toLocalIterator():
            yield _spark_to_avro_value(row, schema, resolved)

    with open(path, "wb") as out:
        return write_container(out, avro_schema, rows(), codec=codec)
