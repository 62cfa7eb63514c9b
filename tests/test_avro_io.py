"""Round-trip tests for the pure-Python Avro container codec
(sources/avro_io.py) on the reference's own fixtures (FIXTURES.md F1-F3)
plus logical types, codecs, multi-block files, and the io.py fallback.
"""

import io as _io
import json
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from avro_sql_spark.errors import AvroSqlError
from avro_sql_spark.sources.avro_io import (
    read_avro_fallback,
    read_container,
    resolve_names,
    write_avro_fallback,
    write_container,
)

PIZZA_DDL = (
    "name STRING, ingredients ARRAY<STRUCT<name: STRING, sugar: DOUBLE, fat: DOUBLE>>,"
    " vegetarian BOOLEAN, vegan BOOLEAN, calories INT"
)
PIZZA_ROWS = [
    ("pepperoni", [("pepperoni", 12.0, 4.4), ("onions", 1.0, 0.4)], False, False, 98),
    ("quattro", [("cheese", 2.0, 9.1)], True, False, 410),
]

# FIXTURES.md F2 — named-type reference ("Street" reused via union)
PERSON_AVRO = json.loads("""
{"type":"record","name":"Person","namespace":"com.landoop.sql.avro","fields":[
  {"name":"name","type":"string"},
  {"name":"address","type":{"type":"record","name":"Address","fields":[
    {"name":"street","type":{"type":"record","name":"Street","fields":[
      {"name":"name","type":"string"}]}},
    {"name":"street2","type":["null","Street"]},
    {"name":"city","type":"string"},
    {"name":"state","type":"string"},
    {"name":"zip","type":"string"},
    {"name":"country","type":"string"}]}}]}
""")


def _roundtrip_df(spark, df, tmp_path, **kw):
    p = str(tmp_path / "t.avro")
    write_avro_fallback(df, p, **kw)
    return read_avro_fallback(spark, p)


def test_pizza_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(PIZZA_ROWS, PIZZA_DDL)
    back = _roundtrip_df(spark, df, tmp_path, name="Pizza", namespace="com.landoop.sql.avro")
    assert back.schema.fieldNames() == df.schema.fieldNames()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_person_named_reference_decode(spark, tmp_path):
    # hand-encode with the reference's own schema (named "Street" reuse)
    records = [
        {"name": "Rick", "address": {"street": {"name": "Rock St"}, "street2": None,
                                     "city": "MtV", "state": "CA", "zip": "94041",
                                     "country": "USA"}},
        {"name": "Rick", "address": {"street": {"name": "Rock St"},
                                     "street2": {"name": "412 East"},
                                     "city": "MtV", "state": "CA", "zip": "94041",
                                     "country": "USA"}},
    ]
    p = str(tmp_path / "person.avro")
    with open(p, "wb") as out:
        assert write_container(out, PERSON_AVRO, iter(records)) == 2
    df = read_avro_fallback(spark, p)
    rows = df.orderBy(F.col("address.street2").isNotNull()).collect()
    assert rows[0]["address"]["street2"] is None
    assert rows[1]["address"]["street2"]["name"] == "412 East"
    assert df.schema["address"].dataType["street2"].nullable


def test_resolve_names_rejects_unknown():
    with pytest.raises(AvroSqlError):
        resolve_names({"type": "record", "name": "R",
                       "fields": [{"name": "x", "type": "Mystery"}]})


def test_logical_types_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(date(2024, 2, 29), datetime(2024, 2, 29, 12, 34, 56, 789000), Decimal("12345.67"), bytearray(b"\x01\x02")),
         (None, None, None, None)],
        "d DATE, ts TIMESTAMP, dec DECIMAL(10,2), bin BINARY",
    )
    back = _roundtrip_df(spark, df, tmp_path)
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        "date", "timestamp", "decimal(10,2)", "binary"]
    a, b = sorted(back.collect(), key=lambda r: (r["d"] is None, str(r["d"])))
    assert a["d"] == date(2024, 2, 29) and a["dec"] == Decimal("12345.67")
    assert a["ts"] == datetime(2024, 2, 29, 12, 34, 56, 789000)
    assert bytes(a["bin"]) == b"\x01\x02"
    assert all(v is None for v in (b["d"], b["ts"], b["dec"], b["bin"]))


def test_timestamp_ntz_orders_roundtrip(spark, tmp_path):
    """``o_orderdate`` is ``timestamp_ntz``: the sidecar writes it as
    ``local-timestamp-micros`` (spark-avro's mapping) and reads it back
    as ``timestamp_ntz`` with every value unchanged."""
    from avro_sql_spark.session import load_tables
    from avro_sql_spark.sources.avro_schema import spark_to_avro_schema

    orders = load_tables(spark, "/root/testdata/sf0.001", register=False)["orders"]
    assert orders.schema["o_orderdate"].dataType.simpleString() == "timestamp_ntz"
    avro = spark_to_avro_schema(orders.schema)
    date_field = next(f for f in avro["fields"] if f["name"] == "o_orderdate")
    assert "local-timestamp-micros" in json.dumps(date_field["type"])
    path = str(tmp_path / "orders.avro")
    assert write_avro_fallback(orders, path) == orders.count()
    back = read_avro_fallback(spark, path)
    fields = lambda df: [(f.name, f.dataType, f.nullable) for f in df.schema.fields]
    assert fields(back) == fields(orders)
    assert sorted(back.collect()) == sorted(orders.collect())


def test_local_timestamp_millis_reads_as_ntz(spark, tmp_path):
    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "t", "type": {"type": "long", "logicalType": "local-timestamp-millis"}},
        ],
    }
    path = str(tmp_path / "e.avro")
    with open(path, "wb") as out:
        write_container(out, schema, [{"t": 1_700_000_000_123}])
    back = read_avro_fallback(spark, path)
    assert back.schema["t"].dataType.simpleString() == "timestamp_ntz"
    assert back.collect()[0]["t"] == datetime(2023, 11, 14, 22, 13, 20, 123000)


def test_map_and_deflate_codec(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, {"a": 1.5, "b": -2.0}), (2, {})], "id LONG, m MAP<STRING, DOUBLE>"
    )
    back = _roundtrip_df(spark, df, tmp_path, codec="deflate")
    got = {r["id"]: r["m"] for r in back.collect()}
    assert got[1] == {"a": 1.5, "b": -2.0} and got[2] == {}


def test_multiblock_container():
    schema = {"type": "record", "name": "N", "fields": [{"name": "x", "type": "long"}]}
    buf = _io.BytesIO()
    n = write_container(buf, schema, ({"x": i} for i in range(5000)), records_per_block=512)
    assert n == 5000
    buf.seek(0)
    got_schema, records = read_container(buf)
    assert got_schema == schema
    assert [r["x"] for r in records] == list(range(5000))


def test_enum_and_fixed_decode():
    schema = {"type": "record", "name": "E", "fields": [
        {"name": "color", "type": {"type": "enum", "name": "Color",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "tag", "type": {"type": "fixed", "name": "Tag", "size": 3}},
    ]}
    buf = _io.BytesIO()
    write_container(buf, schema, iter([{"color": "GREEN", "tag": b"abc"}]))
    buf.seek(0)
    _, records = read_container(buf)
    assert records == [{"color": "GREEN", "tag": b"abc"}]


def test_io_fallback_read_write(spark, tmp_path):
    from avro_sql_spark.sources.io import read_table, write_table

    df = spark.createDataFrame([("Rock St", "MtV", "CA", "94041", "USA")],
                               "street STRING, city STRING, state STRING, zip STRING, country STRING")
    p = str(tmp_path / "addr.avro")
    write_table(df, p, fmt="avro")
    back = read_table(spark, p, fmt="avro")
    assert back.collect() == df.collect()
    with pytest.raises(AvroSqlError):
        write_table(df, p, fmt="avro", partition_by=["state"])


def test_truncated_container_raises_typed_error(spark, tmp_path):
    """A container cut off mid-block must surface AvroSqlError, not a
    raw ValueError/IndexError from the varint internals."""
    import pytest as _pytest

    from avro_sql_spark.errors import AvroSqlError
    from avro_sql_spark.sources.avro_io import (
        read_avro_fallback,
        write_avro_fallback,
    )

    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(50)], "id long, name string"
    )
    path = str(tmp_path / "t.avro")
    write_avro_fallback(df, path)
    data = open(path, "rb").read()
    open(path, "wb").write(data[: len(data) - 7])  # chop mid-block
    with _pytest.raises(AvroSqlError):
        read_avro_fallback(spark, path)


# ---------------------------------------------------------------------------
# schema resolution (avro_resolve: Avro spec "Schema Resolution")
# ---------------------------------------------------------------------------

def _roundtrip_resolved(writer_schema, reader_schema, records):
    import io as _io
    from avro_sql_spark.sources.avro_io import write_container, read_container

    buf = _io.BytesIO()
    write_container(buf, writer_schema, iter(records))
    buf.seek(0)
    return read_container(buf, reader_schema=reader_schema)


def test_resolution_promotion_default_and_discard():
    writer = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "gone", "type": "string"},
            {"name": "f", "type": "float"},
        ],
    }
    reader = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "a", "type": "long"},            # int -> long
            {"name": "f", "type": "double"},          # float -> double
            {"name": "added", "type": "string", "default": "dflt"},
        ],
    }
    schema, recs = _roundtrip_resolved(
        writer, reader, [{"a": 7, "gone": "x", "f": 1.5}]
    )
    assert schema == reader
    assert recs == [{"a": 7, "f": 1.5, "added": "dflt"}]


def test_resolution_union_and_aliases():
    writer = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "v", "type": "int"},
            {"name": "old_name", "type": "string"},
        ],
    }
    reader = {
        "type": "record", "name": "R",
        "fields": [
            # writer int resolves against the first matching union branch
            {"name": "v", "type": ["null", "long"]},
            # alias claims the writer's old field name
            {"name": "new_name", "type": "string", "aliases": ["old_name"]},
        ],
    }
    _, recs = _roundtrip_resolved(writer, reader, [{"v": 3, "old_name": "hi"}])
    assert recs == [{"v": 3, "new_name": "hi"}]


def test_resolution_missing_default_raises():
    import pytest as _pytest
    from avro_sql_spark.errors import AvroSqlError
    from avro_sql_spark.sources.avro_resolve import resolution_plan

    writer = {"type": "record", "name": "R", "fields": [{"name": "a", "type": "int"}]}
    reader = {
        "type": "record", "name": "R",
        "fields": [{"name": "a", "type": "int"}, {"name": "b", "type": "int"}],
    }
    with _pytest.raises(AvroSqlError, match=r"\$\.b.*no default"):
        resolution_plan(writer, reader)


def test_resolution_illegal_demotion_raises():
    import pytest as _pytest
    from avro_sql_spark.errors import AvroSqlError
    from avro_sql_spark.sources.avro_resolve import resolution_plan

    writer = {"type": "record", "name": "R", "fields": [{"name": "a", "type": "double"}]}
    reader = {"type": "record", "name": "R", "fields": [{"name": "a", "type": "int"}]}
    with _pytest.raises(AvroSqlError, match="cannot be read"):
        resolution_plan(writer, reader)


def test_compat_report_rows():
    from avro_sql_spark.sources.avro_resolve import compat_report

    writer = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "drop_me", "type": "boolean"},
            {"name": "bad", "type": "string"},
        ],
    }
    reader = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "bad", "type": "int"},                 # illegal
            {"name": "new1", "type": "int", "default": 0},
            {"name": "new2", "type": "int"},                # no default
        ],
    }
    rows = {r["field"]: r["action"] for r in compat_report(writer, reader)}
    assert rows == {
        "a": "promote",
        "drop_me": "writer_discarded",
        "bad": "incompatible",
        "new1": "reader_default",
        "new2": "incompatible",
    }


def test_resolution_enum_default_and_fixed():
    import io as _io
    from avro_sql_spark.sources.avro_io import write_container, read_container

    writer = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["A", "B", "C"]}},
        ],
    }
    reader = {
        "type": "record", "name": "R",
        "fields": [
            {"name": "e", "type": {"type": "enum", "name": "E",
                                   "symbols": ["A", "B", "OTHER"],
                                   "default": "OTHER"}},
        ],
    }
    buf = _io.BytesIO()
    write_container(buf, writer, iter([{"e": "A"}, {"e": "C"}]))
    buf.seek(0)
    _, recs = read_container(buf, reader_schema=reader)
    assert [r["e"] for r in recs] == ["A", "OTHER"]


_ENUM = {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}


def _decode_both(raw: bytes, writer, reader):
    """Decode ``raw`` with the plain decoder and with the resolving one."""
    from avro_sql_spark.sources.avro_io import _decode
    from avro_sql_spark.sources.avro_resolve import decode_resolved, resolution_plan

    plan = resolution_plan(writer, reader)
    return _decode(_io.BytesIO(raw), writer), decode_resolved(_io.BytesIO(raw), writer, plan)


@pytest.mark.parametrize("idx", [-1, 3])
def test_enum_index_out_of_range_is_corrupt(idx):
    """An enum index outside the symbol list is a corrupt container in
    both decoders: -1 must not wrap to the last symbol, and 3 must not
    leak an IndexError."""
    from avro_sql_spark.sources.avro_io import _decode, _write_long
    from avro_sql_spark.sources.avro_resolve import decode_resolved, resolution_plan

    buf = _io.BytesIO()
    _write_long(buf, idx)
    raw = buf.getvalue()
    with pytest.raises(AvroSqlError, match="Corrupt Avro container: enum index"):
        _decode(_io.BytesIO(raw), _ENUM)
    with pytest.raises(AvroSqlError, match="Corrupt Avro container: enum index"):
        decode_resolved(_io.BytesIO(raw), _ENUM, resolution_plan(_ENUM, _ENUM))


def test_array_and_map_blocks_decode_alike():
    """Arrays and maps split into blocks, one of them with a negative
    count and a byte-size prefix, decode the same in both decoders."""
    from avro_sql_spark.sources.avro_io import _write_bytes, _write_long

    buf = _io.BytesIO()
    for n in (-2, 8, 1, 2, 1, 3, 0):  # [1, 2] with size 8, then [3]
        _write_long(buf, n)
    arr = {"type": "array", "items": "long"}
    assert _decode_both(buf.getvalue(), arr, arr) == ([1, 2, 3], [1, 2, 3])

    buf = _io.BytesIO()
    _write_long(buf, 1)
    _write_bytes(buf, b"a")
    _write_long(buf, 7)
    _write_long(buf, -1)
    _write_long(buf, 3)
    _write_bytes(buf, b"b")
    _write_long(buf, 8)
    _write_long(buf, 0)
    m = {"type": "map", "values": "long"}
    assert _decode_both(buf.getvalue(), m, m) == ({"a": 7, "b": 8}, {"a": 7, "b": 8})
