"""Compat-layer tests: the reference's record.sql() calling convention
over Avro-JSON dicts, parse/plan once."""

from avro_sql_spark import reshape
from avro_sql_spark.compat import AvroSqlProcessor
from tests.test_avro_io import PERSON_AVRO
from tests.test_avro_schema import PIZZA_AVRO
from tests.test_sqltext import py4j_calls

PIZZA_REC = {
    "name": "pepperoni",
    "ingredients": [
        {"name": "pepperoni", "sugar": 12.0, "fat": 4.4},
        {"name": "onions", "sugar": 1.0, "fat": 0.4},
    ],
    "vegetarian": False,
    "vegan": False,
    "calories": 98,
}


def test_flatten_record(spark):
    p = AvroSqlProcessor(spark, PIZZA_AVRO, "SELECT name, calories as cals")
    out = p.apply([PIZZA_REC])
    assert out == [{"name": "pepperoni", "cals": 98}]


def test_withstructure_record(spark):
    p = AvroSqlProcessor(
        spark,
        PIZZA_AVRO,
        "SELECT ingredients.name as fieldName, ingredients.sugar as fieldSugar FROM topic withstructure",
    )
    out = p.apply([PIZZA_REC])
    assert out == [
        {
            "ingredients": [
                {"fieldName": "pepperoni", "fieldSugar": 12.0},
                {"fieldName": "onions", "fieldSugar": 1.0},
            ]
        }
    ]


def test_null_record_passthrough(spark):
    p = AvroSqlProcessor(spark, PIZZA_AVRO, "SELECT name")
    assert p.apply([None, PIZZA_REC, None]) == [None, {"name": "pepperoni"}, None]


def test_out_avro_schema_carries_identity(spark):
    p = AvroSqlProcessor(spark, PIZZA_AVRO, "SELECT name, calories")
    out = p.out_avro_schema()
    assert out["name"] == "Pizza"
    assert out["namespace"] == "com.landoop.sql.avro"
    assert [f["name"] for f in out["fields"]] == ["name", "calories"]


def test_plan_reuse_many_batches(spark):
    p = AvroSqlProcessor(spark, PIZZA_AVRO, "SELECT calories as C")
    for batch in ([PIZZA_REC] * 3, [PIZZA_REC]):
        assert p.apply(batch) == [{"C": 98}] * len(batch)


def test_processor_converts_logical_types(spark):
    """apply() must accept Avro-JSON-shaped logical values (long
    timestamp-millis, int date, latin-1 decimal bytes) and produce
    native values through the reshape."""
    import datetime
    from decimal import Decimal

    from avro_sql_spark.compat import AvroSqlProcessor

    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
            {"name": "day", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "amount",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 9,
                    "scale": 2,
                },
            },
        ],
    }
    proc = AvroSqlProcessor(spark, schema, "SELECT id, ts, day, amount as amt")
    raw = int(Decimal("12.34").scaleb(2))  # 1234
    payload = raw.to_bytes(2, "big", signed=True).decode("latin-1")
    out = proc.apply([{"id": 1, "ts": 86400000, "day": 1, "amount": payload}])
    assert out[0]["id"] == 1
    assert out[0]["ts"] == datetime.datetime(1970, 1, 2, 0, 0)
    assert out[0]["day"] == datetime.date(1970, 1, 2)
    assert out[0]["amt"] == Decimal("12.34")


def test_processor_forwards_root_props(spark):
    from avro_sql_spark.compat import AvroSqlProcessor

    schema = {
        "type": "record",
        "name": "R",
        "connect.version": 2,
        "fields": [{"name": "a", "type": "long"}],
    }
    proc = AvroSqlProcessor(spark, schema, "SELECT a")
    assert proc.out_avro_schema()["connect.version"] == 2


def test_processor_resolves_named_type_reference(spark):
    """The reference's F2 person schema: street2 reuses the named record
    Street, which the processor must resolve before converting."""
    address = {"street": {"name": "Rock St"}, "city": "MtV", "state": "CA",
               "zip": "94041", "country": "USA"}
    p = AvroSqlProcessor(
        spark,
        PERSON_AVRO,
        "SELECT name, address.street.name as streetName,"
        " address.street2.name as streetName2",
    )
    out = p.apply([
        {"name": "Rick", "address": {**address, "street2": None}},
        {"name": "Rick", "address": {**address, "street2": {"name": "412 East"}}},
    ])
    assert out == [
        {"name": "Rick", "streetName": "Rock St", "streetName2": None},
        {"name": "Rick", "streetName": "Rock St", "streetName2": "412 East"},
    ]
    nullable = {f.name: f.nullable for f in p.out_schema.fields}
    assert nullable == {"name": False, "streetName": False, "streetName2": True}


def test_processor_plans_without_jvm(spark, monkeypatch):
    """The processor takes its output schema from the plan: building it
    makes no JVM call, and the schema is the one Catalyst gives the
    reshaped batch."""
    q = "SELECT ingredients.name AS n, calories FROM topic withstructure"
    n_calls, p = py4j_calls(spark, monkeypatch, lambda: AvroSqlProcessor(spark, PIZZA_AVRO, q))
    assert n_calls == 0
    assert p.out_schema == reshape(spark.createDataFrame([], p.in_schema), q).schema
    assert p.apply([PIZZA_REC]) == [{"ingredients": [{"n": "pepperoni"}, {"n": "onions"}], "calories": 98}]
