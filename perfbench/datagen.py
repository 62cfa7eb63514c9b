"""Seeded input generator for the benchmark.

Writes the ten tables ``avro_sql_spark.session.TABLES`` names, with the
schemas and value distributions of the TPC-H-ish star schema the
registry entries are written against, plus the nested ``orders`` data
set of the reshape workload. The data depends only on ``sf``, as
TPC-H's own generator's does: a run's seed varies its queries, schemas
and op order, not the data, so the work a pass does (rows, loop rounds
of the iterative entries) is the same for every seed. Nothing here
imports Spark.

Row counts follow TPC-H scaling: lineitem 6,000,000 x sf, orders
1,500,000 x sf, and so on. ``documents`` and ``embeddings`` keep floors
of 500 rows, so the text and vector entries have work at small sf.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a fast slow big small data spark query table row column key value "
    "join group order sort filter hash merge scan agg window stream batch "
    "part line customer vector"
).split()
ADJECTIVES = ("blue", "red", "new", "old", "hot", "cold", "small", "large")
NOUNS = ("rod", "gear", "anvil", "ring", "bolt", "widget", "gizmo", "plate")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "fr", "es", "zh", "de")
ATTR_KEYS = ("channel", "clerk", "gift", "ship_mode", "terms")
ATTR_VALUES = ("web", "store", "phone", "air", "rail", "truck", "net30", "yes", "no")

_DAY_US = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(40, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _dates_us(rng: np.random.Generator, n: int, first: str, days: int) -> np.ndarray:
    start = np.datetime64(first, "us").astype(np.int64)
    return start + rng.integers(0, days, n, dtype=np.int64) * _DAY_US


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    lengths = rng.integers(10, 100, n)
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup entries
            # need true pairs to find
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def generate_tables(sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; the same ``sf`` gives the same
    tables."""
    rng = np.random.default_rng(round(sf * 1_000_000))
    n = table_rows(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    )
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array(nk % 5),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array(_names("Customer", nc)),
            "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array(_names("Supplier", ns)),
            "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, npart), rng.choice(NOUNS, npart))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(PART_TYPES, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts(_dates_us(rng, no, "1995-01-01", 2404)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), nl)),
            "l_shipdate": _ts(_dates_us(rng, nl, "1995-01-02", 2498)),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, ne, dtype=np.int64))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(5, ne // 66), ne, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, as the registry's
    loader expects (``<out_dir>/<name>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 24)


# --------------------------------------------------------------------------
# nested orders: the reshape workload's input
# --------------------------------------------------------------------------

ITEM = pa.struct([("partkey", pa.int64()), ("suppkey", pa.int64())])
MONEY = pa.struct(
    [("quantity", pa.float64()), ("price", pa.float64()), ("discount", pa.float64()), ("tax", pa.float64())]
)
FLAGS = pa.struct([("returnflag", pa.string()), ("linestatus", pa.string())])
LINE = pa.struct([("linenumber", pa.int32()), ("item", ITEM), ("money", MONEY), ("flags", FLAGS)])
ADDRESS = pa.struct([("nation", pa.string()), ("region", pa.string())])
ACCOUNT = pa.struct([("segment", pa.string()), ("balance", pa.float64())])
CUSTOMER = pa.struct(
    [("custkey", pa.int64()), ("name", pa.string()), ("address", ADDRESS), ("account", ACCOUNT)]
)
NESTED_SCHEMA = pa.schema(
    [
        ("orderkey", pa.int64()),
        ("status", pa.string()),
        ("priority", pa.string()),
        ("totalprice", pa.float64()),
        ("customer", CUSTOMER),
        ("attrs", pa.map_(pa.string(), pa.string())),
        ("lines", pa.list_(LINE)),
    ]
)


def nested_orders(tables: dict[str, pa.Table]) -> pa.Table:
    """Join orders, customer, nation, region and lineitem into one
    nested record per order. Deterministic: attrs derive from the order
    key, so they need no random stream of their own."""
    orders = tables["orders"]
    cust = tables["customer"]
    nation = tables["nation"]
    li = tables["lineitem"]
    no = orders.num_rows
    custkey = orders["o_custkey"].to_numpy()
    c_nation = cust["c_nationkey"].to_numpy()[custkey]
    n_names = np.array(nation["n_name"].to_pylist(), dtype=object)
    n_region = nation["n_regionkey"].to_numpy()
    address = pa.StructArray.from_arrays(
        [pa.array(n_names[c_nation]), pa.array(np.array(REGIONS, dtype=object)[n_region[c_nation]])],
        fields=list(ADDRESS),
    )
    account = pa.StructArray.from_arrays(
        [
            pa.array(np.array(cust["c_mktsegment"].to_pylist(), dtype=object)[custkey]),
            pa.array(cust["c_acctbal"].to_numpy()[custkey]),
        ],
        fields=list(ACCOUNT),
    )
    customer = pa.StructArray.from_arrays(
        [
            pa.array(custkey),
            pa.array(np.array(cust["c_name"].to_pylist(), dtype=object)[custkey]),
            address,
            account,
        ],
        fields=list(CUSTOMER),
    )

    okey = orders["o_orderkey"].to_numpy()
    n_attrs = okey % 4  # 0..3 entries per order
    key_off = np.concatenate([[0], np.cumsum(n_attrs)]).astype(np.int32)
    slot = np.arange(key_off[-1]) - np.repeat(key_off[:-1], n_attrs)
    owner = np.repeat(okey, n_attrs)
    keys = np.array(ATTR_KEYS, dtype=object)[(owner + slot) % len(ATTR_KEYS)]
    vals = np.array(ATTR_VALUES, dtype=object)[(owner * 7 + slot) % len(ATTR_VALUES)]
    attrs = pa.MapArray.from_arrays(pa.array(key_off), pa.array(keys), pa.array(vals))

    order_of = li["l_orderkey"].to_numpy()
    perm = np.lexsort((li["l_linenumber"].to_numpy(), order_of))
    counts = np.bincount(order_of, minlength=no)
    line_off = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)

    def col(name):
        return li[name].combine_chunks().take(pa.array(perm))

    item = pa.StructArray.from_arrays([col("l_partkey"), col("l_suppkey")], fields=list(ITEM))
    money = pa.StructArray.from_arrays(
        [col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")], fields=list(MONEY)
    )
    flags = pa.StructArray.from_arrays([col("l_returnflag"), col("l_linestatus")], fields=list(FLAGS))
    lines = pa.StructArray.from_arrays([col("l_linenumber"), item, money, flags], fields=list(LINE))
    return pa.Table.from_arrays(
        [
            orders["o_orderkey"].combine_chunks(),
            orders["o_orderstatus"].combine_chunks(),
            orders["o_orderpriority"].combine_chunks(),
            orders["o_totalprice"].combine_chunks(),
            customer,
            attrs,
            pa.ListArray.from_arrays(pa.array(line_off), lines),
        ],
        schema=NESTED_SCHEMA,
    )


def write_nested(table: pa.Table, out_dir: str, files: int = 4) -> None:
    """Split the nested orders into ``files`` parquet parts, so the scan
    is multi-file."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))
