"""Property-based tests (SURVEY.md §5.2 — the reference declared
scalacheck but never used it; we actually do it).

Invariants over hypothesis-generated nested schemas + records:
 - ``SELECT *`` is identity in both modes
 - schema is derivable from schema alone (reshape_schema == reshape(df).schema)
 - every flatten-projected leaf equals the input value at its source path
 - withstructure with all leaves listed preserves all values, inside
   arrays of records and maps too
 - nullability is monotone along paths (nullable ancestor ⇒ nullable output)
"""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from avro_sql_spark import AvroSqlError, reshape, reshape_schema

NAMES = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
ATOMS = [
    (IntegerType(), st.integers(-(2**31), 2**31 - 1)),
    (LongType(), st.integers(-(2**62), 2**62 - 1)),
    (DoubleType(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
    (BooleanType(), st.booleans()),
    (StringType(), st.text(alphabet=string.ascii_letters, max_size=8)),
]
ATOM_VALUES = {type(dtype): strat for dtype, strat in ATOMS}


AVRO_METADATA = st.dictionaries(
    st.sampled_from(("avro.doc", "avro.order", "avro.aliases")),
    st.one_of(st.integers(0, 3), st.text(alphabet=string.ascii_lowercase, max_size=3)),
    max_size=2,
)


@st.composite
def schemas(draw, depth: int = 2, containers: bool = False, metadata: bool = False) -> StructType:
    """A random struct schema (up to ``depth`` nesting levels, unique
    names per level). With ``containers``, fields may also be arrays of
    records and string-keyed maps of atoms or records. With
    ``metadata``, fields carry ``avro.*`` metadata."""
    n_fields = draw(st.integers(1, 4))
    names = draw(
        st.lists(NAMES, min_size=n_fields, max_size=n_fields, unique=True)
    )
    fields = []
    for name in names:
        nullable = draw(st.booleans())
        kinds = ("record", "array", "map", "atom", "atom") if containers else ("record", "atom", "atom", "atom")
        kind = draw(st.sampled_from(kinds))
        atom = ATOMS[draw(st.integers(0, len(ATOMS) - 1))][0]
        if depth > 0 and kind == "record":
            dtype = draw(schemas(depth - 1, containers, metadata))
        elif depth > 0 and kind == "array":
            dtype = ArrayType(draw(schemas(depth - 1, containers, metadata)), draw(st.booleans()))
        elif kind == "map":
            if depth > 0 and draw(st.booleans()):
                atom = draw(schemas(depth - 1, containers, metadata))
            dtype = MapType(StringType(), atom, draw(st.booleans()))
        else:
            dtype = atom
        fields.append(StructField(name, dtype, nullable, draw(AVRO_METADATA) if metadata else None))
    return StructType(fields)


@st.composite
def values_of(draw, dtype, nullable: bool):
    """A value of ``dtype``: ``None`` in about half the draws when
    ``nullable``."""
    if nullable and draw(st.booleans()):
        return None
    if isinstance(dtype, StructType):
        return tuple(draw(values_of(f.dataType, f.nullable)) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        elem = values_of(dtype.elementType, dtype.containsNull)
        return draw(st.lists(elem, max_size=3))
    if isinstance(dtype, MapType):
        value = values_of(dtype.valueType, dtype.valueContainsNull)
        return draw(st.dictionaries(NAMES, value, max_size=3))
    return draw(ATOM_VALUES[type(dtype)])


@st.composite
def schema_and_row(draw, depth: int = 2, containers: bool = False, metadata: bool = False):
    """A random schema (see :func:`schemas`) plus one matching row."""
    schema = draw(schemas(depth, containers, metadata))
    return schema, draw(values_of(schema, False))


def typed_leaves(schema: StructType, prefix=()):
    """``(path, type)`` of every non-record field reached through
    records."""
    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            yield from typed_leaves(f.dataType, (*prefix, f.name))
        else:
            yield (*prefix, f.name), f.dataType


def leaf_paths(schema: StructType):
    for path, _ in typed_leaves(schema):
        yield path


def value_at(row, path):
    cur = row
    for seg in path:
        if cur is None:
            return None
        cur = cur[seg] if isinstance(cur, dict) else getattr(cur, seg, None)
    return cur


HSET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@given(sr=schema_and_row(containers=True))
@HSET
def test_select_star_identity(spark, sr):
    schema, row = sr
    df = spark.createDataFrame([row], schema)
    for q in ("SELECT *", "SELECT * FROM t withstructure"):
        out = reshape(df, q)
        assert out.schema == df.schema
        assert out.collect() == df.collect()


def ws_leaf_paths(schema: StructType, prefix=()):
    """Leaves as withstructure addresses them: through records and
    arrays of records (arrays are transparent to paths); a map is a
    leaf."""
    for f in schema.fields:
        t = f.dataType
        if isinstance(t, ArrayType):
            t = t.elementType
        if isinstance(t, StructType):
            yield from ws_leaf_paths(t, (*prefix, f.name))
        else:
            yield (*prefix, f.name)


def rebuilt(schema: StructType, base_nullable: bool = False) -> StructType:
    """``schema`` as a withstructure rebuild of every field returns it.
    A field read out of a nullable struct is nullable in Spark, so a
    leaf, map or array under a nullable record (counted from its column,
    or from its array element) comes back nullable; records and array
    elements keep their own nullability. The reference keeps every
    field's own nullability; ROADMAP lists the divergence."""
    out = []
    for f in schema.fields:
        t, read_nullable = f.dataType, base_nullable or f.nullable
        if isinstance(t, StructType):
            out.append(StructField(f.name, rebuilt(t, read_nullable), f.nullable))
        elif isinstance(t, ArrayType):
            elem = rebuilt(t.elementType, t.containsNull)
            out.append(StructField(f.name, ArrayType(elem, t.containsNull), read_nullable))
        else:
            out.append(StructField(f.name, t, read_nullable))
    return StructType(out)


@given(sr=schema_and_row(containers=True))
@HSET
def test_withstructure_every_leaf_is_identity(spark, sr):
    """Selecting every leaf in schema order keeps the structure: the
    rows come back unchanged, and the schema too, up to the nullability
    widening ``rebuilt`` spells out."""
    schema, row = sr
    df = spark.createDataFrame([row], schema)
    q = "SELECT " + ", ".join(
        ".".join(f"`{seg}`" for seg in p) for p in ws_leaf_paths(schema)
    ) + " withstructure"
    out = reshape(df, q)
    assert out.schema == rebuilt(schema)
    assert out.collect() == df.collect()


@given(sr=schema_and_row())
@HSET
def test_flatten_leaves_match_source(spark, sr):
    schema, row = sr
    df = spark.createDataFrame([row], schema)
    paths = list(leaf_paths(schema))
    aliases = [f"c{i}" for i in range(len(paths))]
    q = "SELECT " + ", ".join(
        f"{'.'.join(p)} as {a}" for p, a in zip(paths, aliases)
    )
    out = reshape(df, q)
    collected = out.collect()[0]
    src = df.collect()[0]
    for (p, a) in zip(paths, aliases):
        assert collected[a] == value_at(src, p), (p, a)


MAP_KEYS = st.sampled_from(("k", "kk"))


@st.composite
def ws_queries(draw, schema: StructType) -> str:
    """A withstructure query over ``schema``: one to four items, each a
    path through records, arrays (transparent to paths) and map keys,
    sometimes on into a map's values, selected as is, aliased or
    starred. Not every query is valid."""
    items = []
    for _ in range(draw(st.integers(1, 4))):
        path, t = [], schema
        while True:
            while isinstance(t, ArrayType):
                t = t.elementType
            if isinstance(t, StructType):
                f = draw(st.sampled_from(t.fields))
                path.append(f.name)
                t = f.dataType
            elif isinstance(t, MapType):
                path.append(draw(MAP_KEYS))
                t = t.valueType
            else:
                break
            if draw(st.booleans()):
                break
        item = ".".join(f"`{seg}`" for seg in path)
        form = draw(st.sampled_from(("path", "alias", "star")))
        if form == "alias":
            item += f" AS `{draw(NAMES)}`"
        elif form == "star":
            item += ".*"
        items.append(item)
    return "SELECT " + ", ".join(items) + " withstructure"


@given(sr=schema_and_row(containers=True, metadata=True), data=st.data())
@HSET
def test_schema_derivable_without_data(spark, sr, data):
    """``reshape_schema`` types every column from the schema alone
    exactly as Catalyst types the reshaped frame, nullability and field
    metadata included, and raises on the same queries. Queries: the
    flatten of every leaf reached through records, and withstructure
    queries through arrays and map keys."""
    schema, row = sr
    df = spark.createDataFrame([row], schema)
    flat = [p for p, t in typed_leaves(schema) if not isinstance(t, (ArrayType, MapType))]
    queries = [data.draw(ws_queries(schema)) for _ in range(3)]
    if flat:
        queries.append("SELECT " + ", ".join(
            ".".join(f"`{seg}`" for seg in p) + f" AS c{i}" for i, p in enumerate(flat)
        ))
    for q in queries:
        try:
            want = reshape(df, q).schema
        except (AvroSqlError, AnalysisException):
            with pytest.raises(AvroSqlError):
                reshape_schema(spark, schema, q)
        else:
            assert reshape_schema(spark, schema, q) == want, q


@given(sr=schema_and_row())
@HSET
def test_nullability_monotone(spark, sr):
    schema, row = sr
    df = spark.createDataFrame([row], schema)
    paths = list(leaf_paths(schema))
    q = "SELECT " + ", ".join(
        f"{'.'.join(p)} as c{i}" for i, p in enumerate(paths)
    )
    out = reshape(df, q)
    for i, p in enumerate(paths):
        # if any ancestor (or the leaf) is nullable, output must be nullable
        cur, any_nullable = schema, False
        for seg in p:
            fld = cur[seg]
            any_nullable = any_nullable or fld.nullable
            cur = fld.dataType
        if any_nullable:
            assert out.schema[f"c{i}"].nullable, p


@given(
    tokens=st.lists(st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=4), max_size=400),
)
@HSET
def test_chunk_documents_invariants(spark, tokens):
    """Chunking invariants (128-token chunks every 96 tokens): chunk
    texts re-tokenize to slices of the source tokens, starts land on
    stride multiples, and the chunks cover every token."""
    from avro_sql_spark.operators.curation import chunk_documents

    chunk, stride = 128, 96
    docs = spark.createDataFrame([(1, " ".join(tokens))], "doc_id LONG, text STRING")
    out = sorted(chunk_documents(docs).collect(), key=lambda r: r["chunk_idx"])
    if not tokens:
        assert out == []
        return
    assert [r["chunk_idx"] for r in out] == list(range(len(out)))
    for r in out:
        s = r["chunk_idx"] * stride
        expect = tokens[s : s + chunk]
        assert r["chunk"].split(" ") == expect
        assert r["n_tokens"] == len(expect)
    # every token is covered by at least one chunk
    covered = max(r["chunk_idx"] * stride + r["n_tokens"] for r in out)
    assert covered == len(tokens)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
def test_prefix_filter_is_lossless(spark, texts):
    """For ANY corpus, prefix-filtered Jaccard pairs at 0.5 == full
    self-join pairs at 0.5 (the AllPairs bound may prune candidates,
    never answers) — the paper's guarantee as an executable property."""
    from avro_sql_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    full = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.jaccard_pairs_prefix(docs).collect()
    }
    assert pref == full


@given(
    weights=st.lists(st.integers(1, 1000), min_size=1, max_size=30),
    k=st.integers(1, 10),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
def test_weighted_take_invariants(spark, weights, k):
    """A-ES sampling: returns min(k, n) rows, a subset of the input,
    and is deterministic across reruns."""
    from avro_sql_spark.operators.curation import weighted_take

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, w long"
    )
    a = sorted(r["doc_id"] for r in weighted_take(docs, "w", k).collect())
    b = sorted(r["doc_id"] for r in weighted_take(docs, "w", k).collect())
    assert a == b
    assert len(a) == min(k, len(weights))
    assert set(a) <= set(range(len(weights)))


@given(
    texts=st.lists(
        # a two-word alphabet, so docs share 8-word spans often
        st.lists(st.sampled_from(["alpha", "beta"]), min_size=0, max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_remove_dup_spans_invariants(spark, texts):
    """For any corpus: output tokens are a subsequence of the input
    tokens; n_tokens_after <= n_tokens_before; the doc owning a span
    (smallest id containing it) never loses tokens to that span; and
    running the transform on a single-doc corpus is the identity."""
    from avro_sql_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs).collect()}
    for i, t in enumerate(texts):
        orig = [w for w in t.split(" ") if w != ""] if t else []
        got = [w for w in out[i]["text"].split(" ") if w != ""]
        assert out[i]["n_tokens_after"] <= out[i]["n_tokens_before"]
        # subsequence check
        it = iter(orig)
        assert all(any(w == o for o in it) for w in got)
    solo = remove_duplicated_spans(
        spark.createDataFrame([(0, texts[0])], ["doc_id", "text"])
    ).collect()[0]
    assert solo["n_tokens_after"] == solo["n_tokens_before"]


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=2,
        max_size=40,
    ).filter(lambda v: max(v) > min(v))
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_value_histogram_conservation(spark, vals):
    """Counts conserve rows; every bin index is within [0, 10); edges
    tile [min, max] exactly."""
    from avro_sql_spark.operators.profile import value_histogram

    df = spark.createDataFrame([("e", float(v)) for v in vals], ["event_type", "v"])
    rows = value_histogram(df, "v").collect()
    assert sum(r["n"] for r in rows) == len(vals)
    assert all(0 <= r["bin"] < 10 for r in rows)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.sampled_from(["a", "b", None])),
        min_size=0,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_snapshot_diff_self_is_empty_and_total(spark, rows):
    """diff(x, x) is empty; diff(empty, x) marks every key added."""
    from avro_sql_spark.operators.profile import snapshot_diff

    df = spark.createDataFrame(rows, "id long, value string") if rows else (
        spark.createDataFrame([], "id long, value string"))
    assert snapshot_diff(df, df, ["id"]).count() == 0
    empty = spark.createDataFrame([], "id long, value string")
    added = snapshot_diff(empty, df, ["id"]).collect()
    assert len(added) == len(rows)
    assert all(r["change_type"] == "added" for r in added)


@given(
    texts=st.lists(
        st.text(alphabet=list(string.ascii_lowercase) + [" "], min_size=0, max_size=80),
        min_size=1,
        max_size=6,
    ),
    nparts=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_hash_families_partitioning_invariant(spark, texts, nparts):
    """MinHash signatures and SimHash fingerprints are pure functions of
    the text — repartitioning (the thing a 100 TB rerun, AQE re-plan, or
    speculative retry changes) must not move a single bit. This is the
    rerun-stability contract every dedup decision downstream relies on."""
    from avro_sql_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    shuffled = df.repartition(nparts)

    base_min = {r["doc_id"]: r["signature"] for r in dedup.minhash_signatures(df).collect()}
    got_min = {
        r["doc_id"]: r["signature"] for r in dedup.minhash_signatures(shuffled).collect()
    }
    assert got_min == base_min

    base_sim = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    got_sim = {r["doc_id"]: r["simhash"] for r in dedup.simhash(shuffled).collect()}
    assert got_sim == base_sim


def test_hyperplane_bucket_partitioning_invariant(spark):
    """LSH bucket ids are plan-time-literal dot-product signs — stable
    under repartitioning and across separate plan constructions."""
    import random

    from pyspark.sql import functions as F

    from avro_sql_spark.operators.similarity import hyperplane_signature

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def buckets(frame):
        out = frame.select(
            "vec_id", hyperplane_signature("`embedding`", planes=6, dim=16).alias("b")
        )
        return {r["vec_id"]: r["b"] for r in out.collect()}

    base = buckets(df)
    assert buckets(df.repartition(5)) == base
    assert buckets(df.repartition(3, F.col("vec_id"))) == base


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10_000),                 # id
            st.sampled_from(["s1", "s2", "s3"]),    # group
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_grouped_hash_rank_equals_single_window(spark, rows):
    """Property: the bucketed two-pass per-group rank equals the naive
    one-window rank on arbitrary id/group frames (the prefix-bucket
    monotonicity argument, exercised rather than asserted)."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from avro_sql_spark.operators.curation import grouped_hash_rank

    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        (r["doc_id"], r["source"]): r["grank"]
        for r in grouped_hash_rank(df).collect()
    }
    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":cap")).cast("binary")
    )
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    want = {
        (r["doc_id"], r["source"]): r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w).cast("bigint")).collect()
    }
    assert got == want
