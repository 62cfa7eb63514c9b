"""Catalyst's types for the expressions the planners emit.

A planner builds each output column's SQL text (``sqltext``) and, in the
same walk, the ``StructField`` Catalyst's analyzer gives that text, so a
plan carries its own output schema and a schema-only reshape needs no
JVM. The rules are the analyzer's, for exactly these expression shapes:

 - a column `` `c` ``: ``c``'s type and nullability; an alias keeps its
   metadata, minus the analyzer's reference tags (``_inherited``)
 - an extraction ``x['f']``: ``f``'s type, nullable if ``x`` or ``f`` is;
   an alias keeps ``f``'s metadata
 - ``struct(e AS n, ...)``: never null; field ``n`` is ``e``'s alias
 - ``CASE WHEN ... THEN v ... END`` (no ``ELSE``): nullable, no metadata,
   the branch types merged by ``unify``
 - ``transform(a, x -> b)``: ``array<b>`` holding nulls iff ``b`` is
   nullable, nullable as ``a``
 - any other expression: an alias carries no metadata

``reshape`` still lets Catalyst type the frame it returns; the property
tests hold these rules to Catalyst's on random schemas.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from . import sqltext as sql


class Expr(NamedTuple):
    """SQL text with its type, nullability, and the metadata an alias of
    it carries."""

    sql: str
    dtype: DataType
    nullable: bool
    metadata: dict

    def named(self, name: str) -> StructField:
        return StructField(name, self.dtype, self.nullable, self.metadata)


class PlanColumn(NamedTuple):
    """One output column of a plan: ``expr AS name`` and its field."""

    sql: str
    field: StructField


def alias(expr: Expr, name: str) -> PlanColumn:
    return PlanColumn(sql.alias(expr.sql, name), expr.named(name))


def _inherited(metadata: dict) -> dict:
    """A column's metadata as an alias inherits it: the analyzer strips
    a Dataset column reference's tags (``__dataset_id`` with
    ``__col_position``) and a metadata column's true
    ``__qualified_access_only``."""
    drop = set()
    if "__dataset_id" in metadata and "__col_position" in metadata:
        drop.update(("__dataset_id", "__col_position"))
    if "__metadata_col" in metadata and metadata.get("__qualified_access_only") is True:
        drop.add("__qualified_access_only")
    if drop.isdisjoint(metadata):
        return metadata
    return {k: v for k, v in metadata.items() if k not in drop}


def member(base: Expr | None, f: StructField) -> Expr:
    """Field ``f`` of ``base``; the top-level column ``f`` when ``base``
    is ``None``."""
    if base is None:
        return Expr(sql.ident(f.name), f.dataType, f.nullable, _inherited(f.metadata))
    return Expr(sql.field(base.sql, f.name), f.dataType, base.nullable or f.nullable, f.metadata)


def variable(name: str, dtype: DataType, nullable: bool) -> Expr:
    """A lambda variable."""
    return Expr(name, dtype, nullable, {})


def struct(pairs: list[tuple[str, Expr]]) -> Expr:
    return Expr(
        sql.struct([(n, e.sql) for n, e in pairs]),
        StructType([e.named(n) for n, e in pairs]),
        False,
        {},
    )


def unless_null(guard: Expr, value: Expr) -> Expr:
    """``value``, or null where ``guard`` is null."""
    return Expr(sql.case([(f"{guard.sql} IS NOT NULL", value.sql)]), value.dtype, True, {})


def transform(array: Expr, var: Expr, body: Expr) -> Expr:
    return Expr(
        f"transform({array.sql}, {var.sql} -> {body.sql})",
        ArrayType(body.dtype, body.nullable),
        array.nullable,
        {},
    )


def unify(a: DataType, b: DataType) -> DataType | None:
    """The type of a ``CASE`` whose branches are ``a`` and ``b``: ``a``
    when equal; when they differ only in null flags or field metadata,
    the same shape with the flags OR-ed and the rebuilt fields' metadata
    dropped; ``None`` otherwise. Catalyst would cast to a wider type
    (``int`` to ``bigint``) or match field names ignoring case; a map's
    values keep one Avro schema, so neither is accepted here."""
    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType) and len(a.fields) == len(b.fields):
        fields = []
        for fa, fb in zip(a.fields, b.fields):
            t = unify(fa.dataType, fb.dataType) if fa.name == fb.name else None
            if t is None:
                return None
            fields.append(StructField(fa.name, t, fa.nullable or fb.nullable))
        return StructType(fields)
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        t = unify(a.elementType, b.elementType)
        return None if t is None else ArrayType(t, a.containsNull or b.containsNull)
    if isinstance(a, MapType) and isinstance(b, MapType):
        k, v = unify(a.keyType, b.keyType), unify(a.valueType, b.valueType)
        if k is None or v is None:
            return None
        return MapType(k, v, a.valueContainsNull or b.valueContainsNull)
    return None
