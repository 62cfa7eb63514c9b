"""Flatten-mode planner (reference O4-O9, O14, O15).

Derives, ONCE at plan time, the ordered list of Spark SQL expression
strings for a flatten-mode reshape (`` `a`['b']['c'] AS `x` ``), each
with the field Catalyst types it as (``typed``) — the Spark-first
replacement for the reference's per-record walk (AvroSql.scala:118-162
values, AvroSchemaSql.scala:105-240 schema). Planning is pure Python;
the strings reach the JVM in one ``df.selectExpr``. Catalyst's
``ExtractValue`` gives null-safe dotted-path navigation and nullability
propagation through nullable ancestors natively (SURVEY.md §1.2, O14),
so the planner only validates, orders, names and types; the result is a
single ``Project`` node — whole-stage-codegen'd, zero per-row Python,
safe at any scale.

Semantics mirrored from the reference:
 - lone ``SELECT *`` is identity passthrough (AvroSchemaSql.scala:107-111)
 - star-with-exclusion: ``*`` expands the fields at its path minus fields
   explicitly selected elsewhere at the same path, in schema order at the
   star's position (AvroSql.scala:134-154)
 - ``_N`` suffix dedup of colliding output names
   (AvroSchemaSql.scala:161-171)
 - flatten guards: ARRAY/MAP leaves rejected (AvroSchemaSql.scala:372-379),
   paths may not traverse arrays/maps (AvroFieldValueGetter.scala:54-61),
   nested star must resolve to a record (AvroSchemaSql.scala:193-201)
"""

from __future__ import annotations

from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from ..errors import AvroSqlError
from . import typed
from .fields import Field, NameAllocator
from .typed import Expr, PlanColumn


def _resolve(schema: StructType, path: tuple[str, ...]) -> tuple[DataType, Expr | None]:
    """Walk ``path`` through nested structs: the type at its end and the
    typed extraction reaching it (``None`` for the empty path). Rejects
    array/map traversal with the reference's messages."""
    current: DataType = schema
    expr = None
    for seg in path:
        if isinstance(current, ArrayType):
            raise AvroSqlError(f"Can't select an element from an array(schema:{current.simpleString()})")
        if isinstance(current, MapType):
            raise AvroSqlError(
                f"Can't select fields {'.'.join(path)} since it resolved to a Map({current.simpleString()})"
            )
        if not isinstance(current, StructType):
            raise AvroSqlError(f"Can't select field:{seg} from {current.simpleString()}")
        names = current.fieldNames()
        if seg not in names:
            raise AvroSqlError(
                f"Can't find field:{seg} in schema:{current.simpleString()}"
            )
        sf = current.fields[names.index(seg)]
        expr = typed.member(expr, sf)
        current = sf.dataType
    return current, expr


def _check_flatten_leaf(dtype: DataType, path: str, schema: StructType) -> None:
    if isinstance(dtype, (ArrayType, MapType)):
        raise AvroSqlError(
            f"Can't flatten from schema:{schema.simpleString()} by selecting '{path}'"
        )


def plan_flatten(schema: StructType, fields: list[Field]) -> list[PlanColumn] | None:
    """Return the aliased select list as SQL expressions with their
    fields, or ``None`` for identity (lone ``SELECT *``)."""
    if len(fields) == 1 and fields[0].is_star and not fields[0].has_parents:
        return None  # identity passthrough (O15)

    # explicit (non-star) selections grouped by path — used for
    # star-with-exclusion and duplicate detection
    explicit_by_path: dict[tuple[str, ...], list[str]] = {}
    for f in fields:
        if not f.is_star:
            names = explicit_by_path.setdefault(f.parents, [])
            if f.name in names:
                raise AvroSqlError(
                    f"Invalid selecting {f.path}. '{f.name}' is defined more than once"
                )
            names.append(f.name)

    alloc = NameAllocator()
    out: list[PlanColumn] = []
    for f in fields:
        if f.is_star:
            parent_dtype, parent = _resolve(schema, f.parents)
            if not isinstance(parent_dtype, StructType):
                raise AvroSqlError(
                    f"Field selection {'.'.join(f.parents)} resolves to schema type:"
                    f"{parent_dtype.simpleString()}. Only RECORD type is allowed"
                )
            excluded = set(explicit_by_path.get(f.parents, ()))
            for sub in parent_dtype.fields:
                if sub.name in excluded:
                    continue
                _check_flatten_leaf(sub.dataType, ".".join((*f.parents, sub.name)), schema)
                out.append(typed.alias(typed.member(parent, sub), alloc.allocate(sub.name)))
        else:
            leaf_dtype, leaf = _resolve(schema, (*f.parents, f.name))
            _check_flatten_leaf(leaf_dtype, f.path, schema)
            out.append(typed.alias(leaf, alloc.allocate(f.alias)))
    return out
