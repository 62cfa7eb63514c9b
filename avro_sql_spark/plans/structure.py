"""``withstructure`` mode — structure-retaining projection (O10-O13).

The novel part of the engine (SURVEY.md §4.2): cherry-pick / rename /
reorder fields at any depth while keeping the enclosing structure,
including *inside* arrays-of-records and maps. The reference walks each
record recursively per message (AvroSql.scala:106-116,164-305); here the
same recursion runs ONCE over the ``StructType`` at plan time and emits
Spark SQL expression text — ``struct(...)`` rebuilds for records,
``transform`` lambdas for arrays, ``map_entries`` rewrites for map key
selection/rename — with no JVM call until the one ``df.selectExpr``, so
execution is a single codegen'd ``Project`` with no per-row Python.

Semantics mirrored from the reference tests
(AvroSqlWithRetainStructureTest.scala):
 - output field order at every level = query order of first mention;
   ``*`` fills the not-explicitly-mentioned fields in schema order at the
   star's position (:83-128)
 - arrays are transparent to paths: ``ingredients.name`` projects inside
   each element (:158-290, AvroSql.scala:172-185)
 - a level with no selection below it is copied unchanged
 - nulls propagate: a null struct stays null after reshape (the rebuild is
   guarded with ``CASE WHEN col IS NOT NULL THEN ... END``), matching
   AvroFieldValueGetter's null propagation
 - map key select/rename per AvroSql.scala:246-278: explicit names at a
   map's path select keys (renamed to their alias, absent keys silently
   skipped); deeper paths project inside the values
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from ..errors import AvroSqlError
from . import sqltext as sql
from .fields import Field, NameAllocator, SqlContext

Getter = Callable[[str], str]


def plan_withstructure(schema: StructType, fields: list[Field]) -> list[str] | None:
    """Return the aliased top-level select list as SQL expressions, or
    ``None`` for identity (lone ``SELECT *``,
    AvroSqlWithRetainStructureTest.scala:72-81)."""
    if len(fields) == 1 and fields[0].is_star and not fields[0].has_parents:
        return None
    pairs = _Planner(SqlContext(fields)).project_record(schema, (), sql.ident)
    return [sql.alias(expr, name) for name, expr in pairs]


class _Planner:
    """One plan's recursion state: the projection list and the count of
    lambda variables handed out so far."""

    def __init__(self, ctx: SqlContext):
        self.ctx = ctx
        self.n_lambdas = 0

    def fresh_lambda(self) -> str:
        """``__e1``, ``__e2``, ... Lambda bodies only reference their own
        variable, so a column of the same name is never shadowed."""
        self.n_lambdas += 1
        return f"__e{self.n_lambdas}"

    def project_record(
        self, dtype: StructType, parents: tuple[str, ...], get: Getter
    ) -> list[tuple[str, str]]:
        entries = self.ctx.entries_for_path(parents)
        if not entries:
            # no selection at/below this level → copy all fields unchanged
            return [(f.name, get(f.name)) for f in dtype.fields]

        mentioned: set[str] = set()
        for kind, val in entries:
            if kind == "L" and not val.is_star:
                mentioned.add(val.name)
            elif kind == "R":
                mentioned.add(val)

        names = set(dtype.fieldNames())
        alloc = NameAllocator()
        out: list[tuple[str, str]] = []
        for kind, val in entries:
            if kind == "L" and val.is_star:
                for sub in dtype.fields:
                    if sub.name not in mentioned:
                        out.append((alloc.allocate(sub.name), get(sub.name)))
            elif kind == "L":
                if val.name not in names:
                    raise AvroSqlError(
                        f"Invalid selecting {val.path}. Schema doesn't contain it."
                    )
                out.append((alloc.allocate(val.alias), get(val.name)))
            else:
                if val not in names:
                    raise AvroSqlError(
                        f"Invalid selecting {'.'.join((*parents, val))}. Schema doesn't contain it."
                    )
                sf = dtype[val]
                expr = self.project_any(sf.dataType, (*parents, val), get(val), sf.nullable)
                out.append((alloc.allocate(val), expr))
        return out

    def project_any(
        self, dtype: DataType, parents: tuple[str, ...], expr: str, nullable: bool
    ) -> str:
        ctx = self.ctx
        if isinstance(dtype, StructType):
            if not ctx.has_entries_under(parents):
                return expr
            pairs = self.project_record(dtype, parents, lambda n: sql.field(expr, n))
            rebuilt = sql.struct(pairs)
            # a null input struct must stay null, not become struct(null, ...)
            return sql.case([(f"{expr} IS NOT NULL", rebuilt)]) if nullable else rebuilt
        if isinstance(dtype, ArrayType):
            # arrays are transparent to the path (AvroSql.scala:172-185)
            if not ctx.has_entries_under(parents):
                return expr
            e = self.fresh_lambda()
            body = self.project_any(dtype.elementType, parents, e, dtype.containsNull)
            return f"transform({expr}, {e} -> {body})"
        if isinstance(dtype, MapType):
            return self.project_map(dtype, parents, expr)
        if ctx.has_entries_under(parents):
            raise AvroSqlError(f"You can't select fields from schema:{dtype.simpleString()}")
        return expr

    def project_map(self, dtype: MapType, parents: tuple[str, ...], expr: str) -> str:
        """Map semantics per AvroSql.scala:246-278: the path segment after a
        map addresses a KEY. ``attrs.a as x`` keeps key ``a`` renamed ``x``
        (absent keys silently skipped, :270); ``attrs.*``/bare ``attrs``
        keeps all keys; a deeper path ``attrs.a.v`` keeps key ``a`` and
        projects ``v`` inside its value. Per-key value projections must
        unify to one type (Spark's map is monomorphic — analysis error
        otherwise)."""
        entries = self.ctx.entries_for_path(parents)
        if not entries:
            return expr
        vtype = dtype.valueType
        star = any(kind == "L" and f.is_star for kind, f in entries)
        # (original key, output key, deeper-projection path or None)
        selected: list[tuple[str, str, tuple[str, ...] | None]] = []
        for kind, val in entries:
            if kind == "L" and not val.is_star:
                selected.append((val.name, val.alias, None))
            elif kind == "R":
                selected.append((val, val, (*parents, val)))

        if not selected:
            return expr
        deeper_keys = [s for s in selected if s[2] is not None]
        if deeper_keys and (star or len(deeper_keys) != len(selected)):
            # Spark maps are monomorphic: a projected value type can't
            # coexist with whole values in one map column
            raise AvroSqlError(
                f"Can't mix whole-value and projected-value key selections in map "
                f"{'.'.join(parents)}"
            )

        entries_expr = f"map_entries({expr})"
        if not star:
            e = self.fresh_lambda()
            keys = ", ".join(sql.string(orig) for orig, _, _ in selected)
            entries_expr = f"filter({entries_expr}, {e} -> {sql.field(e, 'key')} IN ({keys}))"

        e = self.fresh_lambda()
        key, value = sql.field(e, "key"), sql.field(e, "value")
        renames = [
            (f"{key} = {sql.string(orig)}", sql.string(alias))
            for orig, alias, _ in selected
            if orig != alias
        ]
        new_key = sql.case(renames, otherwise=key) if renames else key
        if deeper_keys:
            new_value = sql.case(
                [
                    (
                        f"{key} = {sql.string(orig)}",
                        self.project_any(vtype, deeper, value, dtype.valueContainsNull),
                    )
                    for orig, _, deeper in deeper_keys
                ]
            )
        else:
            new_value = value
        rewritten = sql.struct([("key", new_key), ("value", new_value)])
        return f"map_from_entries(transform({entries_expr}, {e} -> {rewritten}))"
