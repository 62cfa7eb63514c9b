"""``withstructure`` mode — structure-retaining projection (O10-O13).

The novel part of the engine (SURVEY.md §4.2): cherry-pick / rename /
reorder fields at any depth while keeping the enclosing structure,
including *inside* arrays-of-records and maps. The reference walks each
record recursively per message (AvroSql.scala:106-116,164-305); here the
same recursion runs ONCE over the ``StructType`` at plan time and emits
Spark SQL expression text — ``struct(...)`` rebuilds for records,
``transform`` lambdas for arrays, ``map_entries`` rewrites for map key
selection/rename — typed as Catalyst types it (``typed``), with no JVM
call until the one ``df.selectExpr``, so execution is a single
codegen'd ``Project`` with no per-row Python.

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

from pyspark.sql.types import ArrayType, MapType, StringType, StructField, StructType

from ..errors import AvroSqlError
from . import sqltext as sql
from . import typed
from .fields import Field, NameAllocator, SqlContext
from .typed import Expr, PlanColumn


def plan_withstructure(schema: StructType, fields: list[Field]) -> list[PlanColumn] | None:
    """Return the aliased top-level select list as SQL expressions with
    their fields, or ``None`` for identity (lone ``SELECT *``,
    AvroSqlWithRetainStructureTest.scala:72-81)."""
    if len(fields) == 1 and fields[0].is_star and not fields[0].has_parents:
        return None
    pairs = _Planner(SqlContext(fields)).project_record(schema, (), None)
    return [typed.alias(expr, name) for name, expr in pairs]


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
        self, dtype: StructType, parents: tuple[str, ...], base: Expr | None
    ) -> list[tuple[str, Expr]]:
        """The ``(name, expr)`` fields of the record ``base`` (the
        top-level row when ``None``) of type ``dtype``."""
        entries = self.ctx.entries_for_path(parents)
        if not entries:
            # no selection at/below this level → copy all fields unchanged
            return [(f.name, typed.member(base, f)) for f in dtype.fields]

        mentioned: set[str] = set()
        for kind, val in entries:
            if kind == "L" and not val.is_star:
                mentioned.add(val.name)
            elif kind == "R":
                mentioned.add(val)

        names = dtype.fieldNames()
        alloc = NameAllocator()
        out: list[tuple[str, Expr]] = []
        for kind, val in entries:
            if kind == "L" and val.is_star:
                for sub in dtype.fields:
                    if sub.name not in mentioned:
                        out.append((alloc.allocate(sub.name), typed.member(base, sub)))
            elif kind == "L":
                if val.name not in names:
                    raise AvroSqlError(
                        f"Invalid selecting {val.path}. Schema doesn't contain it."
                    )
                sf = dtype.fields[names.index(val.name)]
                out.append((alloc.allocate(val.alias), typed.member(base, sf)))
            else:
                if val not in names:
                    raise AvroSqlError(
                        f"Invalid selecting {'.'.join((*parents, val))}. Schema doesn't contain it."
                    )
                sf = dtype.fields[names.index(val)]
                expr = self.project_any((*parents, val), typed.member(base, sf), sf.nullable)
                out.append((alloc.allocate(val), expr))
        return out

    def project_any(self, parents: tuple[str, ...], expr: Expr, nullable: bool) -> Expr:
        """Project the value ``expr`` at path ``parents``. ``nullable`` is
        the value's own null flag: whether its rebuild needs a null guard
        (Catalyst's flag for ``expr`` also counts nullable ancestors,
        which an enclosing guard already excludes)."""
        ctx = self.ctx
        dtype = expr.dtype
        if isinstance(dtype, StructType):
            if not ctx.has_entries_under(parents):
                return expr
            rebuilt = typed.struct(self.project_record(dtype, parents, expr))
            # a null input struct must stay null, not become struct(null, ...)
            return typed.unless_null(expr, rebuilt) if nullable else rebuilt
        if isinstance(dtype, ArrayType):
            # arrays are transparent to the path (AvroSql.scala:172-185)
            if not ctx.has_entries_under(parents):
                return expr
            e = typed.variable(self.fresh_lambda(), dtype.elementType, dtype.containsNull)
            return typed.transform(expr, e, self.project_any(parents, e, dtype.containsNull))
        if isinstance(dtype, MapType):
            return self.project_map(parents, expr)
        if ctx.has_entries_under(parents):
            raise AvroSqlError(f"You can't select fields from schema:{dtype.simpleString()}")
        return expr

    def project_map(self, parents: tuple[str, ...], expr: Expr) -> Expr:
        """Map semantics per AvroSql.scala:246-278: the path segment after a
        map addresses a KEY. ``attrs.a as x`` keeps key ``a`` renamed ``x``
        (absent keys silently skipped, :270); ``attrs.*``/bare ``attrs``
        keeps all keys; a deeper path ``attrs.a.v`` keeps key ``a`` and
        projects ``v`` inside its value. Spark's map is monomorphic, so the
        per-key value projections must have one type: types that differ
        only in null flags merge (``typed.unify``), any other difference
        raises."""
        entries = self.ctx.entries_for_path(parents)
        if not entries:
            return expr
        dtype: MapType = expr.dtype
        path = ".".join(parents)
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
        if dtype.keyType != StringType():
            # keys are named by identifiers: Avro map keys are strings
            raise AvroSqlError(
                f"Can't select keys of map {path}: its keys are "
                f"{dtype.keyType.simpleString()}, not string"
            )
        deeper_keys = [s for s in selected if s[2] is not None]
        if deeper_keys and (star or len(deeper_keys) != len(selected)):
            # Spark maps are monomorphic: a projected value type can't
            # coexist with whole values in one map column
            raise AvroSqlError(
                f"Can't mix whole-value and projected-value key selections in map {path}"
            )

        entries_sql = f"map_entries({expr.sql})"
        if not star:
            e = self.fresh_lambda()
            keys = ", ".join(sql.string(orig) for orig, _, _ in selected)
            entries_sql = f"filter({entries_sql}, {e} -> {sql.field(e, 'key')} IN ({keys}))"

        entry = StructType(
            [
                StructField("key", dtype.keyType, False),
                StructField("value", dtype.valueType, dtype.valueContainsNull),
            ]
        )
        e = typed.variable(self.fresh_lambda(), entry, False)
        key, value = typed.member(e, entry["key"]), typed.member(e, entry["value"])
        renames = [
            (f"{key.sql} = {sql.string(orig)}", sql.string(alias))
            for orig, alias, _ in selected
            if orig != alias
        ]
        new_key = key._replace(sql=sql.case(renames, otherwise=key.sql)) if renames else key
        if deeper_keys:
            value = self.project_values(path, key, value, deeper_keys, dtype.valueContainsNull)
        rewritten = typed.struct([("key", new_key), ("value", value)])
        return Expr(
            f"map_from_entries(transform({entries_sql}, {e.sql} -> {rewritten.sql}))",
            MapType(dtype.keyType, value.dtype, value.nullable),
            expr.nullable,
            {},
        )

    def project_values(
        self,
        path: str,
        key: Expr,
        value: Expr,
        deeper_keys: list[tuple[str, str, tuple[str, ...]]],
        nullable: bool,
    ) -> Expr:
        """``CASE WHEN key = 'k' THEN <k's projection of value> ... END``,
        typed as Catalyst merges the branches."""
        branches, dtype = [], None
        for orig, _, deeper in deeper_keys:
            projected = self.project_any(deeper, value, nullable)
            merged = projected.dtype if dtype is None else typed.unify(dtype, projected.dtype)
            if merged is None:
                raise AvroSqlError(
                    f"Invalid selecting in map {path}: the projection of key '{orig}' "
                    f"({projected.dtype.simpleString()}) differs from the other keys' "
                    f"({dtype.simpleString()}); a map's values must keep one type"
                )
            branches.append((f"{key.sql} = {sql.string(orig)}", projected.sql))
            dtype = merged
        return Expr(sql.case(branches), dtype, True, {})
