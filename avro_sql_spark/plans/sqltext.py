"""Spark SQL text builders for the planners.

A plan is a list of SQL expression strings, one per output column, handed
to ``df.selectExpr`` in one call. Each builder here spells the same
expression tree the ``pyspark.sql.functions`` API would build, so the
analyzed plan is unchanged; building strings is pure Python and costs no
JVM round trip per node.

Every string must parse to the same tree whatever the session's
``spark.sql.parser.escapedStringLiterals`` says. Backquoted identifiers
never interpret a backslash, so names are always safe. A quoted string
literal is only safe when it holds neither ``'`` nor ``\\``; other
strings are written as a UTF-8 binary literal cast to string.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """Backquoted identifier: a top-level column or an alias
    (``F.col("`name`")``)."""
    return "`" + name.replace("`", "``") + "`"


def _plain(s: str) -> bool:
    return "'" not in s and "\\" not in s


def string(s: str) -> str:
    """An expression for the string value ``s`` (``F.lit(s)``)."""
    if _plain(s):
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex().upper()}' AS STRING)"


def field(base: str, name: str) -> str:
    """Struct field ``name`` of ``base`` (``col[name]``, an
    ``UnresolvedExtractValue``). The extraction must be a string
    literal, so a name holding ``'`` or ``\\`` is written as a backquoted
    dereference instead: the parser builds the same extraction from it,
    except on a bare column, where it folds into one multi-part name
    (``a.`x\\y```). That name resolves to the same nested field unless
    the frame also carries a table alias ``a`` with a column ``x\\y``."""
    if _plain(name):
        return f"{base}['{name}']"
    return f"{base}.{ident(name)}"


def alias(expr: str, name: str) -> str:
    return f"{expr} AS {ident(name)}"


def struct(pairs: list[tuple[str, str]]) -> str:
    """Struct of ``(name, expr)`` pairs (``F.struct`` of aliased
    columns)."""
    return "struct(" + ", ".join(alias(e, n) for n, e in pairs) + ")"


def case(branches: list[tuple[str, str]], otherwise: str | None = None) -> str:
    """``CASE WHEN c THEN v ... [ELSE otherwise] END`` (``F.when``
    chain, with ``otherwise`` only when given)."""
    out = "CASE " + " ".join(f"WHEN {c} THEN {v}" for c, v in branches)
    if otherwise is not None:
        out += f" ELSE {otherwise}"
    return out + " END"

