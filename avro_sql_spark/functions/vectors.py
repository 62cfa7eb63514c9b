"""Vector column helpers for embedding similarity (array<float|double>).

All JVM-side (``aggregate``/``zip_with``): the dot product and norms are
sequential folds, so results are bit-deterministic for a given element
order — which lets the DuckDB oracle reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; the epsilon floor keeps a zero vector at
    similarity 0 instead of aborting the job (Spark 4 runs ANSI mode by
    default, where double division by zero THROWS)."""
    return (dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(1e-12))).cast("double")


def quantize_scale(v: Column) -> Column:
    """Per-vector symmetric int8 scale: max|x| / 127 (never 0)."""
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    return F.greatest(absmax, F.lit(1e-12)) / F.lit(127.0)


def quantize(v: Column, scale: Column) -> Column:
    """Symmetric int8 codes: round(x / scale), range [-127, 127]."""
    return F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("int"))


def dequantize(codes: Column, scale: Column) -> Column:
    """Reconstruct doubles from int8 codes: code * scale."""
    return F.transform(codes, lambda c: c.cast("double") * scale)
