"""Vector math over `array<float|double>` columns — pure JVM expressions.

Everything here stays inside whole-stage codegen (`F.zip_with` /
`F.aggregate` / `F.transform`): no Python boundary in the hot path. Inputs
are cast to double element-wise so Spark and the DuckDB oracle accumulate
identically ordered double sums.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["as_double", "dot", "norm", "normalize"]


def as_double(v: Column | str) -> Column:
    v = F.col(v) if isinstance(v, str) else v
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — sequential left fold, matching the
    oracle's accumulation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def normalize(a: Column) -> Column:
    """Unit-normalize; after this, cosine(a,b) == dot(a,b) — precompute once
    per row so an N×M similarity join does one multiply-add per element and
    zero sqrt in the inner loop."""
    n = norm(a)
    return F.transform(a, lambda x: x / n)
