"""Relational operators beyond the reference's surface.

The reference has NO user-facing joins, windows, sorts, limits, or set ops —
SQL joins appear only internally to stitch replica metadata
(`combined_flask.py:284-295`, `:251-260`). SURVEY.md §2.5 directs exposing
the full relational surface as Spark built-ins; these wrappers add the
scale-relevant decisions (broadcast hints, deterministic top-k) rather than
re-implementing anything.

Scale notes baked in:
- `join(..., broadcast_hint=True)` wraps the right side in
  `F.broadcast` — a dimension under the broadcast threshold skips the
  shuffle of the fact table entirely (sort-merge → broadcast-hash).
- `top_k` is `orderBy().limit(k)`: Catalyst executes it as
  TakeOrderedAndProject — per-partition partial top-k then a single merge,
  never a global sort of all rows.
- Set ops and dedup map to built-ins, which already do partial
  aggregation map-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["join", "top_k", "union_all", "intersect", "except_all", "distinct"]


def join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
    broadcast_hint: bool = False,
) -> DataFrame:
    """All join types incl. left_semi / left_anti. ``broadcast_hint``
    broadcasts the right side (use for dims ≪ facts)."""
    r = F.broadcast(right) if broadcast_hint else right
    return left.join(r, on=on, how=how)


def top_k(df: DataFrame, order: Sequence[Column | str], k: int) -> DataFrame:
    """Deterministic top-k — callers should include a unique tiebreaker
    column in ``order``. Executes as TakeOrderedAndProject (no global sort)."""
    return df.orderBy(*order).limit(k)


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b)


def intersect(a: DataFrame, b: DataFrame, all: bool = False) -> DataFrame:
    return a.intersectAll(b) if all else a.intersect(b)


def except_all(a: DataFrame, b: DataFrame, all: bool = False) -> DataFrame:
    return a.exceptAll(b) if all else a.subtract(b)


def distinct(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    return df.dropDuplicates(subset) if subset else df.distinct()
