"""Morton (Z-order) z-values as Catalyst expressions.

Interleaving the bits of two bucketized dimensions into a Morton z-value
and laying a table out in z-order gives every file a tight min/max
envelope on BOTH dimensions — the trick behind Delta's OPTIMIZE ZORDER
and Iceberg's z-ordered rewrites. The z-value is pure codegen bit-math
(the classic 4-step magic-mask spread): no Python, and exactly
restatable in any SQL dialect with <<, &, |. `zorder_zvalues` serves it
over integer-exact bucket ids.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["spread_bits16", "zvalue16"]

_MASKS16 = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread_bits16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` so bit i lands at position 2i —
    the standard magic-mask interleave half (4 shift+mask steps, exactly
    restatable in any SQL dialect with <<, &, |)."""
    x = c.cast("long")
    for shift, mask in _MASKS16:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue16(a: Column, b: Column) -> Column:
    """Morton z-value of two 16-bit bucket ids: interleave a's bits at
    even positions, b's at odd. Inputs must already be in [0, 65536)."""
    return spread_bits16(a).bitwiseOR(F.shiftleft(spread_bits16(b), 1))

