"""PMR aggregates: `getAvg` / `getMax` / `getMin`, the reference's
analytical core (`combined_flask.py:549-802`), as a map step and a reduce.

The reference computes one `(partial, size)` pair per partition
(`calcAvg/calcMax/calcMin`, `combined_flask.py:727-760`) and a reduce step
merges the pairs (`combined_flask.py:762-802`). The engine keeps that
split:
- the map step is `sources.partials.map_partials`: one Spark aggregate
  grouped by the partition column, giving per partition key the row
  count and the column's non-null count, sum, min and max;
- `get_avg/get_max/get_min` are the reduce over those rows, on the
  driver, and the only reduce. The count every reference map emits
  (`combined_flask.py:734`) is the partials' row count per key
  (`Partials.sizes`) and the non-null count per column.

The reduce takes a table's `Partials`, the map output kept by its
catalog handle (`TableHandle.partials`), built once per table version
for every numeric column; the reduce runs no Spark job. It holds four
values per partition key and numeric column, so its memory is
partitions × columns, never rows. A caller holding only a frame maps
it first (`map_partials(df)`, one Spark job).

The reduce reproduces Spark's answers: the avg sums in Spark's
accumulator type (double, or a decimal with Spark's result scale and
HALF_UP rounding), NaN orders above every number, and a partition
without non-null values contributes nothing, so an all-null column, a
hash key that selects nothing or an empty table answers None.

Semantics (SURVEY.md §2.4) are SQL-correct null skipping. For `avg`
this already EQUALS the reference (its NaN-partition exclusion,
`combined_flask.py:763-764`, is exactly null-skipping avg). The
reference's two quirks are served as registered queries, not here:
`pmr_legacy_max` (max with nulls→0, floored at 0, `combined_flask.py:741`,
`:777`) and `pmr_legacy_min_firebase` (min seeded with 0, the Firebase
backend's bug, `combined_flask.py:1676-1688`).

`hash` partition pruning (`combined_flask.py:459-465`) selects the
partition keys equal to the hash value (`Partials.select`), as a filter
on the ingest partition column would.

Debug channel (`combined_flask.py:712-717`): `partition_debug` lists the
table's EDFS partitions, numbered 1..n in `readPartition` /
`getPartitionLocations` order, each with its partial (the same reduce
over that one partition) and its row count — the reference's
per-partition `{Partition, Input, Output}`.
"""

from __future__ import annotations

import decimal
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import types as T

from ..sources.partials import Partials

__all__ = [
    "validate_numeric",
    "get_avg",
    "get_max",
    "get_min",
    "partition_debug",
    "format_result",
    "HARDCODED_AVG_COLUMNS",
]

# Hardcoded-column endpoints, surface parity with the reference's NHANES
# demo routes: each is `getAvg` with the column bound server-side
# (`fs_commands.py:396-460` getAvgFamilyIncome=INDFMIN2,
# getAvgTimeInUS=DMDYRSUS; `proj-firebase-flask.py:637-703`
# firebase_getAvgGripStrn=MGDCGSZ, firebase_getAvgArmCircum=BMXARMC).
HARDCODED_AVG_COLUMNS = {
    "getAvgFamilyIncome": "INDFMIN2",
    "getAvgTimeInUS": "DMDYRSUS",
    "firebase_getAvgGripStrn": "MGDCGSZ",
    "firebase_getAvgArmCircum": "BMXARMC",
}


def validate_numeric(partials: Partials, col: str) -> None:
    """Fail-fast type gate. The reference reads partition 1 and checks the
    pandas dtype (`combined_flask.py:563-578`); with a real schema this is a
    zero-IO analysis-time check."""
    if col not in partials.schema.fieldNames():
        raise KeyError(f"column {col!r} does not exist")
    if not isinstance(partials.schema[col].dataType, T.NumericType):
        raise TypeError(f"column {col!r} is not numeric")


def _mapped(partials: Partials, col: str, hash_value: Any | None) -> tuple[list[tuple], T.DataType]:
    """The map step's `(non-null count, sum, min, max)` rows of `col` for
    the partitions `hash_value` selects, skipping partitions with no
    non-null value, and the column's type."""
    validate_numeric(partials, col)
    rows = partials.columns[col]
    return [rows[i] for i in partials.select(hash_value) if rows[i][0]], partials.schema[col].dataType


def _order(v):
    """Spark's ordering of numbers: NaN above everything."""
    return (v != v, v)


def _avg(rows: list[tuple], dtype: T.DataType):
    n = sum(r[0] for r in rows)
    if not n:
        return None
    if not isinstance(dtype, T.DecimalType):
        return sum(r[1] for r in rows) / n
    # Spark's decimal avg: the exact quotient, HALF_UP at scale s + 4
    with decimal.localcontext() as ctx:
        ctx.prec = 100
        exact = sum(r[1] for r in rows) / Decimal(n)
        return exact.quantize(Decimal(1).scaleb(-min(dtype.scale + 4, 38)), decimal.ROUND_HALF_UP)


def _max(rows: list[tuple], dtype: T.DataType):
    return max((r[3] for r in rows), key=_order, default=None)


def _min(rows: list[tuple], dtype: T.DataType):
    return min((r[2] for r in rows), key=_order, default=None)


def get_avg(partials: Partials, col: str, hash_value: Any | None = None) -> float | None:
    """Reference `getAvg` (`combined_flask.py:549-597`). Spark's null-skipping
    `avg` matches the reference's NaN-partition exclusion exactly."""
    return _avg(*_mapped(partials, col, hash_value))


def get_max(partials: Partials, col: str, hash_value: Any | None = None) -> float | None:
    """Reference `getMax` (`combined_flask.py:599-647`)."""
    return _max(*_mapped(partials, col, hash_value))


def get_min(partials: Partials, col: str, hash_value: Any | None = None) -> float | None:
    """Reference `getMin` (`combined_flask.py:649-697`)."""
    return _min(*_mapped(partials, col, hash_value))


_PARTIAL: dict[str, Callable] = {"avg": _avg, "max": _max, "min": _min}


def partition_debug(partials: Partials, col: str, agg: str = "avg") -> list[dict]:
    """`debug=true` channel (`combined_flask.py:712-717`, `:771-772`): one
    entry per EDFS partition of the whole table, numbered 1..n in
    `readPartition` order, with its partial aggregate and row count. No
    Spark job runs."""
    validate_numeric(partials, col)
    dtype = partials.schema[col].dataType
    return [
        {"partition": i + 1, "partial": _PARTIAL[agg]([r] if r[0] else [], dtype), "size": size}
        for i, (r, size) in enumerate(zip(partials.columns[col], partials.sizes))
    ]


def format_result(kind: str, value: float | None) -> str:
    """Observable output contract: `"The overall average is {x:.3f}"`
    (`combined_flask.py:770`, `:784`, `:798`)."""
    label = {"avg": "average", "max": "maximum", "min": "minimum"}[kind]
    if value is None:
        return f"The overall {label} is undefined (no rows)"
    return f"The overall {label} is {value:.3f}"
