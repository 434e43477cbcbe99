"""PMR partials: the map step of `getAvg` / `getMax` / `getMin`, kept.

The reference's PMR layer maps each EDFS partition to a `(partial, size)`
pair (`calcAvg/calcMax/calcMin`, `combined_flask.py:727-760`) and reduces
the pairs (`combined_flask.py:762-802`). `map_partials` is that map step
for many columns at once: ONE Spark aggregate grouped by the partition
column, collected to the driver as, per partition key, its row count and,
for each column, the non-null count, sum, min and max. The sum is taken
in the type Spark's `avg` accumulates in: double for integral and
floating columns, the column's decimal widened by 10 digits for decimals.

The reduce (`operators/aggregates.py`) merges these rows on the driver,
so a table's partials answer every aggregate, the `debug` channel and
`getPartitionLocations` until the table changes. Their size is one row
per partition key with four values per numeric column (keys × columns,
the order of a namenode's block map), independent of the table's rows.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from decimal import Decimal, InvalidOperation
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ingest import PARTITION_COL

__all__ = ["Partials", "map_partials", "key_order"]

_INTEGER = re.compile(r"[+-]?\d+")


def key_order(key):
    """Sort key for partition values: nulls first, like Spark's ascending
    order."""
    return (key is not None, key)


@dataclass(frozen=True)
class Partials:
    """The map step's output for one frame.

    `keys` are the sorted partition keys (one `None` key for a frame
    without the partition column), `sizes` their row counts, and
    `columns[c][i]` is `(non-null count, sum, min, max)` of column `c`
    in partition `keys[i]`."""

    schema: T.StructType
    keys: list
    sizes: list[int]
    columns: dict[str, list[tuple]]

    @property
    def partitioned(self) -> bool:
        return PARTITION_COL in self.schema.fieldNames()

    def select(self, hash_value: Any | None) -> list[int]:
        """Indices of the keys that `hash` pruning keeps: the keys equal
        to `str(hash_value)` as Spark compares a key column with a string
        literal (the literal is cast to the key's type; a malformed
        number is an error, as under ANSI casts). A null key never
        matches."""
        if hash_value is None:
            return list(range(len(self.keys)))
        if not self.partitioned:
            raise KeyError("table was not ingested with a hash column")
        want = _as_key(str(hash_value), self.schema[PARTITION_COL].dataType)
        as_key = str if isinstance(want, str) else (lambda k: k)
        return [i for i, k in enumerate(self.keys) if k is not None and as_key(k) == want]


def _as_key(text: str, dtype: T.DataType):
    """`text` cast to a partition key of type `dtype`: string keys, or
    the numbers Hive partition inference produces. Other key types
    (dates, timestamps) are compared by their text."""
    if isinstance(dtype, T.StringType):
        return text
    stripped = text.strip()
    try:
        if isinstance(dtype, T.IntegralType):
            if not _INTEGER.fullmatch(stripped):
                raise ValueError
            return int(stripped)
        if isinstance(dtype, T.DecimalType):
            return Decimal(stripped)
        if isinstance(dtype, T.FractionalType):
            return float(stripped)
    except (ValueError, InvalidOperation):
        raise ValueError(f"hash value {text!r} is not a valid {dtype.simpleString()}") from None
    return text


def map_partials(df: DataFrame, columns: list[str] | None = None) -> Partials:
    """Run the map step over `df`: one Spark job. `columns` defaults to
    every numeric column."""
    schema = df.schema
    if columns is None:
        columns = [f.name for f in schema.fields if isinstance(f.dataType, T.NumericType)]
    aggs = [F.count(F.lit(1))]
    for c in columns:
        col = F.col(c)
        acc = col if isinstance(schema[c].dataType, T.DecimalType) else col.cast("double")
        aggs += [F.count(col), F.sum(acc), F.min(col), F.max(col)]
    if PARTITION_COL in schema.fieldNames():
        rows = sorted(df.groupBy(PARTITION_COL).agg(*aggs).collect(), key=lambda r: key_order(r[0]))
    else:
        rows = [[None, *r] for r in df.agg(*aggs).collect()]
    return Partials(
        schema,
        [r[0] for r in rows],
        [r[1] for r in rows],
        {c: [tuple(r[2 + 4 * j : 6 + 4 * j]) for r in rows] for j, c in enumerate(columns)},
    )
