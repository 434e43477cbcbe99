"""Scans over EDFS tables: `cat`, `readPartition`, `getPartitionLocations`.

Reference semantics:
- `cat?path` reassembles all blocks, restores ingest row order via the
  injected ``index`` column, drops it, emits CSV
  (`combined_flask.py:270-322`; Firebase dedups the two replicas,
  `combined_flask.py:1118`).
- `readPartition?path&partition` returns one partition's rows
  (`combined_flask.py:492-547`).
- `getPartitionLocations?path` returns the partition map
  (`combined_flask.py:438-490`).

Every function takes the table's `DataFrame` (as the aggregates do), so
a caller that already holds a resolved table — the shell's catalog
handle — pays no second read or schema inference.

Spark design: `cat` and `readPartition` return lazily ordered frames, and
a caller that bounds them with `limit(n)` (the shell's CSV emit) gets a
top-k plan: one `TakeOrderedAndProject` job over the parquet scan, with no
range-sampling job and no shuffle. A `readPartition` scan is
**partition-pruned** (the filter on the Hive partition column reaches the
DataSource and prunes directories — no data read outside the target
partition); `getPartitionLocations` reads the table's PMR partials
(`partials.py`), the map step the aggregates reduce, so a caller holding
them (the shell's catalog handle) answers it without a Spark job. Replica
failover is the storage layer's job and is not re-implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ingest import INDEX_COL, PARTITION_COL
from .partials import Partials, key_order, map_partials

__all__ = ["cat", "read_partition", "get_partition_locations", "list_partitions"]


def cat(df: DataFrame) -> DataFrame:
    """Full scan of a table frame with ingest-order restoration
    (`combined_flask.py:313-314`).

    ``monotonically_increasing_id`` is monotone in ingest order, so sorting
    by it restores the original row order; the column is then dropped, as the
    reference drops ``index``. Unbounded, the sort is a global order-by (a
    range-sampling job, a shuffle and the result job); bounded by
    `limit(n)` it plans as one top-k job. At scale, callers that don't need
    a total order should skip `cat` and scan directly.
    """
    drop = [c for c in (INDEX_COL, PARTITION_COL) if c in df.columns]
    if INDEX_COL in df.columns:
        df = df.orderBy(INDEX_COL)
    return df.drop(*drop)


def list_partitions(df: DataFrame) -> list:
    """Sorted distinct partition-key values (a metadata-only scan: only the
    partition column is read, which for a Hive layout is directory names)."""
    if PARTITION_COL not in df.columns:
        return []
    rows = df.select(PARTITION_COL).distinct().collect()
    return sorted((r[0] for r in rows), key=key_order)


def read_partition(df: DataFrame, partition: int, keys: list | None = None) -> DataFrame:
    """1-indexed single-partition read (`combined_flask.py:492-547`).

    Partition numbering = 1-based index into the sorted distinct partition
    keys (the reference numbers blocks by ingest ``order``/``offset``; with a
    Hive layout the key itself is the stable identity). `keys` are those
    sorted keys when the caller already has them, else `list_partitions`
    computes them. The filter on the partition column is pushed down →
    Catalyst prunes to one directory.
    """
    if keys is None:
        keys = list_partitions(df)
    if not 1 <= partition <= len(keys):
        raise IndexError(f"partition {partition} out of range 1..{len(keys)}")
    df = df.filter(F.col(PARTITION_COL) == keys[partition - 1])
    if INDEX_COL in df.columns:
        df = df.orderBy(INDEX_COL)
    return df.drop(PARTITION_COL, INDEX_COL)


def get_partition_locations(source: DataFrame | Partials) -> dict:
    """Partition map: {partition# → {key, rows}}.

    The reference returns {replica → {partition# → {datanode → block_id}}}
    (`combined_flask.py:477-487`); replica/datanode placement belongs to the
    storage layer here, so the map reports each partition's key and row
    count instead. `source` is a table frame (one Spark job: the map step
    without columns) or partials already mapped from it (no job). A table
    without a partition column is one partition with key None.
    """
    partials = map_partials(source, []) if isinstance(source, DataFrame) else source
    return {
        "partitions": {
            i + 1: {"key": key, "rows": rows}
            for i, (key, rows) in enumerate(zip(partials.keys, partials.sizes))
        }
    }
