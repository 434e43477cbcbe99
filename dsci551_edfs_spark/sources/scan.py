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

`cat` and `readPartition` take the table's `DataFrame`, so a caller
that already holds a resolved table (the shell's catalog handle) pays no
second read or schema inference. The partition map comes from the
table's PMR partials (`partials.py`), the map step the aggregates
reduce: `Partials.keys` is the one partition numbering, which
`getPartitionLocations` lists, `readPartition <n>` reads and the
aggregates' `debug` channel walks. A caller holding the partials (the
shell's catalog handle) answers the map without a Spark job.

Spark design: `cat` and `readPartition` return lazily ordered frames, and
a caller that bounds them with `limit(n)` (the shell's CSV emit) gets a
top-k plan: one `TakeOrderedAndProject` job over the parquet scan, with no
range-sampling job and no shuffle. The shell builds and runs such a frame
once per table version and emit: its table handle keeps the text, so a
repeated `cat` or `readPartition` calls neither function. A
`readPartition` scan is **partition-pruned**: its null-safe equality on
the Hive partition column reaches the DataSource and prunes directories,
so no data outside the target partition is read, the null key's
included. Replica failover is the storage layer's job and is not
re-implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ingest import INDEX_COL, PARTITION_COL
from .partials import Partials

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


def list_partitions(partials: Partials) -> list:
    """The table's partition keys in partition-number order: `keys[i]` is
    partition `i + 1`. A table without a partition column has the one key
    None."""
    return list(partials.keys)


def read_partition(df: DataFrame, partition: int, keys: list) -> DataFrame:
    """1-indexed single-partition read (`combined_flask.py:492-547`).

    Partition `n` is the rows whose partition key is `keys[n - 1]`, where
    `keys` is `list_partitions` of the table's partials (the reference
    numbers blocks by ingest ``order``/``offset``; with a Hive layout the
    key itself is the stable identity). The filter is null-safe, since a
    null key equals nothing under `==`, and reaches the scan as a
    partition filter, so Catalyst prunes to one directory. A table
    without a partition column is one partition: the whole table. Rows
    come in ingest order.
    """
    if not 1 <= partition <= len(keys):
        raise IndexError(f"partition {partition} out of range 1..{len(keys)}")
    if PARTITION_COL in df.columns:
        df = df.filter(F.col(PARTITION_COL).eqNullSafe(keys[partition - 1]))
    if INDEX_COL in df.columns:
        df = df.orderBy(INDEX_COL)
    return df.drop(PARTITION_COL, INDEX_COL)


def get_partition_locations(partials: Partials) -> dict:
    """Partition map: {partition# → {key, rows}}.

    The reference returns {replica → {partition# → {datanode → block_id}}}
    (`combined_flask.py:477-487`); replica/datanode placement belongs to the
    storage layer here, so the map reports each partition's key and row
    count instead, read from the table's partials. A table without a
    partition column is one partition with key None.
    """
    return {
        "partitions": {
            i + 1: {"key": key, "rows": rows}
            for i, (key, rows) in enumerate(zip(partials.keys, partials.sizes))
        }
    }
