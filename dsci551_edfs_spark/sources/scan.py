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
a caller that bounds them with `limit(n)` gets a top-k plan: one
`TakeOrderedAndProject` job over the parquet scan, with no range-sampling
job and no shuffle. A `readPartition` scan is **partition-pruned**: its
null-safe equality on the Hive partition column reaches the DataSource
and prunes directories, so no data outside the target partition is read,
the null key's included. Replica failover is the storage layer's job and
is not re-implemented.

Driver design: like a datanode returning a stored block, `local_rows`
reads the same rows straight from the table's parquet files with
pyarrow, with no Spark job, and gives the Python values `collect()`
gives. It serves only what it can prove: a local (`file:`) table whose
files hold exactly the row count the partials expect, with a total
ingest order and column types it converts exactly; anything else is
None, and the caller runs the Spark frame. The shell reads a first
`cat` or `readPartition` that fits its row cap this way, and its table
handle keeps the text, so a repeat reads nothing.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ingest import INDEX_COL, PARTITION_COL
from .partials import Partials, _as_key

__all__ = [
    "cat",
    "read_partition",
    "partition_key",
    "local_rows",
    "ALL",
    "get_partition_locations",
    "list_partitions",
]

#: `local_rows` key for the whole table (`cat`)
ALL = object()
#: Spark's directory name for a null partition value
_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"
#: parquet key-value metadata of files whose dates or timestamps Spark
#: rebases on read; `local_rows` leaves those to Spark
_REBASED = (b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96")


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


def partition_key(keys: list, partition: int):
    """The key of 1-indexed partition `partition`: `keys[partition - 1]`,
    where `keys` is `list_partitions` of the table's partials."""
    if not 1 <= partition <= len(keys):
        raise IndexError(f"partition {partition} out of range 1..{len(keys)}")
    return keys[partition - 1]


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
    key = partition_key(keys, partition)
    if PARTITION_COL in df.columns:
        df = df.filter(F.col(PARTITION_COL).eqNullSafe(key))
    if INDEX_COL in df.columns:
        df = df.orderBy(INDEX_COL)
    return df.drop(PARTITION_COL, INDEX_COL)


def local_rows(schema: T.StructType, files: list[str], size: int, key=ALL):
    """The rows of `cat` (`key` ALL) or of the partition with key `key`,
    in ingest order, read on the driver from the table's parquet `files`
    (Spark's file URIs, e.g. `df.inputFiles()`) with pyarrow:
    `(columns, rows)`, each row a tuple of the values `collect()` gives.

    None, so that the caller runs the Spark frame, unless the read is
    exact: every file is local, the selected files hold exactly `size`
    rows (the partials' count), every column has a type `_converter`
    knows, no file asks Spark to rebase its dates or timestamps, and the
    order is total (a unique, non-null `index`, or a table without one in
    a single file)."""
    fields = [f for f in schema.fields if f.name not in (INDEX_COL, PARTITION_COL)]
    names = [f.name for f in fields]
    indexed = INDEX_COL in schema.fieldNames()
    try:
        convert = [_converter(f.dataType) for f in fields]
        paths = [_local_path(uri) for uri in files]
        if key is not ALL and PARTITION_COL in schema.fieldNames():
            dtype = schema[PARTITION_COL].dataType
            paths = [p for p in paths if _dir_key(p, dtype) == key]
        if not indexed and len(paths) > 1:
            raise _Inexact  # Spark's scan order across files is not ingest order
        if not fields:
            raise _Inexact  # rows of no columns: zip below cannot count them
        table = _read(paths, names + [INDEX_COL] * indexed, size)
        if not size:
            return names, []
        if indexed:
            table = table.take(_ingest_order(table[INDEX_COL], size))
        columns = [conv(table[name]) for name, conv in zip(names, convert)]
    except _Inexact:
        return None
    return names, list(zip(*columns))


class _Inexact(Exception):
    """A driver read that could differ from Spark's."""


def _local_path(uri: str) -> str:
    parsed = urlparse(uri)
    if parsed.scheme != "file":
        raise _Inexact
    return unquote(parsed.path)


def _dir_key(path: str, dtype: T.DataType):
    """The partition key of a file in a `PARTITION_COL=<value>` directory,
    as Spark's partition discovery types it."""
    _, sep, raw = os.path.basename(os.path.dirname(path)).partition(f"{PARTITION_COL}=")
    if not sep:
        raise _Inexact
    if raw == _NULL_DIR:
        return None
    try:
        return _as_key(unquote(raw), dtype)
    except ValueError:
        raise _Inexact from None


def _read(paths: list[str], columns: list[str], size: int):
    """`columns` of the files at `paths` as one arrow table of exactly
    `size` rows (None for no files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        tables = []
        for path in paths:
            # one file at a time: `pyarrow.dataset`'s default ignore_prefixes
            # ('.', '_') would hide every `__edfs_part__=` directory
            f = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
            # `read` skips a column the file lacks, where Spark reads nulls
            if not set(columns) <= set(f.schema_arrow.names):
                raise _Inexact
            if any(k in (f.metadata.metadata or {}) for k in _REBASED):
                raise _Inexact
            tables.append(f.read(columns=columns))
        if sum(t.num_rows for t in tables) != size:
            raise _Inexact
        return pa.concat_tables(tables) if tables else None
    except (OSError, pa.ArrowException):
        raise _Inexact from None


def _ingest_order(index, size: int):
    """Indices that sort the rows by `index`, which must be a unique,
    non-null integer column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not pa.types.is_integer(index.type) or index.null_count or pc.count_distinct(index).as_py() != size:
        raise _Inexact
    return pc.sort_indices(index)


def _numbers(col) -> list:
    """`col.to_pylist()` of a boolean or numeric column, through numpy:
    the same Python values, several times faster."""
    import numpy as np
    import pyarrow as pa

    filled = col.fill_null(pa.scalar(False if pa.types.is_boolean(col.type) else 0, col.type))
    values = filled.to_numpy().tolist()
    if col.null_count:
        for i in np.flatnonzero(col.is_null().to_numpy()).tolist():
            values[i] = None
    return values


def _converter(dtype: T.DataType):
    """A function from an arrow column to the Python values `collect()`
    gives for a Spark column of type `dtype`."""
    import pyarrow as pa

    def checked(fits, to_list=lambda col: col.to_pylist()):
        def convert(col):
            if not fits(col.type):
                raise _Inexact
            return to_list(col)

        return convert

    if isinstance(dtype, T.StringType):
        return checked(lambda t: pa.types.is_string(t) or pa.types.is_large_string(t))
    if isinstance(dtype, T.BooleanType):
        return checked(pa.types.is_boolean, _numbers)
    if isinstance(dtype, T.IntegralType):
        return checked(pa.types.is_integer, _numbers)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return checked(pa.types.is_floating, _numbers)
    if isinstance(dtype, T.DecimalType):
        return checked(lambda t: pa.types.is_decimal(t) and t.scale == dtype.scale)
    if isinstance(dtype, T.DateType):
        return checked(pa.types.is_date32)
    if type(dtype) is T.TimestampType:

        def timestamps(col):
            # arrow holds the UTC instant; `collect()` gives the naive
            # local wall clock of `TimestampType.fromInternal`
            if not (pa.types.is_timestamp(col.type) and col.type.unit == "us"):
                raise _Inexact
            micros = col.cast(pa.int64()).to_pylist()
            return [None if v is None else dtype.fromInternal(v) for v in micros]

        return timestamps
    raise _Inexact


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
