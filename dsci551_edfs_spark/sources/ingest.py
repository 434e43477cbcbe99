"""`put` — ingest a CSV into the engine's warehouse as partitioned Parquet.

Reference semantics (re-expressed Spark-first, not ported):

- `put?source&destination&partitions[&hash]` reads a local CSV, appends a
  row-order ``index`` column, partitions by the hash column (null hash keys
  filled with 0 / "NULL" so null rows form their own partition group), or
  falls back to equal-width range-binning on the first column when no hash
  column is given (reference: `combined_flask.py:324-436`,
  `combined_flask.py:1132-1292`).
- Firebase variant grows the partition count to the number of distinct hash
  values when that exceeds the request (`combined_flask.py:1213-1216`) and
  labels range bins ``index_{i}`` (`combined_flask.py:1241-1242`).

Spark design:

- ``spark.read.csv(header, inferSchema)`` keeps the reference's
  pandas-dtype-inference behavior; production callers pass an explicit
  schema.
- The row-order column is ``monotonically_increasing_id()`` — not dense, but
  monotone within the single input file read order, which is all the
  order-restoring ``cat`` needs (`SURVEY.md` §7.4).
- Hash partitioning becomes a Hive-style ``partitionBy(<col>)`` parquet
  layout: `getPartitionLocations`/`readPartition`/`hash`-pruned aggregates
  all become *partition-pruned scans* — Catalyst prunes directories at plan
  time, which is the 100 TB-correct realization of the reference's
  block-map filtering (`combined_flask.py:459-465`).
- Range fallback = equal-width bins on the first column computed with one
  min/max agg + ``width_bucket``-style arithmetic (the reference's
  ``pd.cut``), written as partition column ``index_{i}``.
- The reference's per-group block chunking (``np.array_split`` of a hash
  group into size-capped blocks, `combined_flask.py:402,416-418`) is not
  reproduced: a hash group is one partition directory, and the storage
  layer splits its files into blocks.
- Replication / datanode placement is delegated to the storage layer
  (HDFS/object store) and intentionally NOT re-implemented.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PARTITION_COL = "__edfs_part__"
INDEX_COL = "index"
NULL_STRING_SENTINEL = "NULL"

__all__ = ["put", "put_dataframe", "PARTITION_COL", "INDEX_COL"]


def _hash_partition_expr(df: DataFrame, hash_col: str):
    """Partition key = hash column value with nulls sentinel-filled
    (0 for numerics, "NULL" for strings) so null rows form their own
    partition, per `combined_flask.py:405-408`."""
    dtype = df.schema[hash_col].dataType
    if isinstance(dtype, T.NumericType):
        filled = F.coalesce(F.col(hash_col), F.lit(0).cast(dtype))
    else:
        filled = F.coalesce(F.col(hash_col).cast("string"), F.lit(NULL_STRING_SENTINEL))
    return filled.cast("string")


def _range_partition_expr(df: DataFrame, num_partitions: int):
    """Equal-width binning of the first column into ``num_partitions`` bins,
    labeled ``index_{i}`` (reference `pd.cut` fallback,
    `combined_flask.py:411-415`, labels `combined_flask.py:1241-1242`).

    One tiny min/max aggregate (no shuffle of the data itself) then a
    computed column — the bin id is `width_bucket` arithmetic, evaluated
    JVM-side inside codegen.
    """
    first_col = df.columns[0]
    row = df.agg(
        F.min(first_col).alias("lo"), F.max(first_col).alias("hi")
    ).collect()[0]
    lo, hi = float(row["lo"]), float(row["hi"])
    if hi <= lo:
        return F.lit("index_0")
    width = (hi - lo) / num_partitions
    bin_id = F.least(
        F.greatest(
            F.floor((F.col(first_col).cast("double") - F.lit(lo)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(num_partitions - 1),
    )
    return F.concat(F.lit("index_"), bin_id.cast("long").cast("string"))


def put_dataframe(
    df: DataFrame,
    destination: str,
    partitions: int,
    hash_col: str | None = None,
) -> dict:
    """Partition an already-loaded DataFrame and write it as Parquet,
    one partition directory per hash value (or range bin).

    Returns a small manifest dict (partition column, partition count).
    """
    df = df.withColumn(INDEX_COL, F.monotonically_increasing_id())
    if hash_col is not None:
        if hash_col not in df.columns:
            raise ValueError(f"hash column {hash_col!r} not in {df.columns}")
        part_expr = _hash_partition_expr(df, hash_col)
    else:
        part_expr = _range_partition_expr(df, partitions)
    out = df.withColumn(PARTITION_COL, part_expr)
    # Hive-style layout → partition-pruned scans for readPartition /
    # hash-pruned aggregates. One file per partition value per task is fine
    # here; at 100 TB add .repartition(PARTITION_COL) first so each
    # partition directory is written by the tasks owning its rows.
    out.repartition(F.col(PARTITION_COL)).write.mode("overwrite").partitionBy(
        PARTITION_COL
    ).parquet(destination)
    return {
        "destination": destination,
        "partition_column": PARTITION_COL,
        "source_hash_column": hash_col,
        "num_partitions": _count_partition_dirs(df.sparkSession, destination),
    }


def _count_partition_dirs(spark: SparkSession, destination: str) -> int:
    """Partition count of a table just written: one `PARTITION_COL=<value>`
    directory per distinct value, listed with the Hadoop FileSystem
    rather than by re-running the ingest pipeline for a distinct count."""
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(destination)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    prefix = PARTITION_COL + "="
    return sum(
        1
        for st in fs.listStatus(path)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    )


def put(
    spark: SparkSession,
    source: str,
    destination: str,
    partitions: int,
    hash_col: str | None = None,
) -> dict:
    """EDFS `put`: local CSV → partitioned Parquet table.

    Mirrors `combined_flask.py:324-436` validation: source must exist and be
    a .csv file. Quotes are read as RFC 4180 (and pandas' ``read_csv``)
    read them: a doubled ``""`` inside a quoted field is one ``"``.
    """
    if not os.path.exists(source):
        raise FileNotFoundError(f"source does not exist: {source}")
    if not source.endswith(".csv"):
        raise ValueError("put only accepts .csv sources (reference parity)")
    df = spark.read.csv(source, header=True, inferSchema=True, escape='"')
    return put_dataframe(df, destination, partitions, hash_col)
