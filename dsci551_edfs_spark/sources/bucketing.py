"""Bucketed (pre-shuffled) table layout — the co-located-join scale path.

The reference's only data-placement tool is its one-time ingest hash
partitioning (`combined_flask.py:404-415`), which its PMR layer exploits to
run per-partition work without moving rows. The Spark-native generalization
is BUCKETING: `bucketBy(n, key)` materializes the hash-shuffle ONCE at write
time, and every subsequent equi-join or aggregation on that key reads the
buckets back co-located — no Exchange in the plan, which at 100 TB means a
fact⨝fact join costs IO only, not a terabyte-scale network shuffle.

When to use (cluster guidance):
- a fact table joined repeatedly on the same key (orders⨝lineitem on
  orderkey): bucket BOTH sides with the SAME bucket count;
- bucket count sizes the parallelism of every downstream bucketed scan —
  pick ~(table size / 128 MiB) at the target scale, not the local core
  count;
- `sortBy(key)` additionally removes the per-bucket Sort before a
  sort-merge join when each bucket lands in one file (write with
  one task per bucket, e.g. after `repartition(n, key)`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

__all__ = ["write_bucketed"]


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | Sequence[str],
    n_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Materialize ``df`` as a bucketed parquet table in the session catalog.

    ``repartition(n_buckets, key)`` first so each bucket is written by a
    single task → one file per bucket, which is what lets Spark also skip
    the sort before a sort-merge join when ``sort=True``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = (
        df.repartition(n_buckets, *keys)
        .write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
    )
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)
