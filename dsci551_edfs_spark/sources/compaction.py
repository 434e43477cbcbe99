"""Small-file compaction planning — the OPTIMIZE / bin-packing step of a
lakehouse table maintenance cycle.

A 100 TB table accumulates small files (streaming micro-batches, per-key
dynamic partitions, MERGE rewrites); scan cost then becomes
file-open-bound rather than byte-bound. Compaction groups small files
into ~target-size output files. The PLANNING step is the interesting
engine problem — the rewrite itself is one `coalesce`/`repartition` write
per group.

Packing rule (deterministic, SQL-restatable): order files by (bytes desc,
file_id), then assign

    out_group = (cumulative bytes BEFORE this file) // target_bytes

i.e. greedy sequential fill where the file straddling a boundary starts
the next group's fill — the standard window formulation (groups may
overflow by at most one file, never underfill by more than one). Ordering
size-descending packs the big files first so the tail of small files
tops groups off, the first-fit-decreasing heuristic's sequential cousin.

Scale shape: the global running sum deliberately avoids the
single-partition window trap — files are range-partitioned on the sort
key, each partition computes a LOCAL running sum (window partitioned by
spark_partition_id), and only `rank_partitions` per-partition byte totals
come to the driver to compute each partition's global byte offset. Same
two-phase shape as functions/text.py:build_vocab's global rank: a
billion-file manifest plans fully parallel with one tiny driver exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["plan_compaction"]


def plan_compaction(
    files: DataFrame,
    target_bytes: int,
    size_col: str = "bytes",
    id_col: str = "file_id",
    rank_partitions: int = 32,
) -> DataFrame:
    """Assign every file an ``out_group`` under the greedy
    size-descending sequential packing rule. Returns the input columns
    plus ``out_group`` (0-based long).

    localCheckpoint pins the ranged frame because two jobs consume it
    (the totals collect, then the final projection) and a re-executed
    repartitionByRange could re-sample different range boundaries."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    ranged = (
        files.repartitionByRange(
            rank_partitions, F.col(size_col).desc(), F.col(id_col).asc()
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["_pid"]: r["b"]
        for r in ranged.groupBy("_pid")
        .agg(F.sum(size_col).cast("long").alias("b"))
        .collect()
    }
    acc, offs = 0, []
    for pid in range(rank_partitions):
        offs.append((pid, acc))
        acc += int(totals.get(pid, 0) or 0)
    off_df = ranged.sparkSession.createDataFrame(offs, "_pid int, _off long")
    w = (
        Window.partitionBy("_pid")
        .orderBy(F.col(size_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = (
        F.col("_off") + F.sum(size_col).over(w) - F.col(size_col)
    ).alias("_before")
    keep = [c for c in files.columns]
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .select(*keep, before)
        .withColumn(
            "out_group",
            F.floor(F.col("_before") / F.lit(int(target_bytes))).cast("long"),
        )
        .drop("_before")
    )
