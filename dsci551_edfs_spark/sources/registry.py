"""Table registry: load the driver-generated parquet tables for an sf dir.

The reference's only "catalog" was an inode tree (`combined_flask.py:44-47`);
here the catalog is simply the parquet directory. Column pruning + predicate
pushdown are free because every load is a plain parquet scan.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import memo as MEMO

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

__all__ = ["TABLES", "load_table", "table_cached"]


def _table_fingerprint(path: str) -> str:
    """size:mtime_ns of the table's file(s) — one stat/listdir, no I/O."""
    try:
        if os.path.isdir(path):
            parts = []
            with os.scandir(path) as it:
                for e in sorted(it, key=lambda e: e.name):
                    st = e.stat()
                    parts.append(f"{e.name}:{st.st_size}:{st.st_mtime_ns}")
            return "|".join(parts)
        st = os.stat(path)
        return f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        return "missing"


def table_cached(
    spark: SparkSession, sf_dir: str, name: str, key: Hashable, make: Callable[[], Any]
) -> Any:
    """``make()``'s value for ``key`` derived from table ``name``, built
    once per session and per version of the table's files (their size +
    mtime_ns fingerprint, the identity the memo store uses): in-place
    regeneration of the data is a clean miss, not a stale file index."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    return MEMO.session_cached(spark, (key, path), _table_fingerprint(path), make)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain `spark.read.parquet` so Catalyst sees a
    pushdown-capable DataSource scan (PushedFilters / ReadSchema).

    `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects; we read it via the nanosAsLong legacy mode and convert
    to TimestampType (microsecond floor) — a zero-copy long→timestamp cast
    inside codegen, applied only for that table.

    A DataFrame is an immutable logical plan, and rebuilding it per call
    re-reads parquet footers and pays a py4j analysis round-trip (~0.1 s;
    42 s of plan construction across the 102-query bench in r9), so the
    plan is resolved ONCE per (session, table version), not once per
    mention — what a real catalog does."""
    sf_dir = os.path.abspath(sf_dir)
    return table_cached(
        spark, sf_dir, name, "load_table",
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Timestamp semantics must not depend on who built the SparkSession
    # (the verification driver may hand us a vanilla one): pin UTC so
    # year()/window() match the oracle's naive-timestamp arithmetic.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name != "events":
        return spark.read.parquet(path)
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division: ns epochs (~1.7e18) exceed double's 2^53
        # mantissa, so `/ 1000` + floor would corrupt the low microseconds
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # parquet timestamp[us] with isAdjustedToUTC=false reads as
        # TIMESTAMP_NTZ, which streaming watermarks and epoch casts reject;
        # session TZ is pinned UTC above, so NTZ→LTZ keeps the same instant
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
