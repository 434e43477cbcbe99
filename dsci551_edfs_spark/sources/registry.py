"""Table registry: load the driver-generated parquet tables for an sf dir.

The reference's only "catalog" was an inode tree (`combined_flask.py:44-47`);
here the catalog is simply the parquet directory. Column pruning + predicate
pushdown are free because every load is a plain parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

__all__ = ["TABLES", "load_table", "clear_plan_cache"]

# (session id, sf_dir, table, file fingerprint) -> DataFrame. A DataFrame
# is an immutable logical plan: rebuilding it per call re-reads parquet
# footers and pays a py4j analysis round-trip (~0.1 s), which r9 profiling
# showed was a large share of the per-query driver overhead across the
# 102-query bench (42 s of plan construction suite-wide). Keyed by
# id(session): a cached DataFrame keeps its session object alive
# (df.sparkSession), so the id cannot be recycled onto a different live
# session; a replaced/restarted session is a new object and misses
# cleanly. The fingerprint (size + mtime_ns of the table's files — same
# identity the memo store uses) makes in-place regeneration of the test
# data a clean miss instead of a stale file index; the superseded entry
# is evicted on the spot. This is what a real catalog does: resolve a
# table to ONE plan per (session, table version), not one per mention.
_PLAN_CACHE: dict[tuple[int, str, str], tuple[str, DataFrame]] = {}


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


def clear_plan_cache(spark: SparkSession | None = None) -> None:
    """Drop cached table plans — all of them, or one session's. The
    cache otherwise retains entries for stopped sessions (pinning their
    SparkSession objects); long-lived multi-session hosts should clear
    on session teardown. Also clears the memo read-plan cache (its twin;
    one teardown hook covers both)."""
    from .. import memo as _memo

    _memo.clear_plan_cache(spark)
    if spark is None:
        _PLAN_CACHE.clear()
        return
    sid = id(spark)
    for key in [k for k in _PLAN_CACHE if k[0] == sid]:
        del _PLAN_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain `spark.read.parquet` so Catalyst sees a
    pushdown-capable DataSource scan (PushedFilters / ReadSchema).

    `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects; we read it via the nanosAsLong legacy mode and convert
    to TimestampType (microsecond floor) — a zero-copy long→timestamp cast
    inside codegen, applied only for that table."""
    sf_dir = os.path.abspath(sf_dir)
    key = (id(spark), sf_dir, name)
    fp = _table_fingerprint(os.path.join(sf_dir, f"{name}.parquet"))
    cached = _PLAN_CACHE.get(key)
    if cached is not None and cached[0] == fp:
        return cached[1]
    df = _load_table_uncached(spark, sf_dir, name)
    _PLAN_CACHE[key] = (fp, df)
    return df


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
