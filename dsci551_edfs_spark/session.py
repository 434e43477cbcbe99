"""SparkSession factory tuned for the EDFS-Spark engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace the reference's static
  one-process-per-partition fan-out (`combined_flask.py:582`).
- ``spark.sql.shuffle.partitions`` defaults to the local core count but is
  env-overridable (``SPARK_GRAFT_CPUS``); on a real cluster this should be
  ~2-3x total executor cores and AQE coalesces the rest.
- Arrow enabled so every Pandas-UDF boundary is columnar-batched.
- Session timezone pinned to UTC so timestamp arithmetic matches the
  DuckDB oracle regardless of host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(app_name: str = "edfs-spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; all settings below are
    equally valid on a multi-executor cluster — nothing here assumes local
    mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 64 MiB broadcast threshold: dims (region/nation/part at sf<=1,
        # query-vector tables) broadcast instead of shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # EDFS partition keys are opaque strings (incl. the "NULL" sentinel);
        # don't let Hive-layout reads re-infer them into numerics
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
