"""PMR aggregates: `getAvg` / `getMax` / `getMin` (+count), the reference's
analytical core (`combined_flask.py:549-802`), re-expressed as single
Catalyst aggregates.

The reference hand-rolls partial aggregation: one OS process per partition
computes `(partial, count)` (`calcAvg/calcMax/calcMin`,
`combined_flask.py:727-760`) and a reduce step merges partials
(`combined_flask.py:762-802`). Catalyst performs the identical
partial(map-side) → final split automatically for `avg/max/min/count`
(HashAggregateExec partial → exchange of ONE row per partition → final), so
each of these is a one-liner — and, unlike the reference, scales past one
machine with zero code change.

Semantic quirk modes (SURVEY.md §2.4):
- default "spark" mode = SQL-correct null-skipping semantics. For `avg`
  this already EQUALS the reference (its NaN-partition exclusion,
  `combined_flask.py:763-764`, is exactly null-skipping avg).
- mode="legacy" for max: nulls→0 and result floored at 0
  (`combined_flask.py:741`, `:777`).
- mode="legacy_firebase" for min: reduce seeded with 0 — the Firebase
  backend's divergent bug (`combined_flask.py:1676-1688`) — result is
  min(spark_min, 0) with nulls→+inf first.

`hash` partition pruning (`combined_flask.py:459-465`): a filter on the
ingest partition column; over a `partitionBy` parquet layout Catalyst turns
this into directory-level partition pruning, reading nothing else.

Debug channel (`combined_flask.py:712-717`): per-partition partials via one
extra `groupBy(spark_partition_id())` aggregate — the Spark-native analog of
the reference's `{Partition, Input, Output}` explanations.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.ingest import PARTITION_COL

__all__ = [
    "validate_numeric",
    "get_avg",
    "get_max",
    "get_min",
    "get_count",
    "partition_debug",
    "format_result",
    "HARDCODED_AVG_COLUMNS",
]

# Hardcoded-column endpoints, surface parity with the reference's NHANES
# demo routes: each is `getAvg` with the column bound server-side
# (`fs_commands.py:396-460` getAvgFamilyIncome=INDFMIN2,
# getAvgTimeInUS=DMDYRSUS; `proj-firebase-flask.py:637-703`
# firebase_getAvgGripStrn=MGDCGSZ, firebase_getAvgArmCircum=BMXARMC).
HARDCODED_AVG_COLUMNS = {
    "getAvgFamilyIncome": "INDFMIN2",
    "getAvgTimeInUS": "DMDYRSUS",
    "firebase_getAvgGripStrn": "MGDCGSZ",
    "firebase_getAvgArmCircum": "BMXARMC",
}


def validate_numeric(df: DataFrame, col: str) -> None:
    """Fail-fast type gate. The reference reads partition 1 and checks the
    pandas dtype (`combined_flask.py:563-578`); with a real schema this is a
    zero-IO analysis-time check."""
    if col not in df.columns:
        raise KeyError(f"column {col!r} does not exist")
    if not isinstance(df.schema[col].dataType, T.NumericType):
        raise TypeError(f"column {col!r} is not numeric")


def _prune(df: DataFrame, hash_value: Any | None) -> DataFrame:
    """Partition pruning by hash value (`combined_flask.py:459-465`).

    Over a Hive `partitionBy` layout this equality filter prunes at the
    DataSource level (no non-matching directory is even listed)."""
    if hash_value is None:
        return df
    if PARTITION_COL not in df.columns:
        raise KeyError("table was not ingested with a hash column")
    return df.filter(F.col(PARTITION_COL) == F.lit(str(hash_value)))


def get_avg(df: DataFrame, col: str, hash_value: Any | None = None) -> float | None:
    """Reference `getAvg` (`combined_flask.py:549-597`). Spark's null-skipping
    `avg` matches the reference's NaN-partition exclusion exactly."""
    validate_numeric(df, col)
    row = _prune(df, hash_value).agg(F.avg(col).alias("v")).collect()[0]
    return row["v"]


def get_max(
    df: DataFrame, col: str, hash_value: Any | None = None, mode: str = "spark"
) -> float | None:
    """Reference `getMax` (`combined_flask.py:599-647`).

    legacy mode: nulls→0 before the max, global result floored at 0
    (`combined_flask.py:741`, `:777`)."""
    validate_numeric(df, col)
    pruned = _prune(df, hash_value)
    if mode == "legacy":
        expr = F.greatest(
            F.max(F.coalesce(F.col(col), F.lit(0))), F.lit(0)
        ).alias("v")
    else:
        expr = F.max(col).alias("v")
    return pruned.agg(expr).collect()[0]["v"]


def get_min(
    df: DataFrame, col: str, hash_value: Any | None = None, mode: str = "spark"
) -> float | None:
    """Reference `getMin` (`combined_flask.py:649-697`).

    legacy_firebase mode reproduces the Firebase 0-seed bug
    (`combined_flask.py:1676-1688`): result = min(min(col nulls→+inf), 0)."""
    validate_numeric(df, col)
    pruned = _prune(df, hash_value)
    if mode == "legacy_firebase":
        expr = F.least(
            F.min(F.coalesce(F.col(col), F.lit(float("inf")))), F.lit(0.0)
        ).alias("v")
    else:
        expr = F.min(col).alias("v")
    return pruned.agg(expr).collect()[0]["v"]


def get_count(df: DataFrame, col: str | None = None, hash_value: Any | None = None) -> int:
    """Implicit partition-size count every reference map emits
    (`combined_flask.py:734`, `:746`, `:758`)."""
    pruned = _prune(df, hash_value)
    expr = F.count(col) if col else F.count("*")
    return pruned.agg(expr.alias("v")).collect()[0]["v"]


def partition_debug(df: DataFrame, col: str, agg: str = "avg") -> DataFrame:
    """`debug=true` channel (`combined_flask.py:712-717`, `:771-772`): one
    row per physical partition with its partial aggregate and size.

    Runs as a single groupBy over `spark_partition_id()` — no extra scan per
    partition, unlike the reference's per-process re-reads."""
    fn = {"avg": F.avg, "max": F.max, "min": F.min}[agg]
    return (
        df.groupBy(F.spark_partition_id().alias("partition"))
        .agg(fn(col).alias("partial"), F.count("*").alias("size"))
        .orderBy("partition")
    )


def format_result(kind: str, value: float | None) -> str:
    """Observable output contract: `"The overall average is {x:.3f}"`
    (`combined_flask.py:770`, `:784`, `:798`)."""
    label = {"avg": "average", "max": "maximum", "min": "minimum"}[kind]
    if value is None:
        return f"The overall {label} is undefined (no rows)"
    return f"The overall {label} is {value:.3f}"
