"""Session-grain sessionization: one row per completed session.

`sessions_batch` is the gaps-and-islands plan (user-keyed windows, the
shape the `sessionize_events` oracle verifies) aggregated to session
grain: a session closes after ``gap_s`` of inactivity and reports
``(user_id, start_s, end_s, n_events)``. It serves the
`streaming_sessions_tws` query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["sessions_batch"]


def sessions_batch(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Gaps-and-islands sessionization (user-keyed windows — the same
    plan shape `sessionize_events` pins against DuckDB) aggregated to
    session grain."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_s = F.col("ts").cast("long")
    gap = ts_s - F.lag(ts_s).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0)
    sess = events.select(
        "user_id",
        ts_s.alias("ts_s"),
        F.sum(new_sess).over(run).alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts_s").alias("start_s"),
        F.max("ts_s").alias("end_s"),
        F.count("*").alias("n_events"),
    ).select("user_id", "start_s", "end_s", "n_events")
