"""Structured Streaming operators over the `events` shape.

The reference has no streaming surface (SURVEY.md §2.5); these are the
Spark-native additions: watermarked tumbling/sliding/session windows and
stateful dedup. Every transformation here is expressed so that the SAME
function works on a batch DataFrame and a streaming one — the batch run is
the oracle for the streaming run (and the DuckDB oracle for both). The
registered queries (`events_tumbling_window`, the sliding/session/dedup
event queries) call these functions on the batch events table;
tests/test_streaming.py drains the same plans through a memory sink.

Scale notes:
- Watermark bounds state: without it a windowed agg keeps every window
  open forever (unbounded state at 100 TB/day event rates).
- Tumbling/sliding aggs shuffle once on (window, key); session windows
  additionally merge per key — keep the key (user_id) as the partitioning
  column so merging is local to a task.
- `dropDuplicatesWithinWatermark` keeps only `delay`-bounded id state,
  the streaming analog of exact dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "stream_from_parquet",
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "dedup_events",
    "static_enrich",
]


def stream_from_parquet(
    spark: SparkSession, path: str, schema, max_files: int = 16
) -> DataFrame:
    """File-source stream over a parquet directory (schema required by
    Structured Streaming). `maxFilesPerTrigger` bounds micro-batch size."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def tumbling_agg(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Count + sum per tumbling window per key. Late rows beyond the
    watermark are dropped; closed windows emit exactly once (append mode)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), key_col)
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "cnt",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window count/sum: each event lands in window/slide windows
    (Spark explodes internally; state = one row per open window)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "cnt", "sum_value")
    )


def session_agg(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows per key: a session extends while consecutive events
    are < gap apart; window = [first_ts, last_ts + gap). Stateful merge per
    key — the only operator here whose state grows with session length."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 3).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "cnt",
            "sum_value",
        )
    )


def dedup_events(
    events: DataFrame,
    id_cols: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Exactly-once event dedup. Streaming: state bounded by the watermark
    (`dropDuplicatesWithinWatermark`); batch: plain dropDuplicates."""
    id_cols = id_cols or ["event_id"]
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            id_cols
        )
    return events.dropDuplicates(id_cols)


def static_enrich(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream-static enrichment: join each event against a (small, slowly
    changing) dimension table. In streaming, Spark re-plans the static
    side per micro-batch and BROADCASTS it — no stream state at all, the
    canonical way to attach user/session metadata to a 100 TB/day event
    stream. Left join so events with unknown keys survive (coalesced
    downstream). Batch run of the same function = the oracle."""
    return events.join(F.broadcast(dim), on=key, how="left")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    lower: str = "10 minutes",
    upper: str = "0 seconds",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch-batch) join on key + time range:
    right rows within [left_ts - lower, left_ts - upper). With two
    streaming inputs, the watermarks + the range condition bound both
    join-state buffers (Spark evicts rows older than watermark + range) —
    the only state-safe shape for stream-stream joins at scale. The batch
    run of the same function is the oracle.

    ``how="leftOuter"`` emits unmatched left rows with nulls once the
    watermark passes their join window (state-eviction time) — the
    "purchases with NO preceding view" audit shape. Outer emission is
    watermark-driven: the batch twin is the oracle for the final result
    set, and the streaming run needs the watermark to actually advance
    past a row's window before its null-row appears (pinned in
    tests/test_streaming.py with a ts-ordered file feed).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported join type: {how}")
    l = left
    r = right
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[f"{key}_r"])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {lower}"))
        & (r[right_ts] < l[left_ts] - F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)  # "leftOuter" is valid batch or stream
