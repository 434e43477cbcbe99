"""Custom stateful streaming: per-key running statistics via
``applyInPandasWithState`` — the escape hatch for operators the built-in
watermark/window/dedup set cannot express (running per-user counters that
must survive across micro-batches and emit on every update).

Batch/stream duality like streaming/windows.py: the SAME entry point
returns the equivalent batch aggregation on a batch frame, so
batch == final streaming state is the testable (and DuckDB-oracle-able)
contract.

Scale notes:
- State is one tiny row (3 numbers + a timestamp) per user, partitioned by
  the group key — the state store shards with the shuffle, nothing global.
- In update mode each micro-batch emits only touched keys; the memory/sink
  pressure is proportional to batch activity, not key cardinality.
- Dormant-key eviction is available as an OPT-IN ``timeout_ms`` parameter
  (ProcessingTimeTimeout + ``state.remove()``): an unbounded key space
  (crawl session ids, one-off users) otherwise grows the state store
  forever. The default stays NoTimeout so the batch == final-stream-state
  equivalence contract remains exact — an evicted key that reappears
  restarts its counters from zero, which batch semantics cannot express.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["user_running_stats"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("last_us", T.LongType()),  # epoch micros; ts not allowed in state
    ]
)


def user_running_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    timeout_ms: int | None = None,
    timeout_mode: str = "processing",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """(user_id, n_events, sum_value, last_ts) maintained across batches.

    Streaming: one state row per user updated per micro-batch (update
    mode). Batch: the equivalent groupBy — what the stream's final state
    must equal.

    ``timeout_ms`` (streaming only, default off): evict a key's state if
    no event arrives for that long — the dormant-key guard an unbounded
    key space needs at scale. Eviction emits nothing (the key's last
    emission already carries its final counters) and a reappearing key
    restarts from zero, so enabling it intentionally weakens the exact
    batch-equivalence contract; hence opt-in. Two clocks:

    - ``timeout_mode="processing"``: ProcessingTimeTimeout — dormancy on
      the wall clock. Right for production (a key that stops arriving
      stops holding state) but inherently non-deterministic to test: how
      many micro-batches a key survives depends on scheduling latency.
      Caveat: the engine constructs micro-batches continuously so timers
      can fire with no new data — ``processAllAvailable()`` never
      observes a quiesce and blocks forever; poll the sink or query
      progress instead.
    - ``timeout_mode="event"``: EventTimeTimeout — dormancy on EVENT
      time: a key is evicted once the watermark (max seen ``ts_col``
      minus ``watermark_delay``) passes its last event + ``timeout_ms``.
      Purely data-driven, so results are deterministic regardless of
      processing speed — the testable variant, and the right one when
      "dormant" should mean dormant in the modeled timeline (replays,
      backfills) rather than on the ingest clock.
    """
    if timeout_mode not in ("processing", "event"):
        raise ValueError(f"timeout_mode must be processing|event, got {timeout_mode!r}")
    if not events.isStreaming:
        return events.groupBy(key_col).agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max(ts_col).alias("last_ts"),
        ).withColumnRenamed(key_col, "user_id")

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        if timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            n, s, last_us = state.get
        else:
            n, s, last_us = 0, 0.0, 0
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            batch_max = pdf[ts_col].max()
            batch_us = int(batch_max.value // 1_000)  # pandas Timestamp ns → µs
            last_us = max(last_us, batch_us)
        state.update((n, s, last_us))
        if timeout_ms is not None:
            # re-arm on every touch: the clock measures dormancy, not age
            if timeout_mode == "processing":
                state.setTimeoutDuration(timeout_ms)
            else:
                # event clock: expire when the watermark passes the key's
                # last event + timeout. Spark requires the timestamp to be
                # strictly ahead of the current watermark.
                due_ms = last_us // 1_000 + timeout_ms
                state.setTimeoutTimestamp(
                    max(due_ms, state.getCurrentWatermarkMs() + 1)
                )
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    if timeout_ms is None:
        conf = "NoTimeout"
    elif timeout_mode == "processing":
        conf = "ProcessingTimeTimeout"
    else:
        conf = "EventTimeTimeout"
        # EventTimeTimeout needs a watermark to define "now" in event time
        events = events.withWatermark(ts_col, watermark_delay)
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=conf,
    )
