"""Structured Streaming: the streaming run of each windowed operator must
equal its batch run over the same input (the oracle chain is then
streaming == batch == DuckDB SQL)."""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dsci551_edfs_spark.sources.registry import load_table
from dsci551_edfs_spark.streaming import windows as SW


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as a multi-file parquet dir (micro-batched by the
    file source) with a proper TimestampType column."""
    d = str(tmp_path_factory.mktemp("events"))
    load_table(spark, sf_dir, "events").repartition(6).write.mode("overwrite").parquet(d)
    return d


def _dirs(tmp_path, *names):
    """One new directory per name under the test's tmp_path."""
    out = []
    for name in names:
        (tmp_path / name).mkdir()
        out.append(str(tmp_path / name))
    return out


def _batch(spark, d):
    return spark.read.parquet(d)


def _stream(spark, d):
    schema = spark.read.parquet(d).schema
    return SW.stream_from_parquet(spark, d, schema, max_files=2)


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def _run_available_now(stream_df, name):
    """Drain all available input through the streaming plan into a memory
    sink (complete mode) and return the result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def _run_stateful_update(stream_df, name):
    """Drain a stateful update-mode stream into a memory sink and return
    the LATEST emitted row per user (update mode re-emits a key each time
    its state changes; the last emission is the final state)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink = stream_df.sparkSession.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def test_streaming_tumbling_equals_batch(spark, event_dir):
    batch = SW.tumbling_agg(_batch(spark, event_dir))
    stream = _run_available_now(
        SW.tumbling_agg(_stream(spark, event_dir)), "tumbling_t"
    )
    assert _as_sets(stream) == _as_sets(batch)
    assert len(_as_sets(batch)) > 0


def test_streaming_sliding_equals_batch(spark, event_dir):
    batch = SW.sliding_agg(_batch(spark, event_dir))
    stream = _run_available_now(
        SW.sliding_agg(_stream(spark, event_dir)), "sliding_t"
    )
    assert _as_sets(stream) == _as_sets(batch)


def test_streaming_session_equals_batch(spark, event_dir):
    # unbounded watermark: files arrive in arbitrary ts order, and session
    # merging must see every event for strict batch equivalence
    batch = SW.session_agg(_batch(spark, event_dir))
    stream = _run_available_now(
        SW.session_agg(_stream(spark, event_dir), watermark="3650 days"), "session_t"
    )
    assert _as_sets(stream) == _as_sets(batch)


def test_streaming_dedup(spark, event_dir, tmp_path):
    # duplicate the input stream by unioning it with itself: dedup must
    # collapse it back to the original row count
    ev = _batch(spark, event_dir)
    dup_dir = str(tmp_path / "dup")
    ev.union(ev).write.mode("overwrite").parquet(dup_dir)
    schema = ev.schema
    stream = SW.dedup_events(
        SW.stream_from_parquet(spark, dup_dir, schema), id_cols=["event_id"]
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_t").count()
    assert got == ev.count()


def test_watermark_drops_late_rows(spark, event_dir, tmp_path):
    """Rows older than the watermark horizon must be dropped: feed the main
    data in batch 1, advance the watermark, then deliver year-old events in
    batch 2."""
    import glob
    import shutil

    ev = _batch(spark, event_dir)
    watch, stage = _dirs(tmp_path, "watch", "stage")

    def deliver(df, tag):
        out = os.path.join(stage, tag)
        df.coalesce(1).write.mode("overwrite").parquet(out)
        for i, f in enumerate(glob.glob(os.path.join(out, "*.parquet"))):
            shutil.copy(f, os.path.join(watch, f"{tag}_{i}.parquet"))

    deliver(ev, "main")
    src = spark.readStream.schema(ev.schema).parquet(watch)
    agg = SW.tumbling_agg(src, watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark → max(ts) - 10min
        deliver(ev.withColumn("ts", F.col("ts") - F.expr("INTERVAL 365 DAYS")), "late")
        q.processAllAvailable()  # batch 2: every row is a year late
    finally:
        q.stop()
    out = spark.table("late_t")
    assert out.filter(F.col("window_start") < "2023-06-01").count() == 0


def test_stateful_running_stats_equals_batch(spark, event_dir):
    """applyInPandasWithState final state per user == batch groupBy."""
    from dsci551_edfs_spark.streaming import stateful as ST

    ev = _batch(spark, event_dir)
    batch = ST.user_running_stats(ev)
    stream = _run_stateful_update(
        ST.user_running_stats(_stream(spark, event_dir)), "stateful_t"
    )
    b = {r["user_id"]: r for r in batch.collect()}
    s = {r["user_id"]: r for r in stream.collect()}
    assert set(b) == set(s)
    for uid in b:
        assert s[uid]["n_events"] == b[uid]["n_events"]
        assert s[uid]["sum_value"] == pytest.approx(b[uid]["sum_value"])
        assert s[uid]["last_ts"] == b[uid]["last_ts"]


def test_stream_stream_interval_join_equals_batch(spark, event_dir):
    """Two watermarked streams joined on key + time range == batch join."""
    from dsci551_edfs_spark.streaming.windows import interval_join

    def split(df):
        purchases = df.filter("event_type = 'purchase'").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id")
        )
        views = df.filter("event_type = 'view'").select(
            F.col("user_id").alias("user_id_r"),
            F.col("ts").alias("ts_r"),
            F.col("event_id").alias("view_id"),
        )
        return purchases, views

    bp, bv = split(_batch(spark, event_dir))
    batch = interval_join(bp, bv).select("purchase_id", "view_id")

    sp, sv = split(_stream(spark, event_dir))
    # unbounded watermark for exact equivalence: availableNow delivers
    # files in arbitrary ts order
    joined = interval_join(sp, sv, watermark="3650 days").select(
        "purchase_id", "view_id"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = spark.table("ssj_t")
    assert _as_sets(stream) == _as_sets(batch)
    assert batch.count() > 0


def test_parquet_sink_with_checkpoint(spark, event_dir, tmp_path):
    """File sink + checkpoint: exactly-once delivery to parquet; restarting
    the query against the same checkpoint must not duplicate rows."""
    ev = _batch(spark, event_dir)
    out, ckpt = _dirs(tmp_path, "out", "ckpt")

    def run():
        q = (
            _stream(spark, event_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert spark.read.parquet(out).count() == ev.count()
    run()  # restart on the same checkpoint: no new input -> no duplicates
    assert spark.read.parquet(out).count() == ev.count()


def test_stream_static_enrich_equals_batch(spark, event_dir):
    """Stream-static broadcast join: the streaming run (append mode, no
    state) must equal the batch join row-for-row."""
    dim = (
        _batch(spark, event_dir)
        .select("user_id").distinct()
        .withColumn("tier", F.concat(F.lit("t"), (F.col("user_id") % 3).cast("string")))
    )
    batch = SW.static_enrich(_batch(spark, event_dir), dim).select(
        "event_id", "user_id", "tier"
    )
    enriched = SW.static_enrich(_stream(spark, event_dir), dim).select(
        "event_id", "user_id", "tier"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = spark.table("enrich_t")
    assert _as_sets(stream) == _as_sets(batch)


class _FileFeed:
    """Deliver parquet micro-batches into a watched dir, poll the memory
    sink / query progress. Shared by the two timeout-eviction tests."""

    def __init__(self, spark, tmp_path):
        import pandas as pd

        self.spark = spark
        self.pd = pd
        self.watch, self.stage = _dirs(tmp_path, "watch", "stage")
        self.q = None

    def deliver(self, tag, rows):
        pdf = self.pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf["ts"] = self.pd.to_datetime(pdf["ts"])
        out = os.path.join(self.stage, tag)
        self.spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(out)
        import glob as g
        import shutil

        for i, f in enumerate(g.glob(os.path.join(out, "*.parquet"))):
            shutil.copy(f, os.path.join(self.watch, f"{tag}_{i}.parquet"))

    def rows(self, name, uid):
        return [
            r["n_events"]
            for r in self.spark.table(name).filter(F.col("user_id") == uid).collect()
        ]

    def state_rows(self):
        p = self.q.lastProgress
        ops = (p or {}).get("stateOperators") or []
        return ops[0]["numRowsTotal"] if ops else None

    def wait_for(self, cond, what, timeout=120):
        import time

        end = time.time() + timeout
        while time.time() < end:
            if self.q.exception() is not None:
                raise self.q.exception()
            if cond():
                return
            time.sleep(0.25)
        raise AssertionError(f"timed out waiting for {what}")


def test_stateful_event_timeout_evicts_dormant_key(spark, tmp_path):
    """EventTimeTimeout eviction is watermark-driven, so the full
    semantics are deterministic regardless of processing speed: a key
    whose last event falls timeout_ms behind the watermark is evicted
    (counters restart from zero on reappearance) while a key that keeps
    receiving events accumulates straight through.

    Timeline (event time, timeout 30 s, watermark delay 0):
      b1: key1 @00:00:00/01, key2 @00:00:02   → both seeded
      b2: key2 @00:01:00                       → watermark 00:01:00;
          key1 due at 00:00:31 < watermark → evicted in the no-data
          batch; key2 due at 00:01:30 > watermark → survives
      b3: key1 @00:02:00, key2 @00:02:01       → key1 restarts (n=1),
          key2 accumulates (n=3)
    """
    from dsci551_edfs_spark.streaming import stateful as ST

    feed = _FileFeed(spark, tmp_path)
    feed.deliver(
        "b1",
        [
            (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
            (2, "2024-01-01 00:00:01", 1, "view", 2.0, "{}"),
            (3, "2024-01-01 00:00:02", 2, "view", 5.0, "{}"),
        ],
    )
    schema = spark.read.parquet(feed.watch).schema
    src = spark.readStream.schema(schema).parquet(feed.watch)
    out = ST.user_running_stats(
        src, timeout_ms=30_000, timeout_mode="event", watermark_delay="0 seconds"
    )
    feed.q = (
        out.writeStream.format("memory")
        .queryName("evict_et")
        .outputMode("update")
        .start()
    )
    rows = lambda uid: feed.rows("evict_et", uid)
    try:
        feed.wait_for(lambda: rows(1) and rows(2), "batch-1 emissions")
        feed.deliver("b2", [(4, "2024-01-01 00:01:00", 2, "view", 7.0, "{}")])
        feed.wait_for(lambda: 2 in rows(2), "key-2 batch-2 emission")
        # watermark is now 00:01:00 > key1's 00:00:31 deadline: the engine's
        # no-data batch fires the timer. Observe the eviction itself (state
        # row count 2 → 1) before sending key1 back in, so b3 can't race it.
        feed.wait_for(lambda: feed.state_rows() == 1, "key-1 state eviction")
        feed.deliver(
            "b3",
            [
                (5, "2024-01-01 00:02:00", 1, "view", 9.0, "{}"),
                (6, "2024-01-01 00:02:01", 2, "view", 11.0, "{}"),
            ],
        )
        feed.wait_for(lambda: 1 in rows(1) and 3 in rows(2), "batch-3 emissions")
    finally:
        feed.q.stop()
    k1, k2 = rows(1), rows(2)
    # evicted key restarted from zero: its batch-3 emission counts only the
    # new event; state surviving would have produced n_events == 3
    assert 1 in k1 and max(k1) == 2, k1
    # active key accumulated straight through the eviction
    assert max(k2) == 3, k2


def test_stateful_processing_timeout_evicts(spark, tmp_path):
    """ProcessingTimeTimeout: wall-clock dormancy eviction. How many
    micro-batches a key survives depends on scheduling latency, so this
    test asserts only the load-robust half of the contract — a dormant
    key IS eventually evicted (observed via state-store row count, since
    eviction emits nothing) and restarts from zero on reappearance.
    Survival-under-activity is pinned by the deterministic event-time
    test above; asserting it here would race the scheduler.
    """
    from dsci551_edfs_spark.streaming import stateful as ST

    feed = _FileFeed(spark, tmp_path)
    feed.deliver(
        "b1",
        [
            (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
            (2, "2024-01-01 00:00:01", 1, "view", 2.0, "{}"),
        ],
    )
    schema = spark.read.parquet(feed.watch).schema
    src = spark.readStream.schema(schema).parquet(feed.watch)
    out = ST.user_running_stats(src, timeout_ms=1000)
    feed.q = (
        out.writeStream.format("memory")
        .queryName("evict_pt")
        .outputMode("update")
        .start()
    )
    rows = lambda uid: feed.rows("evict_pt", uid)
    try:
        feed.wait_for(lambda: 2 in rows(1), "batch-1 emission")
        # no further input: the continuously-constructed batches fire the
        # timer once >=1 s of wall time passes — however long that takes
        feed.wait_for(lambda: feed.state_rows() == 0, "state eviction")
        feed.deliver("b2", [(3, "2024-01-01 00:05:00", 1, "view", 9.0, "{}")])
        feed.wait_for(lambda: 1 in rows(1), "post-eviction restart emission")
    finally:
        feed.q.stop()
    k1 = rows(1)
    # restart from zero: 2 (batch 1) then 1 (batch 2), never 3
    assert sorted(set(k1)) == [1, 2], k1


def test_exactly_once_sink_idempotent_replay(spark, event_dir, tmp_path):
    """The foreachBatch parquet sink must (a) land every input row exactly
    once across micro-batches, (b) absorb a replay of an already-committed
    batch without duplicating, and (c) restart from the checkpoint without
    re-emitting committed batches."""
    import glob
    import shutil

    from dsci551_edfs_spark.streaming import sinks as SK

    ev = _batch(spark, event_dir)
    watch, out, ckpt, stage = _dirs(tmp_path, "watch", "out", "ckpt", "stage")
    for i, f in enumerate(glob.glob(os.path.join(event_dir, "*.parquet"))):
        shutil.copy(f, os.path.join(watch, f"a_{i}.parquet"))

    src = SW.stream_from_parquet(spark, watch, ev.schema, max_files=2)
    q = SK.exactly_once_parquet_sink(src, out, ckpt, "eo_sink")
    q.awaitTermination(120)
    got = SK.read_exactly_once(spark, out)
    assert got.count() == ev.count()
    n_batches = spark.read.parquet(out).select("_batch_id").distinct().count()
    assert n_batches >= 2  # maxFilesPerTrigger=2 over 6 files

    # (b) replay a committed batch id with the same data slice: no dupes
    some_bid = spark.read.parquet(out).agg(F.min("_batch_id")).first()[0]
    slice_df = spark.read.parquet(out).filter(
        F.col("_batch_id") == some_bid
    ).drop("_batch_id")
    SK.write_batch_idempotent(slice_df, some_bid, out)
    assert SK.read_exactly_once(spark, out).count() == ev.count()

    # (c) restart from checkpoint with one new file: only new rows land
    extra = ev.limit(7).withColumn("event_id", F.col("event_id") + 10_000_000)
    extra.coalesce(1).write.mode("overwrite").parquet(stage)
    for i, f in enumerate(glob.glob(os.path.join(stage, "*.parquet"))):
        shutil.copy(f, os.path.join(watch, f"b_{i}.parquet"))
    src2 = SW.stream_from_parquet(spark, watch, ev.schema, max_files=2)
    q2 = SK.exactly_once_parquet_sink(src2, out, ckpt, "eo_sink2")
    q2.awaitTermination(120)
    assert SK.read_exactly_once(spark, out).count() == ev.count() + 7


def test_cdc_apply_last_writer_wins(spark, tmp_path):
    """Across micro-batches the CDC contract is last-writer-wins per key:
    a key updated in an early batch and again in a later one ends at the
    later value; batch-internal duplicate keys collapse via the
    deterministic struct-min before the merge."""
    import os

    from dsci551_edfs_spark.streaming.cdc import apply_changes_stream

    base = str(tmp_path / "cdc")
    feed = os.path.join(base, "feed")
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, s string, v double"
    )
    # batch order follows file modification time for the file source:
    # write the early batch first, the later batch second
    b1 = spark.createDataFrame([(1, "a", 11.0), (3, "c", 30.0)],
                               "k long, s string, v double")
    b2 = spark.createDataFrame([(1, "a", 12.0)], "k long, s string, v double")
    b1.coalesce(1).write.mode("overwrite").parquet(feed)
    import time as _t

    _t.sleep(1.1)  # distinct mtimes => deterministic batch order
    b2.coalesce(1).write.mode("append").parquet(feed)

    final = apply_changes_stream(
        spark, target, feed, base, key="k", max_files=1
    )
    got = {r["k"]: (r["s"], r["v"]) for r in final.collect()}
    assert got == {1: ("a", 12.0), 2: ("b", 20.0), 3: ("c", 30.0)}
    # versioned snapshots: v0 (init) + one per batch remain on disk
    vdirs = sorted(d for d in os.listdir(base) if d.startswith("target_v"))
    assert vdirs == ["target_v0", "target_v1", "target_v2"]


def test_stream_stream_interval_left_outer_equals_batch(spark, event_dir, tmp_path):
    """Watermarked LEFT-OUTER stream-stream join == batch left join.

    Outer-null rows emit only when the GLOBAL watermark (the min across
    BOTH legs) passes a row's join window, so the harness makes watermark
    advancement deterministic:
    - the feed is split into ts-quartile files written SEQUENTIALLY
      (distinct mtimes → the file source delivers them in ts order;
      same-mtime files arrive in arbitrary order and their rows would be
      dropped as late data),
    - a far-future flush event lands on EACH leg (purchase AND view —
      one leg alone leaves the min-watermark behind the other),
    - the query uses a file sink + checkpoint and runs availableNow
      TWICE: the restart's no-data batch performs the final state
      eviction that availableNow termination doesn't guarantee.
    """
    import time

    from dsci551_edfs_spark.streaming.windows import (
        interval_join,
        stream_from_parquet,
    )

    ev = _batch(spark, event_dir)
    d, out, ckpt = _dirs(tmp_path, "feed", "out", "ckpt")

    # ts-ordered delivery: quartile files with strictly increasing mtime
    bounds = [
        r["p"]
        for r in ev.selectExpr(
            "explode(percentile(cast(ts AS BIGINT), array(0.25, 0.5, 0.75))) AS p"
        ).collect()
    ]
    lo = [None] + bounds
    hi = bounds + [None]
    ts_s = F.col("ts").cast("long")
    for a, b in zip(lo, hi):
        part = ev
        if a is not None:
            part = part.filter(ts_s > a)
        if b is not None:
            part = part.filter(ts_s <= b)
        part.coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)

    # flush events: one per leg, far past every real row's join window
    base = ev.orderBy(F.col("ts").desc()).limit(1)

    def mk(eid, uid, etype):
        return base.select(
            F.lit(eid).cast(ev.schema["event_id"].dataType).alias("event_id"),
            F.lit(uid).cast(ev.schema["user_id"].dataType).alias("user_id"),
            F.lit(etype).alias("event_type"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
            *[
                F.lit(None).cast(ev.schema[c].dataType).alias(c)
                for c in ev.columns
                if c not in ("event_id", "user_id", "event_type", "ts")
            ],
        ).select(*ev.columns)

    mk(-999, -1, "purchase").unionByName(mk(-998, -2, "view")).coalesce(
        1
    ).write.mode("append").parquet(d)

    def split(df):
        purchases = df.filter("event_type = 'purchase'").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id")
        )
        views = df.filter("event_type = 'view'").select(
            F.col("user_id").alias("user_id_r"),
            F.col("ts").alias("ts_r"),
            F.col("event_id").alias("view_id"),
        )
        return purchases, views

    bp, bv = split(spark.read.parquet(d))
    batch = interval_join(bp, bv, how="leftOuter").select(
        "purchase_id", "view_id"
    )

    schema = spark.read.parquet(d).schema

    def run_once():
        sp, sv = split(stream_from_parquet(spark, d, schema, max_files=1))
        joined = interval_join(
            sp, sv, watermark="1 seconds", how="leftOuter"
        ).select("purchase_id", "view_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    run_once()  # checkpoint restart: final no-data batch evicts tail state

    drop_flush = lambda s: {t for t in s if t[0] != -999}  # noqa: E731
    bset = drop_flush(_as_sets(batch))
    sset = drop_flush(_as_sets(spark.read.parquet(out)))
    assert bset == sset
    # the outer rows are the point: some purchase must have no prior view
    assert any(v is None for _, v in bset)
    assert any(v is not None for _, v in bset)
