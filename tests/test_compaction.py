"""Compaction planner contracts: the greedy size-descending packing rule,
its overflow bound and partitioning-determinism."""

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.sources.compaction import plan_compaction


@pytest.fixture()
def files(spark):
    rows = [(f"f{i:03d}", 100 + (i * 37) % 900) for i in range(200)]
    return spark.createDataFrame(rows, "file_id string, bytes long")


def test_packing_matches_reference(spark, files):
    """Engine assignment == the single-window reference rule computed
    driver-side: out_group = bytes-before // target over (bytes desc,
    file_id) order."""
    target = 4000
    got = {
        r["file_id"]: r["out_group"]
        for r in plan_compaction(files, target).collect()
    }
    rows = sorted(files.collect(), key=lambda r: (-r["bytes"], r["file_id"]))
    acc = 0
    for r in rows:
        assert got[r["file_id"]] == acc // target, r
        acc += r["bytes"]
    assert len(got) == len(rows)


def test_group_bytes_bounded(spark, files):
    """Every group's bytes stay within [target - max_file, target +
    max_file) except the final partial group — the straddle-by-one-file
    overflow bound of sequential fill."""
    target = 4000
    plan = plan_compaction(files, target)
    summ = (
        plan.groupBy("out_group")
        .agg(F.sum("bytes").cast("long").alias("group_bytes"))
        .collect()
    )
    max_file = files.agg(F.max("bytes")).first()[0]
    last = max(r["out_group"] for r in summ)
    for r in summ:
        assert r["group_bytes"] < target + max_file
        if r["out_group"] != last:
            assert r["group_bytes"] >= target - max_file
    total = sum(r["group_bytes"] for r in summ)
    assert total == files.agg(F.sum("bytes")).first()[0]


def test_deterministic_under_repartition(spark, files):
    target = 4000
    a = sorted(map(tuple, plan_compaction(files, target).collect()))
    b = sorted(map(tuple, plan_compaction(files.repartition(7), target).collect()))
    assert a == b


def test_oversized_file_gets_own_group(spark):
    """A file larger than target consumes its group(s) alone: the next
    file starts a later group, never co-packs with the giant."""
    rows = [("big", 10_000), ("s1", 10), ("s2", 10), ("s3", 10)]
    df = spark.createDataFrame(rows, "file_id string, bytes long")
    got = {r["file_id"]: r["out_group"] for r in plan_compaction(df, 1000).collect()}
    assert got["big"] == 0
    assert got["s1"] == got["s2"] == got["s3"] == 10  # 10_000 // 1000


def test_invalid_target_raises(spark, files):
    with pytest.raises(ValueError, match="positive"):
        plan_compaction(files, 0)
