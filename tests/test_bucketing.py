"""Co-located bucketed join: correctness vs the plain join, and the plan
property that pays at 100 TB — zero Exchange (shuffle) operators when both
sides are bucketed on the join key with equal bucket counts."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark import memo as MEMO
from dsci551_edfs_spark.plans.debug import explain_str
from dsci551_edfs_spark.sources.bucketing import write_bucketed
from dsci551_edfs_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"
SCRATCH = os.path.join(MEMO.SCRATCH, "bucketed_tables")


@pytest.fixture(scope="module")
def bucketed(spark):
    shutil.rmtree(SCRATCH, ignore_errors=True)
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    write_bucketed(o, "orders_b", "o_orderkey", 8, os.path.join(SCRATCH, "o"))
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b",
        "o_orderkey",
        8,
        os.path.join(SCRATCH, "li"),
    )
    yield
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def _bucketed_join(spark):
    return spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")


def _joined(spark):
    return (
        _bucketed_join(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


def test_bucketed_join_matches_plain_join(spark, bucketed):
    got = {r["o_orderstatus"]: (r["n"], r["qty"]) for r in _joined(spark).collect()}
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    exp = {
        r["o_orderstatus"]: (r["n"], r["qty"])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .collect()
    }
    assert got == exp


def test_bucketed_join_has_no_shuffle(spark, bucketed):
    # Force the sort-merge path (a broadcast join would hide the property
    # under a BroadcastExchange) and assert the bucketed scan eliminated
    # every hash-partitioning Exchange from the join itself.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(_bucketed_join(spark))
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_groupby_on_key_has_no_shuffle(spark, bucketed):
    # Aggregation on the bucket key also reuses the write-time shuffle.
    plan = explain_str(
        spark.table("lineitem_b").groupBy("o_orderkey").agg(F.sum("l_quantity"))
    )
    assert "Exchange hashpartitioning" not in plan
