"""Namespace (mkdir/ls/rm) + relational wrapper + plan-shape tests."""

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.catalog import EdfsCatalog
from dsci551_edfs_spark.operators import relational as R
from dsci551_edfs_spark.plans.debug import explain_str
from dsci551_edfs_spark.sources.registry import load_table


@pytest.fixture()
def cat(spark, tmp_path):
    return EdfsCatalog(spark, str(tmp_path / "warehouse"))


def test_mkdir_p_and_ls(cat):
    cat.mkdir("/a/b/c")  # -p semantics (combined_flask.py:108-131)
    assert cat.exists("/a/b/c")
    listing = cat.ls("/a")
    assert [e["name"] for e in listing] == ["b"]
    assert listing[0]["permissions"].startswith("d")
    assert cat.format_ls("/a").startswith("Found 1 items")
    with pytest.raises(FileExistsError):
        cat.mkdir("/a/b/c")


def test_rm_semantics(cat, spark):
    cat.mkdir("/d/e")
    with pytest.raises(PermissionError):
        cat.rm("/")
    with pytest.raises(OSError):
        cat.rm("/d")  # non-empty plain dir refused (combined_flask.py:244-250)
    cat.rm("/d/e")
    cat.rm("/d")
    assert not cat.exists("/d")
    with pytest.raises(FileNotFoundError):
        cat.rm("/nope")
    # a parquet table dir IS removable in one call
    df = spark.range(10)
    df.write.parquet(cat.table_path("/tbl"))
    cat.rm("/tbl")
    assert not cat.exists("/tbl")


def test_join_broadcast_plan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    j = R.join(li, sup, li.l_suppkey == sup.s_suppkey, broadcast_hint=True)
    assert "BroadcastHashJoin" in explain_str(j)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_returnflag") == "R").select("l_quantity")
    plan = explain_str(q)
    assert "PushedFilters" in plan and "l_returnflag" in plan
    # column pruning: scan schema must not include unprojected cols
    assert "l_comment" not in plan


def test_set_ops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "x int")
    b = spark.createDataFrame([(2,), (3,), (4,)], "x int")
    assert sorted(r.x for r in R.intersect(a, b).collect()) == [2, 3]
    assert sorted(r.x for r in R.distinct(a).collect()) == [1, 2, 3]
