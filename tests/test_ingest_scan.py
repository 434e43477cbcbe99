"""put → cat / readPartition / getPartitionLocations roundtrips."""

import re

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.plans.debug import explain_str
from dsci551_edfs_spark.sources import ingest, scan
from dsci551_edfs_spark.sources.partials import map_partials


@pytest.fixture()
def dest(tmp_path):
    return str(tmp_path / "table")


def test_put_cat_restores_order(spark, dest):
    rows = [(i, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "id int, val string").repartition(4)
    ingest.put_dataframe(df.orderBy("id"), dest, 4, "val")
    out = scan.cat(spark.read.parquet(dest)).collect()
    # cat restores ingest order via the index column (combined_flask.py:313-314)
    assert [r["id"] for r in out] == sorted(r["id"] for r in out)
    assert set(out[0].asDict()) == {"id", "val"}


def test_null_hash_keys_form_own_partition(spark, dest):
    # nulls filled with "NULL" sentinel → own partition (combined_flask.py:405-408)
    rows = [("x", 1), ("y", 2), (None, 3), (None, 4), ("", 5)]
    df = spark.createDataFrame(rows, "k string, v int")
    ingest.put_dataframe(df, dest, 2, "k")
    partials = map_partials(spark.read.parquet(dest), [])
    keys = scan.list_partitions(partials)
    assert "NULL" in keys
    # an empty-string key is written as Hive's default partition and reads
    # back as a null key, which sorts first, as in Spark's ascending order
    assert keys == [None, "NULL", "x", "y"]
    locs = scan.get_partition_locations(partials)
    assert [v["key"] for v in locs["partitions"].values()] == keys
    by_key = {v["key"]: v["rows"] for v in locs["partitions"].values()}
    assert by_key["NULL"] == 2
    assert by_key[None] == 1


def test_numeric_null_hash_fill_zero(spark, dest):
    rows = [(1.5, 1), (None, 2)]
    df = spark.createDataFrame(rows, "k double, v int")
    ingest.put_dataframe(df, dest, 2, "k")
    keys = scan.list_partitions(map_partials(spark.read.parquet(dest), []))
    assert any(k in ("0", "0.0") for k in keys)


def test_range_binning_fallback(spark, dest):
    # no hash column → equal-width bins on first column labeled index_i
    # (combined_flask.py:411-415, :1241-1242)
    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    manifest = ingest.put_dataframe(df, dest, 4, None)
    assert manifest["num_partitions"] == 4
    partials = map_partials(spark.read.parquet(dest), [])
    assert scan.list_partitions(partials) == ["index_0", "index_1", "index_2", "index_3"]
    locs = scan.get_partition_locations(partials)
    sizes = [v["rows"] for v in locs["partitions"].values()]
    assert sum(sizes) == 100
    assert max(sizes) - min(sizes) <= 1  # equal-width on uniform data


def test_read_partition_pruned_and_bounds(spark, dest):
    # "" is written as Hive's default partition: a null key, partition 1
    keys_in = ["a", "a", "b", "", "c", "c"]
    df = spark.createDataFrame([(k, i) for i, k in enumerate(keys_in)], "k string, v int")
    ingest.put_dataframe(df, dest, 3, "k")
    table = spark.read.parquet(dest)
    keys = scan.list_partitions(map_partials(table, []))
    assert keys == [None, "a", "b", "c"]
    null_part = scan.read_partition(table, 1, keys)
    a_part = scan.read_partition(table, 2, keys)
    # the key filter reaches the scan as a partition filter, the null
    # key's too
    assert re.search(r"PartitionFilters: \[isnull\(__edfs_part__#\d+\)\]", explain_str(null_part))
    assert re.search(r"PartitionFilters: \[\(__edfs_part__#\d+ <=> a\)\]", explain_str(a_part))
    assert [r["v"] for r in null_part.collect()] == [3]
    assert [(r["k"], r["v"]) for r in a_part.collect()] == [("a", 0), ("a", 1)]
    for bad in (0, 5):
        with pytest.raises(IndexError):
            scan.read_partition(table, bad, keys)


def test_put_rejects_non_csv(spark, tmp_path):
    src = tmp_path / "data.txt"
    src.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError):
        ingest.put(spark, str(src), str(tmp_path / "out"), 2)
    with pytest.raises(FileNotFoundError):
        ingest.put(spark, str(tmp_path / "missing.csv"), str(tmp_path / "out"), 2)


def test_put_csv_end_to_end(spark, tmp_path, dest):
    src = tmp_path / "data.csv"
    src.write_text("k,v\na,1\nb,2\na,3\n")
    manifest = ingest.put(spark, str(src), dest, 2, "k")
    assert manifest["num_partitions"] == 2
    out = scan.cat(spark.read.parquet(dest)).collect()
    assert [(r["k"], r["v"]) for r in out] == [("a", 1), ("b", 2), ("a", 3)]


def test_put_reads_quoted_fields_as_pandas_does(spark, tmp_path, dest):
    """RFC 4180 quoting: a doubled quote inside a quoted field is one
    quote, a quoted comma is data. `put` must store the values the
    reference's `pd.read_csv` reads from the same file."""
    import pandas as pd

    src = tmp_path / "quoted.csv"
    src.write_text(
        'id,name,note\n'
        '1,"Smith, ""Jr""",plain\n'
        '2,"say ""hi""","a,b"\n'
        '3,"""lead"" and trail","back\\slash"\n'
    )
    ingest.put(spark, str(src), dest, 2)
    got = [tuple(r) for r in scan.cat(spark.read.parquet(dest)).collect()]
    assert got == list(pd.read_csv(src).itertuples(index=False, name=None))


def test_edfs_datasource_pushdown_prunes_partitions(spark, sf_dir, tmp_path):
    """format('edfs') reads the put layout; EqualTo pushdown on the hash
    column prunes partitions() to one directory; the sentinel partition
    keeps non-matching null rows OUT of an equality result (partial
    pushdown: the row filter stays in Spark's plan)."""
    import pyspark.sql.functions as F

    from dsci551_edfs_spark.sources.edfs_datasource import _EdfsReader, register_edfs
    from dsci551_edfs_spark.sources.ingest import put_dataframe
    from pyspark.sql.datasource import EqualTo

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    dest = str(tmp_path / "table")
    base = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, None), (5, None)],
        "id long, grp int",
    )
    put_dataframe(base, dest, 3, hash_col="grp")
    register_edfs(spark)

    # unit-level pruning: pushFilters + partitions
    reader = _EdfsReader({"path": dest, "hash_col": "grp"}, ["id", "grp"])
    # nulls sentinel-fill INTO the 0 partition → dirs are {0, 1}
    assert len(reader.partitions()) == 2
    list(reader.pushFilters([EqualTo(("grp",), 1)]))
    assert len(reader.partitions()) == 1

    df = (
        spark.read.format("edfs")
        .option("path", dest)
        .option("hash_col", "grp")
        .load()
    )
    assert df.count() == 5
    # equality on the sentinel value must NOT surface the null rows
    zero = df.filter(F.col("grp") == 0).select("id").collect()
    assert sorted(r["id"] for r in zero) == [1, 2]
    one = df.filter(F.col("grp") == 1).select("id").collect()
    assert [r["id"] for r in one] == [3]
    # the pruned scan runs as a single task (one InputPartition)
    assert (
        df.filter(F.col("grp") == 1).select("id").rdd.getNumPartitions() == 1
    )
