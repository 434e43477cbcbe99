"""Z-order layout: bit-interleave correctness and the data-skipping
contract — per-file min/max envelopes must be tight on BOTH dimensions,
where a single-column sort is tight on one and useless on the other."""

import os

import pytest
import tempfile

from pyspark.sql import functions as F

from dsci551_edfs_spark import memo as MEMO
from dsci551_edfs_spark.sources.layout import spread_bits16, zorder_layout, zvalue16
from dsci551_edfs_spark.sources.registry import load_table

SCRATCH = os.path.join(MEMO.SCRATCH, "test_layout")


def _py_spread(x):
    x = (x | (x << 8)) & 0x00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F
    x = (x | (x << 2)) & 0x33333333
    x = (x | (x << 1)) & 0x55555555
    return x


def test_zvalue_matches_reference_interleave(spark):
    df = spark.range(0, 2000).select(
        F.col("id"),
        (F.col("id") * 7 % 65536).alias("a"),
        (F.col("id") * 131 % 65536).alias("b"),
    )
    got = df.select(
        "a", "b", zvalue16(F.col("a"), F.col("b")).alias("z"),
        spread_bits16(F.col("a")).alias("sa"),
    ).collect()
    for r in got:
        assert r["sa"] == _py_spread(r["a"])
        assert r["z"] == _py_spread(r["a"]) | (_py_spread(r["b"]) << 1)


def _partition_spans(df, col_a, col_b, n):
    """Average normalized (max-min) span per range-partition for both dims."""
    stats = (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.min(col_a).alias("a_lo"), F.max(col_a).alias("a_hi"),
            F.min(col_b).alias("b_lo"), F.max(col_b).alias("b_hi"),
        )
        .collect()
    )
    g = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    a_span = float(g[1] - g[0]) or 1.0
    b_span = float(g[3] - g[2]) or 1.0
    avg_a = sum((r["a_hi"] - r["a_lo"]) / a_span for r in stats) / len(stats)
    avg_b = sum((r["b_hi"] - r["b_lo"]) / b_span for r in stats) / len(stats)
    return avg_a, avg_b


def test_zorder_tightens_both_dims(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n = 16
    z = zorder_layout(o, "o_custkey", "o_totalprice", n_partitions=n)
    za, zb = _partition_spans(z, "o_custkey", "o_totalprice", n)
    single = o.repartitionByRange(n, "o_custkey").sortWithinPartitions("o_custkey")
    sa, sb = _partition_spans(single, "o_custkey", "o_totalprice", n)

    # single-column sort: tight on a, full-span on b
    assert sa < 0.2 and sb > 0.8
    # z-order: meaningfully tight on BOTH (z-curve cells cover ~sqrt of
    # the plane per partition)
    assert za < 0.6 and zb < 0.6
    assert za + zb < sa + sb


def test_zorder_files_carry_both_dim_stats(spark, sf_dir):
    import pyarrow.parquet as pq

    os.makedirs(SCRATCH, exist_ok=True)
    d = tempfile.mkdtemp(dir=SCRATCH)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zorder_layout(o, "o_custkey", "o_totalprice", n_partitions=8).drop(
        "_z"
    ).write.mode("overwrite").parquet(d)
    spans = []
    glo = o.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    width = float(glo[1] - glo[0]) or 1.0
    for fn in os.listdir(d):
        if not fn.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(d, fn))
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)  # o_custkey
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        spans.append((max(his) - min(los)) / width)
    # every file's custkey envelope is far below the global span even
    # though the layout also clusters totalprice
    assert len(spans) >= 4
    assert sum(spans) / len(spans) < 0.6


def test_zvalue3_matches_reference(spark):
    def py_spread3(x):
        x &= 0x3FF
        x = (x | (x << 16)) & 0x030000FF
        x = (x | (x << 8)) & 0x0300F00F
        x = (x | (x << 4)) & 0x030C30C3
        x = (x | (x << 2)) & 0x09249249
        return x

    from dsci551_edfs_spark.sources.layout import zvalue3

    df = spark.range(0, 1500).select(
        (F.col("id") * 7 % 1024).alias("a"),
        (F.col("id") * 131 % 1024).alias("b"),
        (F.col("id") * 523 % 1024).alias("c"),
    )
    got = df.select(
        "a", "b", "c",
        zvalue3(F.col("a"), F.col("b"), F.col("c")).alias("z"),
    ).collect()
    for r in got:
        expect = (py_spread3(r["a"]) | (py_spread3(r["b"]) << 1)
                  | (py_spread3(r["c"]) << 2))
        assert r["z"] == expect
        # invertibility: deinterleave every 3rd bit
        a = b = c = 0
        for i in range(10):
            a |= ((r["z"] >> (3 * i)) & 1) << i
            b |= ((r["z"] >> (3 * i + 1)) & 1) << i
            c |= ((r["z"] >> (3 * i + 2)) & 1) << i
        assert (a, b, c) == (r["a"], r["b"], r["c"])


def test_zorder_empty_frame_raises(spark):
    empty = spark.createDataFrame([], "a double, b double")
    with pytest.raises(ValueError, match="empty"):
        zorder_layout(empty, "a", "b")
    # explicit bounds sidestep the scan and an empty layout is fine
    out = zorder_layout(empty, "a", "b", bounds=(0.0, 1.0, 0.0, 1.0))
    assert out.count() == 0
