"""Z-order z-values: the bit interleave matches a pure-Python reference."""

from pyspark.sql import functions as F

from dsci551_edfs_spark.sources.layout import spread_bits16, zvalue16


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
