"""Quirk-pinning tests for the PMR aggregates (SURVEY.md §2.4, FIXTURES.md §2)."""

import math

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.operators import aggregates as agg
from dsci551_edfs_spark.sources.ingest import PARTITION_COL
from dsci551_edfs_spark.sources.partials import map_partials


@pytest.fixture(scope="module")
def quirks_df(spark):
    # neg_only: all < 0 with nulls; all_null_group: null for key 'b';
    # hash_key_nullable: nullable partition key
    rows = [
        # (key, neg_only, grouped, plain)
        ("a", -5.0, 1.0, 10.0),
        ("a", -2.0, 3.0, 20.0),
        ("b", None, None, 30.0),
        ("b", -7.0, None, 40.0),
        (None, -1.0, 5.0, None),
    ]
    return spark.createDataFrame(rows, "key string, neg_only double, grouped double, plain double")


@pytest.fixture(scope="module")
def quirks(quirks_df):
    """The map step of `quirks_df`: no partition column, so one
    partition with key None."""
    return map_partials(quirks_df)


def test_avg_skips_nulls(quirks):
    # reference: all-NaN partitions excluded from numerator AND denominator
    # (combined_flask.py:763-764) == SQL null-skipping avg
    assert agg.get_avg(quirks, "grouped") == pytest.approx((1 + 3 + 5) / 3)


def test_max_spark_vs_legacy(quirks):
    # Spark-correct max of all-negative column is negative
    assert agg.get_max(quirks, "neg_only") == -1.0


def test_min_spark_vs_firebase(quirks):
    assert agg.get_min(quirks, "plain") == 10.0


def test_count(quirks):
    # the implicit count every reference map emits (combined_flask.py:734):
    # rows per partition, and each column's null-skipping count
    assert sum(quirks.sizes) == 5
    assert sum(r[0] for r in quirks.columns["grouped"]) == 3


def test_validate_rejects_non_numeric(quirks):
    # reference rejects non-numeric cols (combined_flask.py:569-573)
    with pytest.raises(TypeError):
        agg.get_avg(quirks, "key")
    with pytest.raises(KeyError):
        agg.get_avg(quirks, "missing_col")


def test_format_three_decimals():
    # output contract: 3-decimal rounding (combined_flask.py:770)
    assert agg.format_result("avg", 25.3756) == "The overall average is 25.376"
    assert agg.format_result("max", None).startswith("The overall maximum is undefined")


def test_partition_debug(quirks_df):
    nn = quirks_df.filter(F.col("plain").isNotNull()).withColumn(PARTITION_COL, F.col("key"))
    out = agg.partition_debug(map_partials(nn), "plain", "avg")
    assert [r["partition"] for r in out] == [1, 2]
    assert sum(r["size"] for r in out) == 4
    total = sum(r["partial"] * r["size"] for r in out if r["partial"] is not None)
    # weighted merge of partials == global sum (the reference's reduce step)
    assert math.isclose(total, 100.0)


def test_agg_against_testdata(spark, sf_dir):
    from dsci551_edfs_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    partials = map_partials(li, ["l_quantity"])
    a = agg.get_avg(partials, "l_quantity")
    mx = agg.get_max(partials, "l_quantity")
    mn = agg.get_min(partials, "l_quantity")
    assert mn <= a <= mx
    # pruned avg only aggregates matching rows
    pruned = li.filter(F.col("l_returnflag") == "A").agg(F.avg("l_quantity")).collect()[0][0]
    df2 = li.withColumn(PARTITION_COL, F.col("l_returnflag"))
    by_flag = map_partials(df2, ["l_quantity"])
    assert agg.get_avg(by_flag, "l_quantity", hash_value="A") == pytest.approx(pruned)


# ------------------------------------------- partials vs direct aggregates


@pytest.fixture(scope="module")
def partials_table(spark, tmp_path_factory):
    """A hash-partitioned table with int, long, double and decimal columns,
    about 30% nulls, an all-null column and a NaN."""
    import random
    from decimal import Decimal

    from dsci551_edfs_spark.sources.ingest import put_dataframe

    r = random.Random(7)

    def maybe(v):
        return None if r.random() < 0.3 else v

    rows = [
        (
            maybe(i % 4),
            maybe(r.randint(-50, 50)),
            maybe(r.randint(-(2**40), 2**40)),
            maybe(r.uniform(-1e6, 1e6)),
            None,
            float("nan") if i == 17 else maybe(r.uniform(-5, 5)),
            maybe(Decimal(r.randint(-99999, 99999)).scaleb(-2)),
        )
        for i in range(200)
    ]
    schema = "k int, i int, l long, d double, all_null double, with_nan double, dec decimal(10,2)"
    dest = str(tmp_path_factory.mktemp("partials") / "t")
    put_dataframe(spark.createDataFrame(rows, schema), dest, 4, "k")
    return dest


def _same(got, want, rel=0.0) -> bool:
    """Equal, NaN equal to NaN; within `rel` (as floats) when given."""
    if got is None or want is None:
        return got is want
    if rel:
        got, want = float(got), float(want)
    if want != want:
        return got != got
    return math.isclose(got, want, rel_tol=rel) if rel else got == want


@pytest.mark.parametrize("infer_types", [False, True])
def test_partials_reduce_equals_spark_aggregates(spark, partials_table, infer_types):
    from pyspark.sql import types as T

    session = spark
    if infer_types:
        session = spark.newSession()
        session.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    df = session.read.parquet(partials_table)
    partials = map_partials(df)
    key_type = df.schema[PARTITION_COL].dataType
    assert isinstance(key_type, T.IntegerType if infer_types else T.StringType)
    cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]
    assert {"i", "l", "d", "all_null", "with_nan", "dec"} <= set(cols)

    for h in [None, *(str(k) for k in partials.keys), "999"]:
        exprs = []
        for c in cols:
            exprs += [
                F.avg(c),
                F.max(c),
                F.min(c),
            ]
        # `hash` pruning as a filter on the partition column
        pruned = df if h is None else df.filter(F.col(PARTITION_COL) == F.lit(h))
        want = pruned.agg(*exprs).collect()[0]
        for j, c in enumerate(cols):
            got = [
                agg.get_avg(partials, c, h),
                agg.get_max(partials, c, h),
                agg.get_min(partials, c, h),
            ]
            w = want[3 * j : 3 * j + 3]
            assert _same(got[0], w[0], rel=1e-12), (c, h, "avg", got[0], w[0])
            for name, g, e in zip(["max", "min"], got[1:], w[1:]):
                assert _same(g, e), (c, h, name, g, e)

    # debug lists every partition of the table in partition-map order
    debug = agg.partition_debug(partials, "i", "max")
    assert [d["partition"] for d in debug] == list(range(1, len(partials.keys) + 1))
    assert sum(d["size"] for d in debug) == 200
    assert [d["partial"] for d in debug] == [agg.get_max(partials, "i", str(k)) for k in partials.keys]


def test_hash_needs_a_partition_column(quirks):
    with pytest.raises(KeyError):
        agg.get_avg(quirks, "plain", hash_value="a")
