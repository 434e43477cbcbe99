"""Sketch-aggregate error contracts vs exact answers."""

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.operators import sketches as SK
from dsci551_edfs_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").cache()


def test_approx_ndv_within_rsd(orders):
    approx = SK.approx_ndv(orders, ["o_orderkey", "o_custkey"], rsd=0.02).first()
    exact = orders.agg(
        F.countDistinct("o_orderkey").alias("k"),
        F.countDistinct("o_custkey").alias("c"),
    ).first()
    assert approx["ndv_o_orderkey"] == pytest.approx(exact["k"], rel=0.05)
    assert approx["ndv_o_custkey"] == pytest.approx(exact["c"], rel=0.05)


def test_hll_own_error_and_merge_losslessness(orders, spark, sf_dir):
    """The oracle-checked own-HLL: estimate within the ~1.04/√m band
    (p=9 → m=512 → rsd ≈ 4.6%; allow 3σ), and max-merging per-priority
    registers reproduces the global register table EXACTLY."""
    regs = SK.hll_own_registers(orders, "o_custkey", ["o_orderpriority"])
    est = {
        r["o_orderpriority"]: r["ndv_est"]
        for r in SK.hll_own_estimate(regs, ["o_orderpriority"]).collect()
    }
    exact = {
        r["o_orderpriority"]: r["c"]
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("c"))
        .collect()
    }
    for k, c in exact.items():
        assert est[k] == pytest.approx(c, rel=0.14)
    # lossless merge: max over the priority partition == global build
    merged = {
        r["bucket"]: r["reg"]
        for r in regs.groupBy("bucket").agg(F.max("reg").alias("reg")).collect()
    }
    direct = {
        r["bucket"]: r["reg"]
        for r in SK.hll_own_registers(orders, "o_custkey").collect()
    }
    assert merged == direct


def test_frequent_items_exact_shares(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = {r["event_type"]: r["share"] for r in
           SK.frequent_items(ev, "event_type", 0.01).collect()}
    total = ev.count()
    exact = {r["event_type"]: r["cnt"] / total for r in
             ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()}
    for k, v in out.items():
        assert v == pytest.approx(exact[k], abs=1e-4)


def test_count_min_overestimates_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.functions.text import tokens
    from dsci551_edfs_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )
    from dsci551_edfs_spark.sources.registry import load_table

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    n_items = toks.count()
    for width in (64, 4096):
        cms = count_min_build(toks, "token", depth=4, width=width)
        est = count_min_estimate(cms, exact.select("token"), "token", 4, width)
        rows = exact.join(est, "token").collect()
        assert all(r["cms_cnt"] >= r["cnt"] for r in rows)  # never undercounts
        # depth-4 min over rows: overestimate well under the additive
        # e*N/width bound in expectation
        worst = max(r["cms_cnt"] - r["cnt"] for r in rows)
        assert worst <= 3 * n_items / width
    # wide sketch on a small vocab: exact recovery
    cms = count_min_build(toks, "token", depth=4, width=4096)
    est = count_min_estimate(cms, exact.select("token"), "token", 4, 4096)
    assert all(
        r["cms_cnt"] == r["cnt"] for r in exact.join(est, "token").collect()
    )


def test_pagerank_micro_properties(spark):
    from dsci551_edfs_spark.operators.graph import SCALE, pagerank_micro

    # star graph: hub h pointed at by a,b,c (and back-edges so every node
    # has outdegree)
    edges = spark.createDataFrame(
        [("a", "h"), ("b", "h"), ("c", "h"), ("h", "a"), ("h", "b"), ("h", "c")],
        "src string, dst string",
    )
    pr = {r["node"]: r["pr_micro"] for r in pagerank_micro(edges, 3).collect()}
    assert set(pr) == {"a", "b", "c", "h"}
    assert pr["h"] > pr["a"] == pr["b"] == pr["c"]  # hub dominates, leaves tie
    total = sum(pr.values())
    assert 0.9 * SCALE <= total <= SCALE  # floor-division mass leak only

    # deterministic under repartition
    pr2 = {
        r["node"]: r["pr_micro"]
        for r in pagerank_micro(edges.repartition(5), 3).collect()
    }
    assert pr == pr2


def test_count_min_geometry_from_metadata(spark, sf_dir):
    """The sketch carries its (depth, width) geometry; estimate derives
    it and rejects mismatched explicit params instead of silently
    hashing probes into the wrong buckets."""
    from dsci551_edfs_spark.functions.text import tokens
    from dsci551_edfs_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )
    from dsci551_edfs_spark.sources.registry import load_table

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    cms = count_min_build(toks, "token", depth=4, width=128).persist()
    try:
        # no explicit params: geometry read from the sketch itself
        est = count_min_estimate(cms, exact.select("token"), "token")
        rows = exact.join(est, "token").collect()
        assert rows and all(r["cms_cnt"] >= r["cnt"] for r in rows)
        # matching explicit params cross-check cleanly
        count_min_estimate(cms, exact.select("token"), "token", 4, 128).count()
        # mismatched params fail loudly
        with pytest.raises(ValueError, match="width"):
            count_min_estimate(cms, exact.select("token"), "token", 4, 64)
        with pytest.raises(ValueError, match="depth"):
            count_min_estimate(cms, exact.select("token"), "token", 8, 128)
    finally:
        cms.unpersist()
    # a bare legacy sketch (no metadata columns) needs explicit params
    bare = cms.drop("depth", "width")
    with pytest.raises(ValueError, match="metadata"):
        count_min_estimate(bare, exact.select("token"), "token")


def test_pagerank_deep_iterations_lineage_bounded(spark):
    """20 iterations complete quickly: the every-5-rounds localCheckpoint
    keeps the plan tree from growing exponentially (each un-truncated
    iteration embeds the previous rank vector twice)."""
    import time

    from dsci551_edfs_spark.operators.graph import pagerank_micro

    edges = spark.createDataFrame(
        [("a", "h"), ("b", "h"), ("c", "h"), ("h", "a"), ("h", "b"), ("h", "c")],
        "src string, dst string",
    )
    t0 = time.monotonic()
    pr = {r["node"]: r["pr_micro"] for r in pagerank_micro(edges, 20).collect()}
    assert time.monotonic() - t0 < 60
    assert pr["h"] > pr["a"] == pr["b"] == pr["c"]


def test_pagerank_empty_edges_raises(spark):
    from dsci551_edfs_spark.operators.graph import pagerank_micro

    empty = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty"):
        pagerank_micro(empty, 3)


def test_ndv_rollup_merge_is_lossless_and_bounded(spark, sf_dir):
    """HLL partial mergeability: weekly estimate from merged DAILY
    sketches must equal the direct weekly sketch (union of HLLs is the
    HLL of the union), and land within 5% of exact COUNT(DISTINCT)."""
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.operators.sketches import ndv_partials, ndv_rollup
    from dsci551_edfs_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        "user_id",
    )
    daily = ndv_partials(ev, ["week", "day"], "user_id")
    rolled = {
        r["week"]: r["ndv_est"]
        for r in ndv_rollup(daily.drop("day"), "week").collect()
    }
    direct = {
        r["week"]: r["ndv_est"]
        for r in ndv_rollup(ndv_partials(ev, "week", "user_id"), "week").collect()
    }
    exact = {
        r["week"]: r["x"]
        for r in ev.groupBy("week")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    assert rolled == direct                      # lossless merge
    assert set(rolled) == set(exact)
    for wk, est in rolled.items():
        assert abs(est - exact[wk]) / exact[wk] <= 0.05, (wk, est, exact[wk])


def test_quantile_hist_rollup_merge_is_exact(orders):
    """The mergeable-sketch contract, STRONGER than HLL's: weekly
    percentiles read from merged daily partials must EQUAL the histogram
    built directly at week grain (bin counts sum losslessly)."""
    week = F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    daily = SK.quantile_hist_partials(
        orders, F.col("o_orderdate").alias("day"), "o_totalprice"
    ).select(
        F.date_trunc("week", "day").cast("date").alias("week"), "bin", "cnt"
    )
    direct = SK.quantile_hist_partials(orders, week, "o_totalprice")
    via_merge = {
        r["week"]: (r["n_rows"], r["p50_bin"], r["p95_bin"])
        for r in SK.quantile_hist_rollup(daily, "week").collect()
    }
    via_direct = {
        r["week"]: (r["n_rows"], r["p50_bin"], r["p95_bin"])
        for r in SK.quantile_hist_rollup(direct, "week").collect()
    }
    assert via_merge == via_direct


def test_quantile_hist_bin_brackets_true_quantile(orders):
    """The sketch's precise contract: the reported p-bin CONTAINS the
    exact rank statistic it targets (the ceil(q·n)-th smallest value),
    i.e. e^(bin/8) ≤ value < e^((bin+1)/8) — so any bin-derived estimate
    has relative error bounded by e^(1/8)-1 ≈ 13%."""
    import math

    week = F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    parts = SK.quantile_hist_partials(orders, week, "o_totalprice")
    rolled = {r["week"]: r for r in SK.quantile_hist_rollup(parts, "week").collect()}
    rows = orders.select(week, "o_totalprice").collect()
    by_week: dict = {}
    for r in rows:
        by_week.setdefault(r["week"], []).append(r["o_totalprice"])
    for wk, vals in by_week.items():
        vals.sort()
        n = len(vals)
        got = rolled[wk]
        assert got["n_rows"] == n
        for bin_col, num, den in (("p50_bin", 1, 2), ("p95_bin", 19, 20)):
            target_rank = (n * num + den - 1) // den  # ceil(n·q)
            qv = vals[target_rank - 1]
            b = got[bin_col]
            assert math.exp(b / 8) <= qv < math.exp((b + 1) / 8)
