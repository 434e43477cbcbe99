"""Round-10 operators: exact-substring removal, LSH tuning sweep,
SemDeDup epsilon curve, IVF nprobe recall curve."""

import math

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.pipeline import dedup as DD
from dsci551_edfs_spark.pipeline import similarity as SIM
from dsci551_edfs_spark.q_tuning import _LSH_CONFIGS, _lsh_detect_p_sql
from dsci551_edfs_spark.queries import QUERIES


# ------------------------------------------------ exact_substring_dedup

SPAN = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens


def _docs(spark):
    rows = [
        # doc 0 holds the span first -> global winner, untouched
        (0, f"intro words {SPAN} closing remark"),
        # doc 1 repeats the span verbatim -> span removed
        (1, f"different opening {SPAN} and a tail"),
        # doc 2 shares only a 4-token run with doc 0 (< min_span=6 once
        # stitched) -> untouched
        (2, "intro words alpha bravo something else entirely here"),
        # doc 3 no overlap at all
        (3, "completely unrelated content goes here today"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_substring_dedup_removes_planted_span(spark):
    out = DD.exact_substring_dedup(
        _docs(spark), n=4, min_span=6, max_occ=1000
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 4
    # winner doc: nothing removed, text round-trips (lowercased stream)
    assert got[0]["n_removed"] == 0
    assert got[0]["clean_text"] == f"intro words {SPAN} closing remark"
    # loser doc: the 8-token span is gone, surroundings survive
    assert got[1]["n_removed"] == 8
    assert got[1]["clean_text"] == "different opening and a tail"
    # sub-min_span overlap and unrelated docs untouched
    assert got[2]["n_removed"] == 0
    assert got[3]["n_removed"] == 0
    # n_tokens is the pre-removal token count
    assert got[1]["n_tokens"] == 13


def test_exact_substring_dedup_winner_is_global_first(spark):
    # the same span planted in three docs: only the (id, pos)-least
    # occurrence survives
    rows = [
        (10, f"x {SPAN} y"),
        (11, f"{SPAN} solo"),
        (12, f"a b c {SPAN}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.exact_substring_dedup(df, n=4, min_span=6)
    got = {r["doc_id"]: r["n_removed"] for r in out.collect()}
    assert got == {10: 0, 11: 8, 12: 8}


def test_exact_substring_dedup_max_occ_exempts_hot_grams(spark):
    # 30 copies of the same text; with max_occ=10 the grams are too hot
    # to qualify -> nothing removed anywhere
    rows = [(i, SPAN) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = DD.exact_substring_dedup(df, n=4, min_span=6, max_occ=10)
    assert out.agg(F.sum("n_removed")).first()[0] == 0


def test_exact_substring_dedup_rejects_bad_min_span(spark):
    with pytest.raises(ValueError):
        DD.exact_substring_dedup(_docs(spark), n=4, min_span=3)


# ------------------------------------------------------ lsh_tuning_report

def test_lsh_detect_p_formula_matches_python():
    """The squaring-chain SQL evaluates (via DuckDB) to the textbook
    1-(1-s^r)^b within float tolerance for every m and config."""
    import duckdb

    con = duckdb.connect()
    for b, r in _LSH_CONFIGS:
        p_sql = _lsh_detect_p_sql(b, r)
        rows = con.execute(
            f"SELECT m, {p_sql} AS p FROM "
            "(SELECT unnest(generate_series(0, 64)) AS m)"
        ).fetchall()
        for m, p in rows:
            s = m / 64.0
            want = 1.0 - (1.0 - s**r) ** b
            assert abs(p - want) < 1e-9, (b, r, m)


def test_lsh_tuning_report_shape_and_sanity(spark, sf_dir):
    out = QUERIES["lsh_tuning_report"](spark, sf_dir).collect()
    assert len(out) == len(_LSH_CONFIGS)
    by_cfg = {(r["bands"], r["rows_per_band"]): r for r in out}
    # s* falls as bands grow (more bands -> catches lower similarity)
    stars = [by_cfg[(b, r)]["s_star"] for b, r in _LSH_CONFIGS]
    assert stars == sorted(stars, reverse=True)
    for row in out:
        n = row["n_pairs"]
        assert 0 <= row["exp_detected"] <= n + 1e-6
        assert row["exp_missed_above_t"] >= 0
        assert row["exp_fp_below_t"] >= 0
    # all configs integrate the SAME pair sample
    assert len({r["n_pairs"] for r in out}) == 1


# ------------------------------------------------------ semdedup_eps_curve

def test_semdedup_eps_curve_monotone(spark, sf_dir):
    rows = QUERIES["semdedup_eps_curve"](spark, sf_dir).orderBy(
        "eps_pct"
    ).collect()
    assert [r["eps_pct"] for r in rows] == [40, 50, 60, 70, 80, 90]
    pair_counts = [r["n_pairs"] for r in rows]
    removed = [r["n_docs_removed"] for r in rows]
    # tightening eps can only shrink both
    assert pair_counts == sorted(pair_counts, reverse=True)
    assert removed == sorted(removed, reverse=True)
    # removal never exceeds qualifying pairs
    for p, d in zip(pair_counts, removed):
        assert d <= p


# ---------------------------------------------------- ann_recall_vs_nprobe

def test_ivf_recall_curve_anchors_and_monotonicity(spark, sf_dir):
    rows = QUERIES["ann_recall_vs_nprobe"](spark, sf_dir).orderBy(
        "n_probe"
    ).collect()
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8]
    recalls = [r["recall_at_k"] for r in rows]
    cands = [r["n_candidates"] for r in rows]
    # probing more buckets can only add candidates and recall
    assert recalls == sorted(recalls)
    assert cands == sorted(cands)
    # all 8 of 8 buckets probed == brute force -> recall 1.0 exactly
    assert math.isclose(recalls[-1], 1.0)
    # at full probes every query sees the whole corpus minus itself —
    # checked against an INDEPENDENT corpus count (dropped or duplicated
    # candidates at n_probe=8 must fail here)
    from dsci551_edfs_spark.sources.registry import load_table

    n_corpus = load_table(spark, sf_dir, "embeddings").count()
    assert math.isclose(rows[-1]["avg_candidates"], n_corpus - 1)
    assert rows[-1]["n_candidates"] == 10 * (n_corpus - 1)


def test_nearest_centroids_rank_order(spark):
    """probe_rank 1 must be the argmax-similarity centroid, ranks
    strictly ordered by descending similarity per row."""
    import numpy as np

    rng = np.random.RandomState(7)
    cents = rng.standard_normal((8, 16))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = rng.standard_normal((20, 16))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "id long, v array<double>",
    )
    out = SIM._nearest_centroids(
        df, cents, "v", n_top=3, with_rank=True
    ).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append((r["probe_rank"], r["centroid"]))
    for i, pairs in by_id.items():
        pairs.sort()
        sims = vecs[i] @ cents.T
        want = list(np.argsort(-sims)[:3])
        assert [c for _, c in pairs] == want


# ------------------------------------------------ relational surface adds

def test_unpivot_single_scan_expand(spark, sf_dir):
    """DataFrame.unpivot must compile to ONE lineitem scan with an
    Expand node — not the oracle's 4-scan UNION ALL."""
    from dsci551_edfs_spark.plans.debug import explain_str

    plan = explain_str(QUERIES["unpivot_lineitem_measures"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Expand" in plan, plan


def test_event_reachability_rcte_contract(spark, sf_dir):
    from pyspark.sql import Window

    from dsci551_edfs_spark.sources.registry import load_table

    rows = QUERIES["event_reachability_rcte"](spark, sf_dir).collect()
    by_t = {r["event_type"]: r for r in rows}
    # the anchor is min over SRC types (types with an outgoing edge) —
    # re-derived here the same way the SQL does, NOT min over result
    # keys (a type reachable only as a destination could sort lower)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    start = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .agg(F.min("event_type"))
        .first()[0]
    )
    assert by_t[start]["min_hops"] == 0
    # hops bounded by the cap
    assert all(0 <= r["min_hops"] <= 3 for r in rows)
    # walk counts are positive and >= 1 per reached type
    assert all(r["n_walks"] >= 1 for r in rows)


def test_ivm_equals_full_recompute(spark, sf_dir):
    """The maintained view must equal a full recompute over the merged
    table — computed here in Spark directly, independent of the DuckDB
    oracle."""
    from dsci551_edfs_spark.sources.registry import load_table

    got = {
        r["segment"]: (r["n_orders"], r["revenue"])
        for r in QUERIES["ivm_segment_revenue"](spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    merged = o.select(
        "o_custkey",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 2, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    ).unionByName(
        o.filter(F.col("o_orderkey") % 97 == 0).select(
            "o_custkey", F.round("o_totalprice", 2).alias("price")
        )
    )
    cents = F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")
    want = {
        r["segment"]: (r["n_orders"], r["revenue"])
        for r in merged.join(
            c, F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(cents) / 100.0, 2).alias("revenue"),
        )
        .collect()
    }
    assert got == want


def test_ivm_steady_state_reads_memo_not_base_join(spark, sf_dir):
    """Steady state: the base partials come from the memo parquet — the
    plan's base side must be a memo read, not an orders-customer
    re-aggregation (orders appears only in the delta subtree)."""
    from dsci551_edfs_spark.plans.debug import explain_str

    QUERIES["ivm_segment_revenue"](spark, sf_dir).count()  # ensure built
    plan = explain_str(QUERIES["ivm_segment_revenue"](spark, sf_dir))
    assert "ivm_seg_rev_base" in plan, plan
