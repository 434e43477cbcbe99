"""Round-13 contracts: autoscaled two-phase cumulative parallelism,
true Efraimidis–Spirakis zero-weight semantics, and the quality_lr_ece
empty-corpus degenerate row (ADVICE r12 / VERDICT r12 items 1 & 4)."""

import os

from pyspark.sql import functions as F


def test_derive_rank_partitions_conf_rule(spark):
    """Derivation rule (optimization r13): max(32, shuffle partitions
    conf) — cluster-scale-adaptive (the conf is ~2-3x executor cores on
    a real deployment) with zero driver cost. The former
    df.rdd.getNumPartitions() probe paid a plan->RDD conversion per
    call and reported the pre-AQE placeholder (1) on shuffled inputs."""
    from dsci551_edfs_spark.operators.cumulative import (
        MIN_RANK_PARTITIONS,
        derive_rank_partitions,
    )

    df = spark.range(100).repartition(4)
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert derive_rank_partitions(df, None) == max(
        MIN_RANK_PARTITIONS, conf
    )
    # explicit caller hint always wins
    assert derive_rank_partitions(df, 7) == 7
    # scale-adaptivity: a cluster-sized conf drives the prefix stage —
    # a fixed 32 would cap the 100 TB prefix stage at 32 tasks forever
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    try:
        assert derive_rank_partitions(df, None) == 128
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(conf))


def test_running_total_derived_partitions_matches_naive(spark):
    """Values are partitioning-independent by design: the derived
    rank_partitions (input has 50 partitions -> 50 range buckets) must
    produce the identical global running sum as any fixed count."""
    from dsci551_edfs_spark.operators.cumulative import (
        running_max,
        running_total,
    )

    rows = [(i, (i * 37) % 101) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(50)
    got = {
        r["k"]: r["running_total"]
        for r in running_total(df, ["k"], "v").collect()
    }
    acc, want = 0, {}
    for k, v in sorted(rows):
        acc += v
        want[k] = acc
    assert got == want

    got_max = {
        r["k"]: r["running_max"]
        for r in running_max(df, ["k"], "v").collect()
    }
    run, want_max = None, {}
    for k, v in sorted(rows):
        run = v if run is None or v > run else run
        want_max[k] = run
    assert got_max == want_max


def test_running_totals_offset_frame_tracks_derived_count(spark):
    """The broadcast offset exchange stays one row per derived range
    partition — constant-size whatever the data volume."""
    from dsci551_edfs_spark.operators import cumulative as C

    captured = {}
    orig = C.derive_rank_partitions

    def spy(df, rp):
        n = orig(df, rp)
        captured["n"] = n
        return n

    C.derive_rank_partitions = spy
    try:
        df = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") % 9).alias("v")
        ).repartition(40)
        out = C.running_totals(df, ["k"], [("v", "cum_v")])
        out.collect()
    finally:
        C.derive_rank_partitions = orig
    assert captured["n"] == orig(df, None)


def test_weighted_sample_excludes_nonpositive_weights(spark):
    """Efraimidis–Spirakis semantics: w <= 0 => selection probability 0.
    Before round 13 a zero-weight row competed at clamp weight 1 and
    could outrank real rows on a lucky md5-uniform."""
    from dsci551_edfs_spark.pipeline.curation import (
        stratified_weighted_sample,
        weighted_sample_es,
    )

    rows = [(i, "s%d" % (i % 2), [5, 0, -3][i % 3]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    picked = weighted_sample_es(df, "w", k=50).collect()
    assert picked, "positive-weight rows must be sampleable"
    assert all(r["w"] > 0 for r in picked)
    # only 20 rows have w > 0, so k=50 returns exactly those 20
    assert len(picked) == 20

    strat = stratified_weighted_sample(df, "source", "w", k=50).collect()
    assert strat and all(r["w"] > 0 for r in strat)


def test_blocking_recall_sampled_truth_engages(spark, tmp_path):
    """VERDICT r12: beyond _BLOCKING_TRUTH_CAP a-side points the exact
    truth leg runs on a deterministic md5-sampled slice (both legs on
    the SAME slice) — executable code, not a docstring promise."""
    import hashlib

    from dsci551_edfs_spark.q_embeddings import _BLOCKING_TRUTH_CAP
    from dsci551_edfs_spark.queries import QUERIES

    sf = str(tmp_path / "sf_big_emb")
    os.makedirs(sf)
    n = 6000  # 3000 a-side > cap (1000)
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.when(
                F.pmod(F.xxhash64(F.col("id"), i), 2) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        ).cast("array<float>").alias("embedding"),
        F.lit(0).alias("label"),
    )
    emb.write.parquet(os.path.join(sf, "embeddings.parquet"))
    row = QUERIES["ann_mutual_knn_blocking_recall"](spark, sf).collect()[0]
    # expected slice: a-side ids whose md5 bucket (mod ceil(3000/1000))
    # is 0 — replicate to bound the truth leg's pair volume
    mod = -(-3000 // _BLOCKING_TRUTH_CAP)
    kept = sum(
        1
        for v in range(0, n, 2)
        if int(hashlib.md5(str(v).encode()).hexdigest()[:4], 16) % mod == 0
    )
    assert kept < 3000  # the sample really engaged
    assert 0 < row["n_exact"] <= 5 * kept
    assert 0 <= row["recall_micro"] <= 1_000_000
    assert 0 <= row["precision_micro"] <= 1_000_000


def test_quality_lr_ece_empty_corpus(spark, tmp_path):
    """ADVICE r12: on an EMPTY corpus the Spark leg must return the
    oracle's coalesced (0, 0, 0, 0) row, not NULL-ish aggregates."""
    from dsci551_edfs_spark.queries import QUERIES

    sf = str(tmp_path / "sf_empty")
    os.makedirs(sf)
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    empty.write.parquet(os.path.join(sf, "documents.parquet"))
    row = QUERIES["quality_lr_ece"](spark, sf).collect()
    assert len(row) == 1
    r = row[0]
    assert (r["n_docs"], r["n_bins"], r["ece_micro"], r["mce_micro"]) == (
        0,
        0,
        0,
        0,
    )


def test_dataset_cartography_invariants(spark, sf_dir):
    """Regions partition the corpus by the frozen n_correct rule; disp
    (9 x variance x 1e8) is non-negative; conf_sum4 is 3 gold-class
    probs in [0, 3e4]."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["dataset_cartography"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["conf_sum4"] <= 30000
        assert r["disp"] >= 0
        assert 0 <= r["n_correct"] <= 3
        want = (
            "easy-to-learn"
            if r["n_correct"] == 3
            else "hard-to-learn" if r["n_correct"] == 0 else "ambiguous"
        )
        assert r["region"] == want
        if r["disp"] == 0:  # all three rounds agree exactly
            assert r["n_correct"] in (0, 3) or r["conf_sum4"] // 3 >= 0


def test_conformal_gate_threshold_invariants(spark, sf_dir):
    """k is the frozen (n+1)//10 order-statistic rank; covered counts
    are bounded by their populations; rates are micro-scaled."""
    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["conformal_gate_threshold"](spark, sf_dir).collect()[0]
    assert r["k_rank"] == (r["n_cal_pos"] + 1) // 10
    assert 0 <= r["n_dep_pos_covered"] <= r["n_dep_pos"] <= r["n_dep"]
    assert 0 <= r["n_dep_pass"] <= r["n_dep"]
    assert 0 <= r["coverage_micro"] <= 1_000_000
    assert 0 <= r["pass_rate_micro"] <= 1_000_000
    # with a real calibration set the threshold is a real score
    if r["k_rank"] >= 1:
        assert 0 <= r["t4"] <= 10000


def test_label_noise_confident_joint_invariants(spark, sf_dir):
    """Cells partition the confident subset; thresholds are the same on
    every row; assigned docs never exceed the corpus."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["label_noise_confident_joint"](spark, sf_dir).collect()
    assert rows
    n_corpus = duckdb.sql(
        "SELECT count(*) FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet')"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) <= n_corpus
    assert {(r["y"], r["yhat"]) for r in rows} <= {
        (0, 0),
        (0, 1),
        (1, 0),
        (1, 1),
    }
    assert len({(r["t1_4"], r["t0_4"]) for r in rows}) == 1


def test_gate_fairness_audit_invariants(spark, sf_dir):
    """Wilson bounds bracket the point rate for every source."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["gate_fairness_audit"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_pass"] <= r["n"]
        assert r["wilson_lo_micro"] <= r["pass_rate_micro"] <= r[
            "wilson_hi_micro"
        ]
        assert 0 <= r["wilson_lo_micro"] and r["wilson_hi_micro"] <= 1_000_000


def test_sequence_packing_curve_invariants(spark, sf_dir):
    """Exact packing identities per context length: packed seqs =
    ceil(total/L), padded waste = padded*L - total >= 0, packing never
    uses MORE sequences than padding, and docs_split is bounded by both
    the doc count and the number of window boundaries."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["sequence_packing_curve"](spark, sf_dir).collect()
    assert {r["ctx_len"] for r in rows} == {128, 256, 512, 1024, 2048}
    for r in rows:
        L, tot = r["ctx_len"], r["total_tokens"]
        assert r["n_seqs_packed"] == (tot + L - 1) // L
        assert r["n_seqs_padded"] >= r["n_seqs_packed"]
        assert (
            r["pad_waste_tokens"] == r["n_seqs_padded"] * L - tot >= 0
        )
        # a doc can only split at a boundary; there are packed-1 interior
        # boundaries, and each doc splits at most once in this count
        assert 0 <= r["docs_split"] <= min(
            r["n_docs"], max(r["n_seqs_packed"] - 1, 0)
        )
        assert 0 < r["packed_util_ppm"] <= 1_000_000
    # longer contexts never increase the padded-sequence count
    by_len = sorted(rows, key=lambda r: r["ctx_len"])
    for a, b in zip(by_len, by_len[1:]):
        assert b["n_seqs_padded"] <= a["n_seqs_padded"]


def test_mixture_epochs_plan_invariants(spark, sf_dir):
    """The cap is never exceeded, Σ alloc_raw == budget exactly
    (largest remainder), redistribution never un-caps a source, and
    epochs_micro is the exact integer ratio."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["mixture_epochs_plan"](spark, sf_dir).collect()
    assert rows
    budget = 3 * sum(r["tokens_avail"] for r in rows)
    assert sum(r["alloc_raw"] for r in rows) == budget
    assert sum(r["alloc_final"] for r in rows) <= budget
    for r in rows:
        assert r["cap_tokens"] == 4 * r["tokens_avail"]
        assert 0 <= r["alloc_final"] <= r["cap_tokens"]
        assert r["capped"] == (1 if r["alloc_raw"] > r["cap_tokens"] else 0)
        if r["tokens_avail"] > 0:
            assert (
                r["epochs_micro"]
                == r["alloc_final"] * 1_000_000 // r["tokens_avail"]
            )
            assert r["epochs_micro"] <= 4_000_000


def test_streaming_conformal_coverage_invariants(spark, sf_dir):
    """Realized-coverage monitor: counts nest, rates are exact micro
    integers, and the alert fires iff coverage undercuts the 90%
    promise on a non-empty positive feed."""
    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["streaming_conformal_coverage"](spark, sf_dir).collect()[0]
    assert 0 <= r["n_feed_pos_covered"] <= r["n_feed_pos"] <= r["n_feed"]
    assert 0 <= r["n_feed_pass"] <= r["n_feed"]
    if r["n_feed_pos"] > 0:
        want = (2_000_000 * r["n_feed_pos_covered"] + r["n_feed_pos"]) // (
            2 * r["n_feed_pos"]
        )
        assert r["coverage_micro"] == want
    assert r["alert_low_coverage"] == (
        1 if r["n_feed_pos"] > 0 and r["coverage_micro"] < 900_000 else 0
    )
    assert 0 <= r["t4"] <= 10000


def test_conformal_batch_partials_are_additive(spark, sf_dir):
    """Batch-boundary independence, directly: scoring the feed as ONE
    batch and as TWO disjoint halves (with the SAME frozen IDF/model/
    threshold) must sum to identical coverage partials — the property
    that makes the streaming result oracle-checkable."""
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.q_analytics_b import _lr_trained_model
    from dsci551_edfs_spark.q_round13 import _conformal_t4
    from dsci551_edfs_spark.queries import _t
    from dsci551_edfs_spark.streaming.conformal_monitor import batch_coverage_counts
    from dsci551_edfs_spark.streaming.quality_gate import frozen_featurizer

    d = _t(spark, sf_dir, "documents")
    w, bias = _lr_trained_model(spark, sf_dir)
    t4 = _conformal_t4(spark, sf_dir)
    dfr, n_ref = frozen_featurizer(d)
    whole = batch_coverage_counts(d, dfr, n_ref, w, bias, t4).collect()[0]
    lo = batch_coverage_counts(
        d.filter(F.col("doc_id") % 2 == 0), dfr, n_ref, w, bias, t4
    ).collect()[0]
    hi = batch_coverage_counts(
        d.filter(F.col("doc_id") % 2 == 1), dfr, n_ref, w, bias, t4
    ).collect()[0]
    for c in ("n", "n_pass", "n_pos", "n_pos_covered"):
        assert whole[c] == lo[c] + hi[c]


def test_pass_at_k_eval_invariants(spark, sf_dir):
    """pass@k is monotone non-decreasing in k, micro-bounded, with one
    shared fixed-n task census across rows; a pure-Python replay of the
    estimator over the same md5-ordered first-20 attempts must agree."""
    import hashlib

    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    rows = sorted(
        QUERIES["pass_at_k_eval"](spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [1, 2, 5, 10]
    assert len({r["n_tasks"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert 0 <= a["mean_pass_micro"] <= b["mean_pass_micro"] <= 1_000_000

    ev = duckdb.sql(
        "SELECT user_id, event_id, event_type FROM read_parquet("
        f"'{sf_dir}/events.parquet')"
    ).fetchall()
    by_task = {}
    for uid, eid, et in ev:
        by_task.setdefault(uid, []).append((eid, et))
    cs = []
    for uid, evs in by_task.items():
        evs.sort(key=lambda e: (hashlib.md5(str(e[0]).encode()).hexdigest(), e[0]))
        if len(evs) < 20:
            continue
        cs.append(sum(1 for _, et in evs[:20] if et in ("purchase", "signup")))
    for r in rows:
        k = r["k"]
        den = 1
        for i in range(k):
            den *= 20 - i
        s = 0
        for c in cs:
            num = 1 if 20 - c >= k else 0
            if num:
                for i in range(k):
                    num *= 20 - c - i
            s += (den - num) * 1_000_000 // den
        assert r["n_tasks"] == len(cs)
        assert r["mean_pass_micro"] == (2 * s + len(cs)) // (2 * len(cs))


def test_quality_budget_curve_invariants(spark, sf_dir):
    """Monotone trade-off: bigger budgets select supersets (docs and
    tokens non-decreasing), mean selected quality never improves as the
    budget grows, the frontier only falls, tokens never exceed the
    budget, and the 100% row takes the whole corpus."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = sorted(
        QUERIES["quality_budget_curve"](spark, sf_dir).collect(),
        key=lambda r: r["budget_pct"],
    )
    assert [r["budget_pct"] for r in rows] == [10, 25, 50, 75, 100]
    for r in rows:
        assert r["tokens_selected"] <= r["budget_tokens"]
        assert 0 <= r["frontier_q4"] <= 10000
        assert 0 <= r["mean_q_micro"] <= 1_000_000
    for a, b in zip(rows, rows[1:]):
        assert a["n_docs"] <= b["n_docs"]
        assert a["tokens_selected"] <= b["tokens_selected"]
        if a["n_docs"] > 0:
            assert a["mean_q_micro"] >= b["mean_q_micro"]
            assert a["frontier_q4"] >= b["frontier_q4"]
    full = rows[-1]
    assert full["tokens_selected"] == full["budget_tokens"]


def test_shuffle_mixing_audit_matches_python(spark, sf_dir):
    """Exact replay: same-source adjacency over the md5 order and the
    uniform-permutation expectation, recomputed in plain Python from
    the parquet, must equal the distributed result; the md5 order of a
    multi-source corpus should mix to within 3x of expectation."""
    import hashlib

    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["shuffle_mixing_audit"](spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"SELECT doc_id, source FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    order = sorted(
        rows, key=lambda t: (hashlib.md5(str(t[0]).encode()).hexdigest(), t[0])
    )
    same = sum(
        1 for x, y in zip(order, order[1:]) if x[1] == y[1]
    )
    from collections import Counter

    cnt = Counter(s for _, s in rows)
    n = len(rows)
    pairs = sum(c * (c - 1) for c in cnt.values())
    assert r["n_docs"] == n
    assert r["same_adj"] == same
    assert r["expected_same_micro"] == pairs * 1_000_000 // n
    assert r["mixing_ratio_micro"] == same * 1_000_000 * n // pairs
    # the md5 order behaves like a fresh permutation on this corpus
    assert r["mixing_ratio_micro"] < 3_000_000


def test_packing_curve_empty_corpus(spark, tmp_path):
    """Degenerate input: zero docs still yields the full 5-row curve of
    zeros (the CASE guards, not NULLs or divide-by-zero)."""
    from dsci551_edfs_spark.pipeline.curation import packing_curve

    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = packing_curve(empty, lens=(128, 256)).collect()
    assert len(rows) == 2
    for r in rows:
        assert (
            r["n_docs"],
            r["total_tokens"],
            r["n_seqs_packed"],
            r["n_seqs_padded"],
            r["pad_waste_tokens"],
            r["docs_split"],
            r["packed_util_ppm"],
        ) == (0, 0, 0, 0, 0, 0, 0)


def test_pass_at_k_short_tasks_dropped(spark, tmp_path):
    """Tasks with fewer than n=20 attempts are excluded by the fixed-n
    protocol; with NO qualifying task every row degrades to the guarded
    (0, 0) — not NULL."""
    import os

    from dsci551_edfs_spark.queries import QUERIES

    sf = str(tmp_path / "sf_short")
    os.makedirs(sf)
    ev = spark.range(30).select(
        F.col("id").alias("event_id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        (F.col("id") % 10).alias("user_id"),  # 3 events/user < 20
        F.lit("purchase").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.write.parquet(os.path.join(sf, "events.parquet"))
    rows = QUERIES["pass_at_k_eval"](spark, sf).collect()
    assert len(rows) == 4
    for r in rows:
        assert (r["n_tasks"], r["mean_pass_micro"]) == (0, 0)


def test_ivf_tombstone_delete_contract(spark, sf_dir):
    """Delete-aware probe: no tombstoned id appears as query or
    neighbor, ranks stay a contiguous 1..k prefix per query, and every
    result the plain probe returned for an alive (query, neighbor) pair
    survives with the same score."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["ann_ivf_tombstone_delete"](spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert r["query_id"] % 17 != 0
        assert r["neighbor_id"] % 17 != 0
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))

    plain = QUERIES["ann_ivf_persisted"](spark, sf_dir).collect()
    plain_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in plain
        if r["query_id"] % 17 != 0 and r["neighbor_id"] % 17 != 0
    }
    got_scores = {
        (r["query_id"], r["neighbor_id"]): r["score"] for r in rows
    }
    # every alive pair the plain top-5 surfaced is still there, same
    # score (deletes can only ADD lower-ranked alive neighbors)
    for k, v in plain_scores.items():
        assert got_scores.get(k) == v


def test_forecast_backtest_mase_matches_python(spark, sf_dir):
    """Full Python replay of the densified hourly series, the 168-hour
    seasonal-naive lag, the train/test/burn-in split and the MASE
    rational — must equal the distributed result exactly."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["forecast_backtest_mase"](spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        "SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr, count(*)"
        f" FROM read_parquet('{sf_dir}/events.parquet') GROUP BY 1"
    ).fetchall()
    y = {h: c for h, c in rows}
    h0, h1 = min(y), max(y)
    nte = ntr = tae = tsa = bias = 0
    for h in range(h0, h1 + 1):
        yh = y.get(h, 0)
        yp = y.get(h - 168, 0) if h - 168 >= h0 else 0
        if h > h1 - 168:
            nte += 1
            tae += abs(yh - yp)
            bias += yh - yp
        elif h - 168 >= h0:
            ntr += 1
            tsa += abs(yh - yp)
    assert (
        r["n_train_hours"],
        r["n_test_hours"],
        r["test_abs_err"],
        r["train_scale_abs"],
        r["test_bias"],
    ) == (ntr, nte, tae, tsa, bias)
    assert r["mase_micro"] == tae * ntr * 1_000_000 // (tsa * nte)
    # events are roughly stationary: the seasonal naive must beat a
    # wildly-off forecast but stay in a sane band
    assert 0 < r["mase_micro"] < 5_000_000


def test_vocab_growth_curve_invariants(spark, sf_dir):
    """Monotone growth: distinct types and processed occurrences never
    fall as the prefix grows; TTR never rises (Heaps); the 100% row
    sees the full vocabulary and token mass."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    rows = sorted(
        QUERIES["vocab_growth_curve"](spark, sf_dir).collect(),
        key=lambda r: r["pct"],
    )
    assert [r["pct"] for r in rows] == [10, 25, 50, 75, 100]
    for a, b in zip(rows, rows[1:]):
        assert a["distinct_tokens"] <= b["distinct_tokens"]
        assert a["tokens_processed"] <= b["tokens_processed"]
        if a["tokens_processed"] > 0:
            assert a["ttr_micro"] >= b["ttr_micro"]
    full = rows[-1]
    truth = duckdb.sql(
        "SELECT count(DISTINCT token), count(*) FROM ("
        r"SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))"
        " AS token"
        f" FROM read_parquet('{sf_dir}/documents.parquet')"
        " WHERE trim(text) <> '')"
    ).fetchone()
    assert full["distinct_tokens"] == truth[0]
    assert full["tokens_processed"] == truth[1]


def test_streaming_gram_novelty_invariants(spark, sf_dir):
    """Novel occurrences never exceed the feed's gram mass, the ppm is
    the exact ratio, and on this corpus the feed IS 3-gram novel while
    being unigram-saturated (the reason the monitor runs on n-grams)."""
    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["streaming_gram_novelty"](spark, sf_dir).collect()[0]
    assert 0 <= r["n_new_grams"] <= r["new_occurrences"]
    assert r["new_occurrences"] <= r["feed_occurrences"]
    assert (
        r["novelty_ppm"]
        == r["new_occurrences"] * 1_000_000 // r["feed_occurrences"]
    )
    assert r["n_new_grams"] > 0


def test_gram_novelty_partials_merge_across_batches(spark, sf_dir):
    """Batch-boundary independence for the DISTINCT-type count: the
    same novel gram arriving in two different batches must count ONCE
    after the finalize union — the property per-batch scalars would
    violate and the reason the sink keeps per-gram rows."""
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.queries import _t
    from dsci551_edfs_spark.streaming.novelty_monitor import (
        batch_novelty,
        frozen_gram_vocab,
    )

    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 5 != 0)
    feed = d.filter(F.col("doc_id") % 5 == 0)
    vocab = frozen_gram_vocab(ref)
    whole = batch_novelty(feed, vocab)
    lo = batch_novelty(feed.filter(F.col("doc_id") % 2 == 0), vocab)
    hi = batch_novelty(feed.filter(F.col("doc_id") % 2 == 1), vocab)
    merged = lo.unionByName(hi)

    def finalize(parts):
        r = parts.agg(
            F.countDistinct("gram").alias("t"),
            F.coalesce(
                F.sum(F.when(F.col("gram").isNotNull(), F.col("cnt"))),
                F.lit(0),
            ).alias("o"),
            F.coalesce(
                F.sum(F.when(F.col("gram").isNull(), F.col("cnt"))),
                F.lit(0),
            ).alias("f"),
        ).collect()[0]
        return (r["t"], r["o"], r["f"])

    assert finalize(whole) == finalize(merged)
    # and the split genuinely shares novel grams across halves, so a
    # scalar per-batch count WOULD have double-counted
    lo_set = {
        r["gram"] for r in lo.collect() if r["gram"] is not None
    }
    hi_set = {
        r["gram"] for r in hi.collect() if r["gram"] is not None
    }
    assert lo_set & hi_set


def test_data_contract_audit_mixed_verdicts(spark, sf_dir):
    """The suite must exercise BOTH branches on this corpus: the
    lineitem composite-key rule fails (known collision), the orders
    rules pass; violations are bounded by rows checked and passed is
    exactly the zero-violations indicator."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["data_contract_audit"](spark, sf_dir).collect()
    assert len(rows) == 9
    by_rule = {r["rule_id"]: r for r in rows}
    for r in rows:
        assert 0 <= r["n_violations"] <= r["n_checked"]
        assert r["passed"] == (1 if r["n_violations"] == 0 else 0)
    assert by_rule[7]["passed"] == 0  # the planted real failure
    assert by_rule[1]["passed"] == 1
    assert by_rule[3]["passed"] == 1


def test_diff_in_diff_identity(spark, sf_dir):
    """did_micro equals the 2x2 rate arithmetic of the same row set,
    and the four cells partition the event stream."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["diff_in_diff_conversion"](spark, sf_dir).collect()
    assert len(rows) == 4
    cells = {(r["treated"], r["post"]): r for r in rows}
    assert set(cells) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    n_events = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    assert sum(r["n"] for r in rows) == n_events
    want = (
        cells[(1, 1)]["rate_micro"] - cells[(1, 0)]["rate_micro"]
    ) - (cells[(0, 1)]["rate_micro"] - cells[(0, 0)]["rate_micro"])
    assert len({r["did_micro"] for r in rows}) == 1
    assert rows[0]["did_micro"] == want


def test_cuped_adjusted_lift_identities(spark, sf_dir):
    """The CUPED readout satisfies its own algebra: rho^2 in [0, 1e6],
    arm sizes partition the users, and the adjusted lift equals
    raw - theta*dx recomputed from the same sufficient statistics."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["cuped_adjusted_lift"](spark, sf_dir).collect()[0]
    assert 0 <= r["var_reduction_micro"] <= 1_000_000
    n_users = duckdb.sql(
        "SELECT count(DISTINCT user_id) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    assert r["n"] == r["nt"] + r["nc"] == n_users
    # full-precision recomputation of the identity from raw events
    row = duckdb.sql(
        f"""
        WITH b AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) t0,
                          CAST(floor(epoch(max(ts))) AS BIGINT) t1
                   FROM read_parquet('{sf_dir}/events.parquet')),
        u AS (SELECT user_id, max(user_id % 2) treated,
                     sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                              < b.t0 + (b.t1 - b.t0) // 2
                              AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) x,
                     sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                              >= b.t0 + (b.t1 - b.t0) // 2
                              AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) y
              FROM read_parquet('{sf_dir}/events.parquet'), b
              GROUP BY user_id)
        SELECT count(*), sum(x), sum(y), sum(x*y), sum(x*x),
               sum(CASE WHEN treated=1 THEN 1 END),
               sum(CASE WHEN treated=0 THEN 1 END),
               sum(CASE WHEN treated=1 THEN x END),
               sum(CASE WHEN treated=0 THEN x END),
               sum(CASE WHEN treated=1 THEN y END),
               sum(CASE WHEN treated=0 THEN y END)
        FROM u"""
    ).fetchone()
    n, sx, sy, sxy, sxx, nt, nc, sxt, sxc, syt, syc = (
        int(v) for v in row
    )
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    dy = syt / nt - syc / nc
    dx = sxt / nt - sxc / nc
    assert abs(r["theta_micro"] - theta * 1e6) <= 1
    assert abs(r["lift_raw_micro"] - dy * 1e6) <= 1
    assert abs(r["lift_cuped_micro"] - (dy - theta * dx) * 1e6) <= 1


def test_association_rules_invariants(spark, sf_dir):
    """Rules come in directed pairs sharing c_pair; confidence and lift
    obey their identities; support floors hold."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["association_rules_2item"](spark, sf_dir).collect()
    assert rows and len(rows) % 2 == 0
    pairs = {}
    for r in rows:
        assert r["c_pair"] >= 3
        assert r["support_ppm"] >= 150
        assert r["c_pair"] <= min(r["c_ante"], r["c_cons"])
        assert (
            r["confidence_micro"]
            == (2_000_000 * r["c_pair"] + r["c_ante"]) // (2 * r["c_ante"])
        )
        want_lift = (
            r["c_pair"] * r["n_baskets"] * 2_000_000
            + r["c_ante"] * r["c_cons"]
        ) // (2 * r["c_ante"] * r["c_cons"])
        assert r["lift_micro"] == want_lift
        key = frozenset((r["antecedent"], r["consequent"]))
        pairs.setdefault(key, []).append(r["c_pair"])
    for key, cs in pairs.items():
        assert len(cs) == 2 and cs[0] == cs[1]


def test_nelson_aalen_monotone_and_km_consistent(spark, sf_dir):
    """H(t) is non-decreasing, n_risk non-increasing in t, each step
    adds exactly its round-half-up d/n term, and the step times match
    the KM curve's (same lifetimes)."""
    from dsci551_edfs_spark.queries import QUERIES

    rows = sorted(
        QUERIES["nelson_aalen_hazard"](spark, sf_dir).collect(),
        key=lambda r: r["duration_days"],
    )
    assert rows
    prev_h, prev_n = 0, None
    for r in rows:
        term = (2_000_000 * r["n_events"] + r["n_risk"]) // (
            2 * r["n_risk"]
        )
        assert r["cum_hazard_micro"] == prev_h + term
        prev_h = r["cum_hazard_micro"]
        if prev_n is not None:
            assert r["n_risk"] <= prev_n
        prev_n = r["n_risk"]
    km = QUERIES["km_time_to_purchase"](spark, sf_dir).collect()
    assert {r["duration_days"] for r in rows} == {
        r["duration_days"] for r in km
    }


def test_grouped_percentiles_match_python(spark, sf_dir):
    """Nearest-rank order statistics per group, recomputed in plain
    Python from the parquet, must equal the distributed result."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    rows = QUERIES["grouped_latency_percentiles"](spark, sf_dir).collect()
    vals = {}
    for et, v in duckdb.sql(
        "SELECT event_type, CAST(round(value * 100) AS BIGINT) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall():
        vals.setdefault(et, []).append(v)
    for et in vals:
        vals[et].sort()
    for r in rows:
        xs = vals[r["event_type"]]
        assert r["n"] == len(xs)
        k = (r["pctl"] * len(xs) + 99) // 100
        assert r["value_cents"] == xs[k - 1]
    # p50 <= p90 <= p99 within each group
    by = {}
    for r in rows:
        by.setdefault(r["event_type"], {})[r["pctl"]] = r["value_cents"]
    for et, d in by.items():
        assert d[50] <= d[90] <= d[99]


def test_trimmed_mean_matches_python(spark, sf_dir):
    """Exact replay of the rank-range clip: the trimmed and winsorized
    means recomputed from the sorted cents vector must equal the
    distributed result, and robustness ordering holds (trimmed between
    min and max, winsorized between trimmed and raw on this data or at
    least all three finite and ordered consistently)."""
    import duckdb

    from dsci551_edfs_spark.queries import QUERIES

    r = QUERIES["trimmed_mean_price"](spark, sf_dir).collect()[0]
    xs = sorted(
        v
        for (v,) in duckdb.sql(
            "SELECT CAST(round(o_totalprice * 100) AS BIGINT) FROM "
            f"read_parquet('{sf_dir}/orders.parquet')"
        ).fetchall()
    )
    n = len(xs)
    k = n // 10
    assert (r["n"], r["k"]) == (n, k)
    core = xs[k : n - k]
    tsum = sum(core)
    wsum = tsum + k * core[0] + k * core[-1]
    assert r["mean_millicents"] == (2 * sum(xs) * 1000 + n) // (2 * n)
    assert (
        r["trimmed_mean_millicents"]
        == (2 * tsum * 1000 + len(core)) // (2 * len(core))
    )
    assert r["winsorized_mean_millicents"] == (2 * wsum * 1000 + n) // (
        2 * n
    )
