"""Round-13 additions, all full-oracle:

- the curation/governance loop AROUND the trained quality classifier:
  training-dynamics dataset cartography, a split-conformal gate
  threshold, a confident-learning label-noise audit, a per-source gate
  fairness report, and the STREAMING conformal-coverage monitor (third
  fully oracle-checked streaming op). These ride the fit-once artifacts
  (GD trajectory / scored-frame / df-table memos), so none re-trains
  in-query.
- loader/mixture planning: the context-length packing curve, the
  epoch-capped mixture planner, the quality/budget selection curve and
  the shuffle-mixing audit.
- eval/maintenance: the exact-integer pass@k estimator, IVF tombstone
  deletes over the persisted layout, and the seasonal-naive MASE
  forecast backtest.
"""

from __future__ import annotations

import os

from .queries_base import F, MEMO, _scratch_dir, _t, q
from .q_curation import _md5_bucket_sql
# bounded-collect guard cap (score domain is ≤10001 for p4; see
# plans/guards.py)
_CAL_COLLECT_CAP = 1_000_000

from .q_analytics_b import (
    _lr_final_scores_cte,
    _lr_oracle_prefix,
    _lr_scored_frame,
    _lr_trained_model,
)
from .streaming.conformal_monitor import LAST_TIMINGS as _COVERAGE_TIMINGS


def _lr_trajectory(spark, sf_dir):
    """The full 3-round GD TRAJECTORY (step, bucket, w_micro) served
    from the per-corpus memo store (tag `lr_traj_r3`) — dataset
    cartography needs the model AFTER EVERY round, not just the final
    one `lr_model_r3` keeps. Training is deterministic, so the memoized
    integers are bit-identical to an in-query train (the
    `quality_lr_train` oracle replays the same trajectory in SQL)."""
    from .pipeline import classifier as CL

    def build():
        d = _t(spark, sf_dir, "documents")
        feats, labels = CL.quality_lr_features_and_labels(d, dim=64)
        traj, _, _ = CL.lr_train_from_features(feats, labels, 64, rounds=3)
        return spark.createDataFrame(
            traj, "step long, bucket long, w_micro long"
        )

    return MEMO.dataframe_memo(
        spark, "lr_traj_r3", sf_dir, ["documents"], build
    )


def _cartography_oracle_sql(rounds: int = 3) -> str:
    per_round = []
    for r in range(1, rounds + 1):
        per_round.append(
            f""",
    zc{r} AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{r}) * 1000000 AS zp
      FROM lab l LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wt{r} w USING (bucket) GROUP BY 1) s USING (id)),
    pc{r} AS (
      SELECT id, y,
             CAST(round(10000.0 / (1.0 + exp(-round(
                    zp / 1000000000000.0, 6)))) AS BIGINT) AS p4
      FROM zc{r})"""
        )
    c = [
        f"CASE WHEN pc{r}.y = 1 THEN pc{r}.p4 ELSE 10000 - pc{r}.p4 END"
        for r in range(1, rounds + 1)
    ]
    csum = " + ".join(f"({x})" for x in c)
    csq = " + ".join(f"({x}) * ({x})" for x in c)
    ncor = " + ".join(
        f"(CASE WHEN ({x}) >= 5000 THEN 1 ELSE 0 END)" for x in c
    )
    joins = " ".join(
        f"JOIN pc{r} ON pc{r}.id = pc1.id" for r in range(2, rounds + 1)
    )
    return (
        _lr_oracle_prefix(rounds)
        + "".join(per_round)
        + f"""
    SELECT pc1.id AS id, pc1.y AS y,
           CAST({csum} AS BIGINT) AS conf_sum4,
           CAST({rounds} * ({csq}) - ({csum}) * ({csum}) AS BIGINT)
             AS disp,
           CAST({ncor} AS BIGINT) AS n_correct,
           CASE WHEN ({ncor}) = {rounds} THEN 'easy-to-learn'
                WHEN ({ncor}) = 0 THEN 'hard-to-learn'
                ELSE 'ambiguous' END AS region
    FROM pc1 {joins}"""
    )


@q("dataset_cartography", _cartography_oracle_sql(3), memo=True)
def dataset_cartography(spark, sf_dir):
    """Dataset cartography (Swayamdipta et al. 2020, "Dataset
    Cartography: Mapping and Diagnosing Datasets with Training
    Dynamics") restated in exact integers over the in-engine GD
    trajectory: for every document, the GOLD-CLASS probability under
    the model after each of the 3 training rounds (c_r = p4 if y=1
    else 1e4−p4), summarized as confidence (conf_sum4 = Σ c_r — the
    ×1e4 mean times 3, kept unscaled so it stays integral), variability
    (disp = 3·Σc_r² − (Σc_r)² — 9·variance·1e8, exact, no sqrt) and
    correctness (n_correct = #rounds with c_r ≥ 5000), plus the
    paper's map regions (easy-to-learn / ambiguous / hard-to-learn)
    as a frozen integer rule on n_correct.

    This is the data-map a curation owner reads to pick what to keep
    (ambiguous), audit (hard = likely label noise) or downsample
    (easy) — the training-dynamics complement to the static quality
    scores. Scale shape: the trajectory comes from the `lr_traj_r3`
    memo (≤195 integers, never trains in-query); all 3 models score in
    ONE map-side codegen projection over one doc-feature pass
    (classifier.multi_score_p4 — 3 literal weight maps, no join, no
    shuffle); everything after is per-row arithmetic. The oracle
    replays training AND all 3 scoring passes in SQL and hash-matches."""
    from .pipeline import classifier as CL

    rows = _lr_trajectory(spark, sf_dir).collect()  # <= 195 by design
    models = []
    for step in (1, 2, 3):
        w = {
            int(r["bucket"]): int(r["w_micro"])
            for r in rows
            if r["step"] == step and r["bucket"] >= 0
        }
        bias = next(
            (
                int(r["w_micro"])
                for r in rows
                if r["step"] == step and r["bucket"] == -1
            ),
            0,
        )
        models.append(({b: w.get(b, 0) for b in range(64)}, bias))
    d = _t(spark, sf_dir, "documents")
    feats, labels = CL.quality_lr_features_and_labels(d, dim=64)
    sc = CL.multi_score_p4(CL.doc_feature_frame(feats, labels), models)
    cs = [
        F.when(F.col("y") == 1, F.col(f"p4_{r}")).otherwise(
            F.lit(10000) - F.col(f"p4_{r}")
        )
        for r in (1, 2, 3)
    ]
    conf = cs[0] + cs[1] + cs[2]
    csq = cs[0] * cs[0] + cs[1] * cs[1] + cs[2] * cs[2]
    ncor = sum(
        (c >= 5000).cast("long") for c in cs
    )
    return sc.select(
        "id",
        "y",
        conf.cast("long").alias("conf_sum4"),
        (F.lit(3) * csq - conf * conf).cast("long").alias("disp"),
        ncor.alias("n_correct"),
        F.when(ncor == 3, F.lit("easy-to-learn"))
        .when(ncor == 0, F.lit("hard-to-learn"))
        .otherwise(F.lit("ambiguous"))
        .alias("region"),
    )


def _conformal_oracle_sql(rounds: int = 3) -> str:
    return (
        _lr_oracle_prefix(rounds)
        + _lr_final_scores_cte(rounds)
        + f""",
    calp AS (SELECT p4 FROM pf
             WHERE ({_md5_bucket_sql("id")}) < 50 AND y = 1),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal_pos FROM calp),
    kk AS (SELECT n_cal_pos,
                  CAST((n_cal_pos + 1) // 10 AS BIGINT) AS k_rank
           FROM nc),
    rk AS (SELECT p4, row_number() OVER (ORDER BY p4) AS rn FROM calp),
    tt AS (SELECT coalesce(
             (SELECT CAST(rk.p4 AS BIGINT) FROM rk, kk
              WHERE kk.k_rank >= 1 AND rk.rn = kk.k_rank), 0) AS t4),
    dep AS (SELECT y, p4 FROM pf
            WHERE ({_md5_bucket_sql("id")}) >= 50),
    agg AS (
      SELECT CAST(coalesce(sum(y), 0) AS HUGEINT) AS n_dep_pos,
             CAST(coalesce(sum(CASE WHEN y = 1 AND p4 >= t.t4
                                    THEN 1 ELSE 0 END), 0) AS HUGEINT)
               AS n_dep_pos_covered,
             CAST(count(*) AS HUGEINT) AS n_dep,
             CAST(coalesce(sum(CASE WHEN p4 >= t.t4 THEN 1 ELSE 0 END),
                           0) AS HUGEINT) AS n_dep_pass
      FROM dep, tt t)
    SELECT kk.n_cal_pos, kk.k_rank, t.t4,
           CAST(a.n_dep_pos AS BIGINT) AS n_dep_pos,
           CAST(a.n_dep_pos_covered AS BIGINT) AS n_dep_pos_covered,
           CAST(CASE WHEN a.n_dep_pos = 0 THEN 0
                ELSE (2000000 * a.n_dep_pos_covered + a.n_dep_pos)
                     // (2 * a.n_dep_pos) END AS BIGINT)
             AS coverage_micro,
           CAST(a.n_dep AS BIGINT) AS n_dep,
           CAST(a.n_dep_pass AS BIGINT) AS n_dep_pass,
           CAST(CASE WHEN a.n_dep = 0 THEN 0
                ELSE (2000000 * a.n_dep_pass + a.n_dep)
                     // (2 * a.n_dep) END AS BIGINT) AS pass_rate_micro
    FROM kk, tt t, agg a"""
    )


@q("conformal_gate_threshold", _conformal_oracle_sql(3), memo=True)
def conformal_gate_threshold(spark, sf_dir):
    """Split-conformal calibration of the quality gate (Vovk et al.;
    the distribution-free coverage recipe): on a deterministic md5
    calibration split (bucket < 50), take the k-th smallest positive
    score with k = ⌊(n_cal_pos+1)/10⌋ — the finite-sample threshold t4
    such that a fresh positive scores ≥ t4 with probability ≥ 90% —
    then report the realized coverage and gate pass-rate on the
    held-out deploy split. This turns the gate's threshold choice from
    a guess (`quality_lr_threshold_sweep` shows the trade-offs) into a
    guarantee.

    Everything is exact: the quantile is an order statistic (smallest
    score whose ascending cumulative count reaches k), coverage/pass
    rates are round-half-up micro integers. Scale shape: the scored
    frame is memo-served; the calibration side collapses through ONE
    groupBy(score) bounded at the score domain (≤10001 rows), the
    order statistic is then a bounded collect + exact driver fold
    (optimization r13 — the same score-domain-bounded class as the AUC
    tail; the former two-phase running total + crossJoin chain cost 4
    extra jobs over that ≤10001-row frame), and the deploy side is one
    map-side-combinable aggregate against the literal threshold. The
    oracle replays training, scoring, the order statistic and both
    divisions, and hash-matches."""
    from .pipeline.curation import md5_bucket

    sc = _lr_scored_frame(spark, sf_dir)
    is_cal = md5_bucket("id", 100) < 50
    n_cal_pos, k_rank, t4 = _cal_order_statistic(
        sc.filter(is_cal & (F.col("y") == 1))
    )
    dep = sc.filter(~is_cal)
    agg = dep.select(
        "y",
        "p4",
        F.lit(n_cal_pos).cast("long").alias("n_cal_pos"),
        F.lit(k_rank).cast("long").alias("k_rank"),
        F.lit(t4).cast("long").alias("t4"),
    ).agg(
        F.first("n_cal_pos").alias("n_cal_pos"),
        F.first("k_rank").alias("k_rank"),
        F.first("t4").alias("t4"),
        F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("n_dep_pos"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("y") == 1) & (F.col("p4") >= F.col("t4")), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_dep_pos_covered"),
        F.count("*").cast("long").alias("n_dep"),
        F.coalesce(
            F.sum(F.when(F.col("p4") >= F.col("t4"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_dep_pass"),
    )
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    return agg.select(
        "n_cal_pos",
        "k_rank",
        "t4",
        "n_dep_pos",
        "n_dep_pos_covered",
        F.expr(
            f"CASE WHEN n_dep_pos = 0 THEN 0 ELSE"
            f" ({d2m} * n_dep_pos_covered + n_dep_pos)"
            f" div ({d2} * n_dep_pos) END"
        ).alias("coverage_micro"),
        "n_dep",
        "n_dep_pass",
        F.expr(
            f"CASE WHEN n_dep = 0 THEN 0 ELSE"
            f" ({d2m} * n_dep_pass + n_dep) div ({d2} * n_dep) END"
        ).alias("pass_rate_micro"),
    )


def _confident_joint_oracle_sql(rounds: int = 3) -> str:
    return (
        _lr_oracle_prefix(rounds)
        + _lr_final_scores_cte(rounds)
        + """,
    th AS (
      SELECT CASE WHEN coalesce(sum(CASE WHEN y = 1 THEN 1 END), 0) = 0
                  THEN 10001
                  ELSE (2 * sum(CASE WHEN y = 1 THEN p4 ELSE 0 END)
                        + sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))
                       // (2 * sum(CASE WHEN y = 1 THEN 1 ELSE 0 END))
             END AS t1_4,
             CASE WHEN coalesce(sum(CASE WHEN y = 0 THEN 1 END), 0) = 0
                  THEN 10001
                  ELSE (2 * sum(CASE WHEN y = 0 THEN 10000 - p4
                                ELSE 0 END)
                        + sum(CASE WHEN y = 0 THEN 1 ELSE 0 END))
                       // (2 * sum(CASE WHEN y = 0 THEN 1 ELSE 0 END))
             END AS t0_4
      FROM pf),
    lab2 AS (
      SELECT y,
             CASE WHEN p4 >= t.t1_4 AND (10000 - p4) >= t.t0_4
                  THEN CASE WHEN p4 >= 5000 THEN 1 ELSE 0 END
                  WHEN p4 >= t.t1_4 THEN 1
                  WHEN (10000 - p4) >= t.t0_4 THEN 0
                  ELSE NULL END AS yhat,
             t.t1_4, t.t0_4
      FROM pf, th t)
    SELECT CAST(y AS BIGINT) AS y, CAST(yhat AS BIGINT) AS yhat,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(t1_4 AS BIGINT) AS t1_4, CAST(t0_4 AS BIGINT) AS t0_4
    FROM lab2 WHERE yhat IS NOT NULL GROUP BY 1, 2, 4, 5"""
    )


@q("label_noise_confident_joint", _confident_joint_oracle_sql(3), memo=True)
def label_noise_confident_joint(spark, sf_dir):
    """Confident-learning label-noise audit (Northcutt et al. 2021,
    "Confident Learning: Estimating Uncertainty in Dataset Labels"):
    the confident joint C[y][ŷ] of the corpus under the trained quality
    classifier — a document counts toward class ŷ when its predicted
    probability for ŷ clears that class's SELF-CONFIDENCE threshold
    (the round-half-up mean predicted probability over docs labeled ŷ);
    docs clearing both go to the argmax, docs clearing neither are
    excluded. Off-diagonal cells (y ≠ ŷ) are the suspected label
    errors — what a curation owner re-annotates before trusting 100 TB
    of weak labels.

    Exact integers end to end: thresholds are round-half-up bigint
    means in the ×1e4 score scale, cell counts are plain counts. Scale
    shape: the scored frame is memo-served; thresholds come from ONE
    map-side aggregate (1 row, broadcast back); the joint is ONE ≤4-key
    groupBy. The oracle replays training, scoring, thresholds and cell
    assignment, and hash-matches."""
    sc = _lr_scored_frame(spark, sf_dir)
    th = sc.agg(
        F.coalesce(F.sum(F.when(F.col("y") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("n1"),
        F.coalesce(F.sum(F.when(F.col("y") == 1, F.col("p4"))), F.lit(0))
        .cast("long")
        .alias("s1"),
        F.coalesce(F.sum(F.when(F.col("y") == 0, 1)), F.lit(0))
        .cast("long")
        .alias("n0"),
        F.coalesce(
            F.sum(F.when(F.col("y") == 0, F.lit(10000) - F.col("p4"))),
            F.lit(0),
        )
        .cast("long")
        .alias("s0"),
    ).select(
        F.expr(
            "CASE WHEN n1 = 0 THEN 10001"
            " ELSE (2 * s1 + n1) div (2 * n1) END"
        ).alias("t1_4"),
        F.expr(
            "CASE WHEN n0 = 0 THEN 10001"
            " ELSE (2 * s0 + n0) div (2 * n0) END"
        ).alias("t0_4"),
    )
    j = sc.crossJoin(F.broadcast(th))
    conf1 = F.col("p4") >= F.col("t1_4")
    conf0 = (F.lit(10000) - F.col("p4")) >= F.col("t0_4")
    yhat = (
        F.when(
            conf1 & conf0,
            F.when(F.col("p4") >= 5000, F.lit(1)).otherwise(F.lit(0)),
        )
        .when(conf1, F.lit(1))
        .when(conf0, F.lit(0))
    )
    return (
        j.select(
            F.col("y").cast("long").alias("y"),
            yhat.cast("long").alias("yhat"),
            "t1_4",
            "t0_4",
        )
        .filter(F.col("yhat").isNotNull())
        .groupBy("y", "yhat", "t1_4", "t0_4")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select("y", "yhat", "n_docs", "t1_4", "t0_4")
    )


def _wilson_sql(sign: str) -> str:
    """One frozen IEEE expression for the Wilson 95% interval bound
    (z = 1.96, z² = 3.8416) — IDENTICAL text on both engines (the
    PSI/MI discipline: +-*/ and sqrt are correctly rounded, so the
    doubles agree bit-for-bit)."""
    ph = "(CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE))"
    nd = "CAST(n AS DOUBLE)"
    return (
        f"CAST(round(1000000.0 * ((({ph} + 3.8416 / (2.0 * {nd}))"
        f" {sign} 1.96 * sqrt({ph} * (1.0 - {ph}) / {nd}"
        f" + 3.8416 / (4.0 * {nd} * {nd})))"
        f" / (1.0 + 3.8416 / {nd}))) AS BIGINT)"
    )


def _fairness_oracle_sql(rounds: int = 3) -> str:
    return (
        _lr_oracle_prefix(rounds)
        + _lr_final_scores_cte(rounds)
        + f""",
    src AS (SELECT doc_id AS id, source FROM documents),
    g AS (SELECT s.source,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(coalesce(sum(CASE WHEN p.p4 >= 5000
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_pass
          FROM pf p JOIN src s USING (id) GROUP BY 1)
    SELECT source, n, n_pass,
           CAST((2000000 * n_pass + n) // (2 * n) AS BIGINT)
             AS pass_rate_micro,
           {_wilson_sql("-")} AS wilson_lo_micro,
           {_wilson_sql("+")} AS wilson_hi_micro
    FROM g"""
    )


@q("gate_fairness_audit", _fairness_oracle_sql(3), memo=True)
def gate_fairness_audit(spark, sf_dir):
    """Disparate-impact audit of the quality gate: per-SOURCE pass rate
    at the t = 5000 operating point with exact round-half-up micro
    rates AND Wilson 95% score intervals (the CI that stays honest at
    small n, unlike the normal approximation) — the table a pipeline
    owner reads before letting one gate threshold silently de-weight a
    whole source/snapshot of the corpus. The Wilson bounds are ONE
    frozen IEEE double expression evaluated identically by both engines
    (+-*/ and sqrt are correctly rounded — the PSI discipline), so the
    audit carries a full oracle.

    Scale shape: the scored frame is memo-served; ONE doc-key equi-join
    attaches the source column (co-partitioned at cluster scale), then
    ONE map-side-combinable groupBy(source) bounds everything at the
    source domain. No corpus-sized state past the join."""
    sc = _lr_scored_frame(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), "source"
    )
    g = sc.join(src, "id").groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("p4") >= 5000, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_pass"),
    )
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    return g.select(
        "source",
        "n",
        "n_pass",
        F.expr(f"({d2m} * n_pass + n) div ({d2} * n)").alias(
            "pass_rate_micro"
        ),
        F.expr(_wilson_sql("-")).alias("wilson_lo_micro"),
        F.expr(_wilson_sql("+")).alias("wilson_hi_micro"),
    )


# ---------------------------------------------------------------------
# Packing / mixture planning (round-13 batch additions)
# ---------------------------------------------------------------------

_PACK_CURVE_LENS = (128, 256, 512, 1024, 2048)

_PACK_CURVE_SQL = r"""
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+'))
                  END AS BIGINT) AS nt
      FROM documents),
    c AS (
      SELECT doc_id, nt,
             sum(nt) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM t),
    l AS (SELECT unnest([128, 256, 512, 1024, 2048]) AS ctx_len)
    SELECT CAST(l.ctx_len AS BIGINT) AS ctx_len,
           CAST(coalesce(sum(CASE WHEN nt > 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_docs,
           CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens,
           CAST((coalesce(sum(nt), 0) + l.ctx_len - 1) // l.ctx_len
                AS BIGINT) AS n_seqs_packed,
           CAST(coalesce(sum((nt + l.ctx_len - 1) // l.ctx_len), 0)
                AS BIGINT) AS n_seqs_padded,
           CAST(coalesce(sum((nt + l.ctx_len - 1) // l.ctx_len), 0)
                * l.ctx_len - coalesce(sum(nt), 0) AS BIGINT)
             AS pad_waste_tokens,
           CAST(coalesce(sum(CASE WHEN nt > 0
                        AND (cum - nt) // l.ctx_len <> (cum - 1) // l.ctx_len
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS docs_split,
           CAST(CASE WHEN coalesce(sum(nt), 0) = 0 THEN 0
                ELSE coalesce(sum(nt), 0) * 1000000
                     // (((coalesce(sum(nt), 0) + l.ctx_len - 1)
                          // l.ctx_len) * l.ctx_len) END AS BIGINT)
             AS packed_util_ppm
    FROM c CROSS JOIN l
    GROUP BY l.ctx_len
    """


@q("sequence_packing_curve", _PACK_CURVE_SQL)
def sequence_packing_curve(spark, sf_dir):
    """Context-length sweep for the pretraining loader: for each
    candidate window L in {128..2048}, how many sequences does the
    corpus yield under concat-and-chunk packing vs pad-each-doc, how
    many tokens does padding waste, and how many documents straddle a
    window boundary (the fragmentation a span-corruption objective
    cares about). `sequence_packing` commits to ONE L; this is the
    table you read to CHOOSE it — the padded/packed gap is the
    compute the packed loader saves, docs_split is the price.

    Exactness: everything is integer (ceil via (x+L-1) div L,
    utilization as round-down ppm) over the deterministic (md5(id),
    id) order. Scale shape: ONE 256-way two-phase prefix pass
    (`_bucketed_global_prefix` — never a single-partition window),
    then ONE row per doc is aggregated map-side under all five L
    values simultaneously (conditional aggregates in a single
    projection — the corpus is NOT exploded 5x), and only the 1-row
    partial stacks into the 5-row curve. At 100 TB the added cost
    over `sequence_packing` itself is one scalar aggregate."""
    from .pipeline.curation import packing_curve

    return packing_curve(
        _t(spark, sf_dir, "documents"), lens=_PACK_CURVE_LENS
    )


_MIX_EPOCHS_SQL = r"""
    WITH tok AS (
      SELECT source,
             CAST(coalesce(sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                  END), 0) AS BIGINT) AS toks
      FROM documents GROUP BY source),
    w AS (SELECT source, toks,
                 CAST(1000 + 700 * CAST(substr(source, 4) AS INT)
                      AS BIGINT) AS w_milli
          FROM tok),
    bb AS (SELECT 3 * sum(toks) AS budget FROM w),
    d1 AS (SELECT sum(w_milli) AS dw FROM w),
    a1 AS (SELECT source, toks, w_milli,
                  (w_milli * bb.budget) // d1.dw AS base,
                  (w_milli * bb.budget) % d1.dw AS rem
           FROM w, d1, bb),
    t1 AS (SELECT sum(base) AS sb FROM a1),
    r1 AS (SELECT x.source, count(y.source) AS ahead
           FROM a1 x LEFT JOIN a1 y
             ON (y.rem > x.rem) OR (y.rem = x.rem AND y.source < x.source)
           GROUP BY x.source),
    raw AS (SELECT a1.source, a1.toks, a1.w_milli,
                   CAST(a1.base + CASE WHEN r1.ahead < (bb.budget - t1.sb)
                                       THEN 1 ELSE 0 END AS BIGINT)
                     AS alloc_raw
            FROM a1 JOIN r1 USING (source), t1, bb),
    cap AS (SELECT source, toks, w_milli, alloc_raw,
                   4 * toks AS cap_tokens,
                   least(alloc_raw, 4 * toks) AS alloc_capped
            FROM raw),
    lo AS (SELECT bb.budget - sum(alloc_capped) AS leftover
           FROM cap, bb GROUP BY bb.budget),
    u AS (SELECT source, w_milli FROM cap WHERE alloc_raw < cap_tokens),
    d2 AS (SELECT sum(w_milli) AS dw FROM u),
    a2 AS (SELECT u.source,
                  (u.w_milli * lo.leftover) // d2.dw AS base,
                  (u.w_milli * lo.leftover) % d2.dw AS rem
           FROM u, d2, lo),
    t2 AS (SELECT coalesce(sum(base), 0) AS sb FROM a2),
    r2 AS (SELECT x.source, count(y.source) AS ahead
           FROM a2 x LEFT JOIN a2 y
             ON (y.rem > x.rem) OR (y.rem = x.rem AND y.source < x.source)
           GROUP BY x.source),
    red AS (SELECT a2.source,
                   CAST(a2.base + CASE WHEN r2.ahead <
                          ((SELECT leftover FROM lo) - t2.sb)
                        THEN 1 ELSE 0 END AS BIGINT) AS redist
            FROM a2 JOIN r2 USING (source), t2)
    SELECT c.source,
           c.toks AS tokens_avail,
           c.w_milli,
           c.alloc_raw,
           CAST(c.cap_tokens AS BIGINT) AS cap_tokens,
           CAST(least(c.alloc_capped + coalesce(red.redist, 0),
                      c.cap_tokens) AS BIGINT) AS alloc_final,
           CAST(CASE WHEN c.toks = 0 THEN 0
                ELSE least(c.alloc_capped + coalesce(red.redist, 0),
                           c.cap_tokens) * 1000000 // c.toks END
                AS BIGINT) AS epochs_micro,
           CAST(CASE WHEN c.alloc_raw > c.cap_tokens THEN 1 ELSE 0 END
                AS BIGINT) AS capped
    FROM cap c LEFT JOIN red USING (source)
    """


@q("mixture_epochs_plan", _MIX_EPOCHS_SQL)
def mixture_epochs_plan(spark, sf_dir):
    """Epoch-aware mixture planning under a token budget — the
    data-constrained-scaling step (Muennighoff et al. 2023: repeating
    data beyond ~4 epochs stops helping) the flat allocators
    (`mixture_token_allocation`, `mixture_temperature_sampling`) skip.
    The designer's TARGET mixture weights are exogenous to the corpus
    (in practice they come from downstream-eval tuning à la DoReMi —
    here the deterministic skewed family 1000+700·idx, the
    `mixture_token_allocation` precedent), the CAPACITY is the real
    per-source token count, and the budget is 3× total corpus tokens,
    so it scales with the corpus at any SF. Largest remainder
    allocates the budget to the target weights (exact, Σ == budget);
    any source driven past 4 epochs of its actual tokens is CAPPED,
    and the freed budget pushes back onto the uncapped sources with a
    SECOND largest-remainder pass (one redistribution round,
    re-capped; still-stranded budget stays unallocated by design —
    documented single-round semantics keep the plan SQL-restatable
    instead of an iterate-to-fixpoint loop). epochs_micro =
    alloc·1e6 div tokens is the per-source repeat factor the loader
    actually runs; on this corpus the high-weight sources cap at
    exactly 4e6 and the low-weight tail absorbs the redistribution —
    both branches of the planner are exercised and oracle-checked.

    Scale shape: ONE map-side-combinable groupBy(source) token count
    is the only corpus-granularity pass; both allocation passes run on
    the source-cardinality frame (≤ thousands of rows — the join-based
    remainder rank, never a global window), and the budget/leftover
    scalars are 1-row bounded collects (the 256-offset precedent).
    Weights are milli-scaled so quota products stay < 2^63 even at
    100 TB budgets (1.5e4 · 3e14 ≈ 4.5e18 < 2^63)."""
    from .functions.text import token_count
    from .pipeline.curation import epoch_capped_allocation
    from .pipeline.dedup import _persist

    d = _t(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.coalesce(F.sum(token_count(F.col("text")).cast("long")), F.lit(0))
        .cast("long")
        .alias("toks")
    )
    w = _persist(
        tok.select(
            "source",
            "toks",
            (1000 + 700 * F.substring("source", 4, 10).cast("int"))
            .cast("long")
            .alias("w_milli"),
        )
    )
    budget = 3 * int(
        w.agg(F.coalesce(F.sum("toks"), F.lit(0)).alias("s"))
        .collect()[0]["s"]  # 1-row bounded collect: the budget scalar
    )
    return epoch_capped_allocation(w, budget, max_epochs=4).select(
        "source",
        F.col("toks").alias("tokens_avail"),
        "w_milli",
        "alloc_raw",
        "cap_tokens",
        "alloc_final",
        "epochs_micro",
        "capped",
    )


def _cal_order_statistic(calp) -> tuple[int, int, int]:
    """(n_cal_pos, k_rank, t4) off the calibration-positive frame: ONE
    map-side groupBy(score) bounds it at the score domain (≤10001
    rows), then a bounded collect + exact driver fold picks the k-th
    smallest score with k = (n+1) div 10 — t4 = 0 when k < 1, matching
    the oracle's coalesce. Replaces a two-phase running_total +
    crossJoin + filter + agg chain (4 extra jobs over the ≤10001-row
    frame; optimization r13, same class as the AUC-tail fold)."""
    from .plans.guards import collect_bounded

    rows = collect_bounded(
        calp.groupBy(F.col("p4").alias("s")).agg(
            F.count("*").cast("long").alias("cnt")
        ),
        cap=_CAL_COLLECT_CAP,  # score-domain-bounded (≤10001 for p4)
        what="_cal_order_statistic",
    )
    groups = sorted((int(r["s"]), int(r["cnt"] or 0)) for r in rows)
    n = sum(c for _, c in groups)
    k = (n + 1) // 10
    t4 = 0
    if k >= 1:
        cum = 0
        for s, c in groups:
            cum += c
            if cum >= k:
                t4 = s
                break
    return n, k, t4


def _conformal_t4(spark, sf_dir) -> int:
    """The frozen split-conformal threshold as a scalar: same
    calibration-split order statistic `conformal_gate_threshold`
    computes (k = (n_cal_pos+1) div 10 smallest positive score, md5
    bucket < 50) — this is the frozen deploy-time state the streaming
    monitor carries, exactly like the drift monitor's frozen reference
    histogram."""
    from .pipeline.curation import md5_bucket

    sc = _lr_scored_frame(spark, sf_dir)
    calp = sc.filter((md5_bucket("id", 100) < 50) & (F.col("y") == 1))
    return _cal_order_statistic(calp)[2]


def _streaming_conformal_oracle_sql(rounds: int = 3) -> str:
    return (
        _lr_oracle_prefix(rounds)
        + _lr_final_scores_cte(rounds)
        + f""",
    calp AS (SELECT p4 FROM pf
             WHERE ({_md5_bucket_sql("id")}) < 50 AND y = 1),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal_pos FROM calp),
    kk AS (SELECT n_cal_pos,
                  CAST((n_cal_pos + 1) // 10 AS BIGINT) AS k_rank
           FROM nc),
    rk AS (SELECT p4, row_number() OVER (ORDER BY p4) AS rn FROM calp),
    tt AS (SELECT coalesce(
             (SELECT CAST(rk.p4 AS BIGINT) FROM rk, kk
              WHERE kk.k_rank >= 1 AND rk.rn = kk.k_rank), 0) AS t4),
    dep AS (SELECT y, p4 FROM pf
            WHERE ({_md5_bucket_sql("id")}) >= 50),
    agg AS (
      SELECT CAST(count(*) AS HUGEINT) AS n_feed,
             CAST(coalesce(sum(CASE WHEN p4 >= t.t4 THEN 1 ELSE 0 END),
                           0) AS HUGEINT) AS n_feed_pass,
             CAST(coalesce(sum(y), 0) AS HUGEINT) AS n_feed_pos,
             CAST(coalesce(sum(CASE WHEN y = 1 AND p4 >= t.t4
                                    THEN 1 ELSE 0 END), 0) AS HUGEINT)
               AS n_feed_pos_covered
      FROM dep, tt t)
    SELECT t.t4,
           CAST(a.n_feed AS BIGINT) AS n_feed,
           CAST(a.n_feed_pass AS BIGINT) AS n_feed_pass,
           CAST(a.n_feed_pos AS BIGINT) AS n_feed_pos,
           CAST(a.n_feed_pos_covered AS BIGINT) AS n_feed_pos_covered,
           CAST(CASE WHEN a.n_feed_pos = 0 THEN 0
                ELSE (2000000 * a.n_feed_pos_covered + a.n_feed_pos)
                     // (2 * a.n_feed_pos) END AS BIGINT)
             AS coverage_micro,
           CAST(CASE WHEN a.n_feed = 0 THEN 0
                ELSE (2000000 * a.n_feed_pass + a.n_feed)
                     // (2 * a.n_feed) END AS BIGINT) AS pass_rate_micro,
           CAST(CASE WHEN a.n_feed_pos > 0
                      AND (CASE WHEN a.n_feed_pos = 0 THEN 0
                           ELSE (2000000 * a.n_feed_pos_covered
                                 + a.n_feed_pos)
                                // (2 * a.n_feed_pos) END) < 900000
                THEN 1 ELSE 0 END AS BIGINT) AS alert_low_coverage
    FROM tt t, agg a"""
    )


@q(
    "streaming_conformal_coverage",
    _streaming_conformal_oracle_sql(3),
    memo=True,
    split=(_COVERAGE_TIMINGS, "stream_startup_s", "stream_drain_s"),
)
def streaming_conformal_coverage(spark, sf_dir):
    """Deploy-time CONFORMAL COVERAGE monitor as a real Structured
    Streaming run — the third fully oracle-checked streaming op (after
    the quality gate and the PSI drift monitor): freeze the trained
    65-integer model and the split-conformal threshold t4 (calibration
    md5-bucket < 50) BEFORE the stream starts, stream the deploy split
    (bucket >= 50, raw documents — scored IN-STREAM, availableNow,
    checkpointed) through a per-batch featurize+score+count landing
    1-row coverage partials via the idempotent sink, then finalize the
    realized coverage/pass rates and the under-coverage alert
    (coverage_micro < 900000 = the 90% promise is broken on this
    feed — recalibrate). The partials are additive, so the registered
    result is independent of micro-batch boundaries and the DuckDB
    oracle restates the whole thing — training, scoring, the
    order-statistic threshold, the aggregation, the alert — in batch
    SQL; the hash match IS the batch==stream proof
    (streaming/conformal_monitor.py). Sink state is O(batches) 1-row
    partials at ANY feed size."""
    from .pipeline.curation import md5_bucket
    from .streaming.conformal_monitor import conformal_coverage_stream

    w, bias = _lr_trained_model(spark, sf_dir)
    t4 = _conformal_t4(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")

    # the frozen deploy artifact is model + threshold + FEATURIZER:
    # the train-time df table (corpus-level doc frequencies), without
    # which per-batch scoring would silently train/serve-skew. The df
    # table is itself a fit-once per-corpus artifact, so it serves
    # from the memo store (the lr_model_r3/lr_scored_r3 precedent) —
    # deterministic build, bit-identical to an in-query tokenize
    def _build_dfr():
        from .streaming.quality_gate import frozen_featurizer

        return frozen_featurizer(d)[0]

    from .pipeline.dedup import _persist

    dfr = _persist(
        MEMO.dataframe_memo(
            spark, "tfidf_dfr", sf_dir, ["documents"], _build_dfr
        )
    )
    dfr.count()  # freeze BEFORE the stream starts (train-time state)
    n_ref = d.count()
    feed = d.filter(md5_bucket("doc_id", 100) >= 50)
    base = _scratch_dir("conformal_cov")
    feed_dir = os.path.join(base, "feed")
    feed.repartition(4).write.mode("overwrite").parquet(feed_dir)
    return conformal_coverage_stream(
        spark, dfr, n_ref, w, bias, t4, feed_dir, base
    )


# ---------------------------------------------------------------------
# Eval-family: unbiased pass@k over per-task sampled attempts
# ---------------------------------------------------------------------

_PASS_AT_K_N = 20
_PASS_AT_K_KS = (1, 2, 5, 10)


def _pass_at_k_oracle_sql() -> str:
    n = _PASS_AT_K_N
    per_k = []
    for k in _PASS_AT_K_KS:
        den = 1
        for i in range(k):
            den *= n - i
        num = " * ".join(f"({n} - c - {i})" for i in range(k))
        per_k.append(
            f"""
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_tasks,
           CAST(CASE WHEN count(*) = 0 THEN 0 ELSE
             (2 * sum((({den} - (CASE WHEN {n} - c >= {k}
                                 THEN {num} ELSE 0 END))
                       * 1000000) // {den}) + count(*))
             // (2 * count(*)) END AS BIGINT) AS mean_pass_micro
    FROM t"""
        )
    return (
        f"""
    WITH r AS (
      SELECT user_id, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN 1 ELSE 0 END AS ok,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events),
    t AS (
      SELECT user_id, CAST(sum(ok) AS BIGINT) AS c
      FROM r WHERE rn <= {n}
      GROUP BY user_id HAVING count(*) = {n})
    """
        + " UNION ALL ".join(per_k)
    )


@q("pass_at_k_eval", _pass_at_k_oracle_sql())
def pass_at_k_eval(spark, sf_dir):
    """The unbiased pass@k estimator (Chen et al. 2021, "Evaluating
    Large Language Models Trained on Code", eq. 1) in exact integer
    combinatorics — the eval-pipeline aggregation run over millions of
    (task, sampled attempts, verifier outcome) rows: per task, draw a
    FIXED n = 20 attempts (the first 20 events in deterministic
    (md5(event_id), event_id) order — an unbiased, reproducible
    subsample of the attempt stream), count verifier successes c
    (stand-in rule: the attempt converts — purchase/signup; the
    MACHINERY is the operator, the rule is corpus-specific), and
    estimate pass@k = 1 − C(n−c,k)/C(n,k) WITHOUT floating
    combinatorics: the ratio telescopes to Π(n−c−i)/Π(n−i) whose
    numerator/denominator are exact int64 products for k ≤ 10, so
    per-task pass@k_micro = (den−num)·1e6 div den is bit-identical on
    every engine, and the per-k mean over tasks is the round-half-up
    micro division. Tasks with fewer than n attempts are dropped
    (fixed-n eval protocol).

    Scale shape: ONE per-task window (PARTITIONED by task — never
    global), one groupBy(task) to (n, c), then ONE scalar aggregate
    computes all four k values as conditional sums (the packing-curve
    stacking idiom — the task frame is not exploded 4×). At 100 TB of
    eval logs everything is map-side combinable past the window."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    n = _PASS_AT_K_N
    w = Window.partitionBy("user_id").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    r = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").isin("purchase", "signup")
        .cast("long")
        .alias("ok"),
    ).withColumn("rn", F.row_number().over(w))
    t = (
        r.filter(F.col("rn") <= n)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("nn"),
            F.sum("ok").cast("long").alias("c"),
        )
        .filter(F.col("nn") == n)
    )
    aggs = [F.count("*").cast("long").alias("n_tasks")]
    dens = {}
    for k in _PASS_AT_K_KS:
        den = 1
        for i in range(k):
            den *= n - i
        dens[k] = den
        num = " * ".join(f"({n} - c - {i})" for i in range(k))
        aggs.append(
            F.coalesce(
                F.sum(
                    F.expr(
                        f"(({den} - (CASE WHEN {n} - c >= {k}"
                        f" THEN {num} ELSE 0 END)) * 1000000) div {den}"
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"s_{k}")
        )
    one = t.agg(*aggs)
    return one.select(
        "n_tasks",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.col(f"s_{k}").alias("s"),
                    )
                    for k in _PASS_AT_K_KS
                ]
            )
        ).alias("r"),
    ).select(
        F.col("r.k").alias("k"),
        "n_tasks",
        F.expr(
            "CASE WHEN n_tasks = 0 THEN 0"
            " ELSE (2 * r.s + n_tasks) div (2 * n_tasks) END"
        )
        .cast("long")
        .alias("mean_pass_micro"),
    )


# ---------------------------------------------------------------------
# Data-selection quality/budget trade-off curve
# ---------------------------------------------------------------------

_BUDGET_CURVE_PCTS = (10, 25, 50, 75, 100)


def _budget_curve_oracle_sql() -> str:
    from .q_media_temporal import _NTOK_SQL

    per_pct = []
    for p in _BUDGET_CURVE_PCTS:
        per_pct.append(
            f"""
    SELECT CAST({p} AS BIGINT) AS budget_pct,
           CAST(tt * {p} // 100 AS BIGINT) AS budget_tokens,
           CAST(coalesce(sum(CASE WHEN cum_tokens <= tt * {p} // 100
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_docs,
           CAST(coalesce(sum(CASE WHEN cum_tokens <= tt * {p} // 100
                                  THEN n_tokens ELSE 0 END), 0)
                AS BIGINT) AS tokens_selected,
           CAST(CASE WHEN coalesce(sum(CASE WHEN cum_tokens <=
                              tt * {p} // 100 THEN 1 ELSE 0 END), 0) = 0
                THEN 0 ELSE
                  (200 * sum(CASE WHEN cum_tokens <= tt * {p} // 100
                             THEN q4 ELSE 0 END)
                   + sum(CASE WHEN cum_tokens <= tt * {p} // 100
                         THEN 1 ELSE 0 END))
                  // (2 * sum(CASE WHEN cum_tokens <= tt * {p} // 100
                              THEN 1 ELSE 0 END)) END AS BIGINT)
             AS mean_q_micro,
           CAST(coalesce(min(CASE WHEN cum_tokens <= tt * {p} // 100
                                  THEN q4 END), 0) AS BIGINT)
             AS frontier_q4
    FROM c, tot GROUP BY tt"""
        )
    return (
        rf"""
    WITH s AS (
      SELECT doc_id,
             {_NTOK_SQL} AS n_tokens,
             CAST(round(round(least({_NTOK_SQL} / 100.0, 1.0)
                   * (1 - round(len(regexp_extract_all(text, '[^\w\s]'))
                                / greatest(length(text), 1), 3))
                   * (1 - round(len(regexp_extract_all(text, '[0-9]'))
                                / greatest(length(text), 1), 3)), 4)
                   * 10000) AS BIGINT) AS q4,
             round(least({_NTOK_SQL} / 100.0, 1.0)
                   * (1 - round(len(regexp_extract_all(text, '[^\w\s]'))
                                / greatest(length(text), 1), 3))
                   * (1 - round(len(regexp_extract_all(text, '[0-9]'))
                                / greatest(length(text), 1), 3)), 4)
               AS quality_score
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens, q4,
             CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM s),
    tot AS (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS tt
            FROM s)
    """
        + " UNION ALL ".join(per_pct)
    )


@q("quality_budget_curve", _budget_curve_oracle_sql())
def quality_budget_curve(spark, sf_dir):
    """The data-selection TRADE-OFF curve `budget_select_corpus` picks
    one point of: rank the corpus by the frozen quality score, then for
    token budgets at 10/25/50/75/100% of TOTAL corpus tokens (budgets
    scale with the corpus — no fixed literal that degenerates at other
    SFs) report how many docs/tokens make the cut, the mean selected
    quality (round-half-up micro over the ×1e4-frozen scores) and the
    FRONTIER quality — the marginal doc's score, i.e. what quality a
    bigger compute budget buys you. This is the table a
    compute-constrained pretraining owner reads to pick the
    budget/quality operating point (the selection-scaling companion to
    `quality_lr_threshold_sweep`'s precision/recall sweep).

    Scale shape: one scan projects (n_tokens, q4), the global
    cumulative is the autoscaled two-phase `running_total` over
    (score desc, id) — never a single-partition window — and ONE
    scalar aggregate computes all five budgets as conditional sums
    (the packing-curve stacking idiom; the corpus is not exploded
    5×). The oracle's flat OVER is DuckDB-side only."""
    from .operators.cumulative import running_total

    d = _t(spark, sf_dir, "documents")
    from .functions.text import token_count

    n_tokens = token_count(F.col("text")).cast("long")
    n_chars = F.length("text")
    punct = F.round(
        F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), F.lit(0)))
        / F.greatest(n_chars, F.lit(1)),
        3,
    )
    digit = F.round(
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]"), F.lit(0)))
        / F.greatest(n_chars, F.lit(1)),
        3,
    )
    score = F.round(
        F.least(n_tokens / 100.0, F.lit(1.0)) * (1 - punct) * (1 - digit), 4
    )
    s = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(score * 10000).cast("long").alias("q4"),
        (-score).alias("_neg"),
    )
    c = running_total(s, ["_neg", "doc_id"], "n_tokens", out_col="cum_tokens")
    tot = s.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("tt")
    )
    cc = c.crossJoin(F.broadcast(tot))
    aggs = [F.first("tt").alias("tt")]
    for p in _BUDGET_CURVE_PCTS:
        sel = F.col("cum_tokens") <= F.expr(f"tt * {p} div 100")
        aggs += [
            F.coalesce(F.sum(F.when(sel, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"nd_{p}"),
            F.coalesce(F.sum(F.when(sel, F.col("n_tokens")).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"tk_{p}"),
            F.coalesce(F.sum(F.when(sel, F.col("q4")).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"qs_{p}"),
            F.coalesce(F.min(F.when(sel, F.col("q4"))), F.lit(0))
            .cast("long")
            .alias(f"mq_{p}"),
        ]
    one = cc.agg(*aggs)
    return one.select(
        "tt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("budget_pct"),
                        F.col(f"nd_{p}").alias("nd"),
                        F.col(f"tk_{p}").alias("tk"),
                        F.col(f"qs_{p}").alias("qs"),
                        F.col(f"mq_{p}").alias("mq"),
                    )
                    for p in _BUDGET_CURVE_PCTS
                ]
            )
        ).alias("r"),
    ).select(
        F.col("r.budget_pct").alias("budget_pct"),
        F.expr("tt * r.budget_pct div 100").cast("long").alias("budget_tokens"),
        F.col("r.nd").alias("n_docs"),
        F.col("r.tk").alias("tokens_selected"),
        F.expr(
            "CASE WHEN r.nd = 0 THEN 0"
            " ELSE (200 * r.qs + r.nd) div (2 * r.nd) END"
        )
        .cast("long")
        .alias("mean_q_micro"),
        F.col("r.mq").alias("frontier_q4"),
    )


# ---------------------------------------------------------------------
# Shuffle-mixing audit over the deterministic pretraining order
# ---------------------------------------------------------------------

_SHUFFLE_MIX_SQL = r"""
    WITH o AS (
      SELECT doc_id, source,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
      FROM documents),
    l AS (SELECT source,
                 lag(source) OVER (ORDER BY pos) AS prev
          FROM o),
    a AS (SELECT CAST(coalesce(sum(CASE WHEN source = prev
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS same_adj
          FROM l),
    g AS (SELECT CAST(coalesce(sum(CAST(c AS HUGEINT)
                                   * (CAST(c AS HUGEINT) - 1)), 0)
                      AS HUGEINT) AS pairs,
                 CAST(coalesce(sum(c), 0) AS BIGINT) AS n
          FROM (SELECT count(*) AS c FROM documents GROUP BY source))
    SELECT g.n AS n_docs,
           a.same_adj,
           CAST(CASE WHEN g.n = 0 THEN 0
                ELSE (g.pairs * 1000000) // g.n END AS BIGINT)
             AS expected_same_micro,
           CAST(CASE WHEN g.pairs = 0 THEN 0
                ELSE (CAST(a.same_adj AS HUGEINT) * 1000000 * g.n)
                     // g.pairs END AS BIGINT) AS mixing_ratio_micro
    FROM a, g
    """


@q("shuffle_mixing_audit", _SHUFFLE_MIX_SQL)
def shuffle_mixing_audit(spark, sf_dir):
    """Does the deterministic pretraining shuffle actually MIX the
    sources? Batches drawn from a badly mixed order are
    source-correlated — gradient noise stops being i.i.d. and the loss
    curve inherits source-sized oscillations — so pipeline owners
    audit the order before training, not after. Over the
    `global_shuffle_order` (md5(id), id) ranking: count ADJACENT pairs
    sharing a source and compare with the uniform-permutation
    expectation E[same] = Σ_s n_s(n_s−1)/N (the Wald–Wolfowitz runs
    logic restated in exact integers); mixing_ratio_micro ≈ 1e6 means
    the order is indistinguishable from a fresh random permutation,
    ≫1e6 flags residual source clumping. Σ n_s(n_s−1) is accumulated
    in DECIMAL(38,0)/HUGEINT — at 100 TB n_s² overflows int64 (the
    `aqp_sampled_revenue` overflow lesson).

    Scale shape: the rank is the 256-way two-phase bucketed prefix;
    adjacency is ONE equi-join on pos+1 == pos (shuffle-partitioned on
    pos — no window over the whole corpus, no driver data); the
    per-source census is one map-side groupBy."""
    from .pipeline.curation import global_shuffle_order

    d = _t(spark, sf_dir, "documents")
    o = global_shuffle_order(d).join(
        d.select("doc_id", "source"), "doc_id"
    )
    a = o.select(F.col("shuffle_pos").alias("p"), F.col("source").alias("s1"))
    b = o.select(
        (F.col("shuffle_pos") - 1).alias("p"), F.col("source").alias("s2")
    )
    adj = a.join(b, "p").agg(
        F.coalesce(
            F.sum(F.when(F.col("s1") == F.col("s2"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("same_adj")
    )
    g = (
        d.groupBy("source")
        .agg(F.count("*").alias("c"))
        .agg(
            F.coalesce(
                F.sum(
                    F.expr(
                        "CAST(c AS DECIMAL(38,0))"
                        " * (CAST(c AS DECIMAL(38,0)) - 1)"
                    )
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("pairs"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n"),
        )
    )
    return adj.crossJoin(F.broadcast(g)).select(
        F.col("n").alias("n_docs"),
        "same_adj",
        F.expr(
            "CASE WHEN n = 0 THEN 0"
            " ELSE (pairs * 1000000) div CAST(n AS DECIMAL(38,0)) END"
        )
        .cast("long")
        .alias("expected_same_micro"),
        F.expr(
            "CASE WHEN pairs = 0 THEN 0"
            " ELSE (CAST(same_adj AS DECIMAL(38,0)) * 1000000"
            " * CAST(n AS DECIMAL(38,0))) div pairs END"
        )
        .cast("long")
        .alias("mixing_ratio_micro"),
    )


# ---------------------------------------------------------------------
# ANN index maintenance: tombstone deletes without rebuild
# ---------------------------------------------------------------------


def _ivf_tombstone_oracle() -> str:
    from .q_pipeline import _ivf_oracle_sql

    return _ivf_oracle_sql(
        "vec_id < 5 AND vec_id % 17 <> 0", exclude="b.vec_id % 17 = 0"
    )


@q("ann_ivf_tombstone_delete", _ivf_tombstone_oracle(), memo=True)
def ann_ivf_tombstone_delete(spark, sf_dir):
    """GDPR delete meets the vector index: when rows must disappear
    from a 100 TB IVF layout NOW, you don't re-cluster — you tombstone.
    The persisted hive layout (`ivf_idx` memo, shared with
    `ann_ivf_persisted`) stays untouched on disk; deleted ids
    (vec_id % 17 = 0, the deterministic stand-in for a deletion ledger)
    are anti-joined out of the probed buckets at QUERY time via a
    broadcast tombstone set, and deleted queries don't query. Centroids
    and assignments are unchanged (tombstoning ≠ re-clustering — the
    documented maintenance trade-off: recall degrades only if a bucket
    empties), so the full IVF oracle restates the search with the
    candidate-side exclusion predicate and hash-matches — the proof
    that delete-time results equal filter-the-full-search, with no
    rebuild and no layout rewrite.

    Scale shape: the tombstone ledger broadcasts (deletes ≪ corpus);
    the centroid partition filter still pushes below the anti-join to
    the pruned bucket directories (the layout's PartitionFilters
    contract), so a delete-aware probe reads exactly what a plain
    probe reads minus nothing — one extra broadcast hash anti-join in
    the probed slice."""
    from .pipeline import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    tomb = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("id")
    )
    queries = emb.filter(
        (F.col("vec_id") < 5) & (F.col("vec_id") % 17 != 0)
    )

    def _build(tmp: str) -> None:
        bucketed, cents = SIM.build_ivf_index(emb, n_centroids=8)
        SIM.save_ivf_index(bucketed, cents, tmp)

    path = MEMO.layout_memo(
        "ivf_idx",
        sf_dir,
        ["embeddings"],
        _build,
        markers=("buckets/_SUCCESS", "centroids/_SUCCESS"),
    )
    loaded, cents2 = SIM.load_ivf_index(spark, path)
    alive = loaded.join(F.broadcast(tomb), "id", "left_anti")
    out = SIM.ivf_topk_pruned(alive, cents2, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rnk"),
        F.round(F.col("score"), 4).alias("score"),
    )


# ---------------------------------------------------------------------
# Forecast backtest: seasonal-naive MASE over the event stream
# ---------------------------------------------------------------------

_MASE_SQL = r"""
    WITH h AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
             count(*) AS y
      FROM events GROUP BY 1),
    b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM h),
    spine AS (
      SELECT b.h0 + CAST(unnest(generate_series(0, b.h1 - b.h0))
                         AS BIGINT) AS hr
      FROM b),
    yy AS (
      SELECT s.hr, CAST(coalesce(h.y, 0) AS BIGINT) AS y
      FROM spine s LEFT JOIN h USING (hr)),
    lagged AS (
      SELECT a.hr, a.y, CAST(coalesce(p.y, 0) AS BIGINT) AS yhat
      FROM yy a LEFT JOIN yy p ON p.hr = a.hr - 168),
    split AS (
      SELECT l.*, b.h0, b.h1,
             CASE WHEN l.hr > b.h1 - 168 THEN 'test'
                  WHEN l.hr - 168 >= b.h0 THEN 'train'
                  ELSE 'burnin' END AS part
      FROM lagged l, b),
    agg AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN part = 'train' THEN 1 END), 0)
             AS BIGINT) AS n_train_hours,
        CAST(coalesce(sum(CASE WHEN part = 'test' THEN 1 END), 0)
             AS BIGINT) AS n_test_hours,
        CAST(coalesce(sum(CASE WHEN part = 'test'
                          THEN abs(y - yhat) END), 0) AS BIGINT)
          AS test_abs_err,
        CAST(coalesce(sum(CASE WHEN part = 'train'
                          THEN abs(y - yhat) END), 0) AS BIGINT)
          AS train_scale_abs,
        CAST(coalesce(sum(CASE WHEN part = 'test'
                          THEN y - yhat END), 0) AS BIGINT) AS test_bias
      FROM split)
    SELECT n_train_hours, n_test_hours, test_abs_err, train_scale_abs,
           test_bias,
           CAST(CASE WHEN train_scale_abs = 0 OR n_test_hours = 0 THEN 0
                ELSE (CAST(test_abs_err AS HUGEINT) * n_train_hours
                      * 1000000)
                     // (CAST(train_scale_abs AS HUGEINT) * n_test_hours)
                END AS BIGINT) AS mase_micro
    FROM agg
    """


@q("forecast_backtest_mase", _MASE_SQL)
def forecast_backtest_mase(spark, sf_dir):
    """Forecast BACKTEST with the scale-free error metric production
    monitoring actually uses: seasonal-naive ŷ(h) = y(h−168) (same
    hour last week) over the densified hourly event-count series, MASE
    (Hyndman–Koehler) = test MAE / in-sample seasonal-naive MAE — the
    "would a real forecaster beat last week's value?" baseline every
    capacity-planning pipeline runs before trusting a model. The last
    168 hours are the holdout; earlier hours with a full-lag history
    are the scale sample; MASE < 1e6 micro means the naive carries
    signal. Everything is exact integers (counts, absolute sums;
    the final ratio multiplies in HUGEINT/DECIMAL(38,0) — n_hours ×
    abs-err products overflow int64 at 100 TB event volumes).

    Scale shape: one map-side groupBy(hour) count, a generated hour
    SPINE (range over the 1-row bounds — zero-count hours must exist
    or the lag silently skips gaps), the lag as ONE equi-join on
    hr−168 (no corpus-wide window), and one conditional-sum scalar
    aggregate."""
    d = _t(spark, sf_dir, "events")
    h = d.groupBy(
        F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) div 3600").alias(
            "hr"
        )
    ).agg(F.count("*").cast("long").alias("y"))
    from .pipeline.dedup import _persist

    h = _persist(h)
    b = h.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1")).collect()[0]
    h0, h1 = int(b["h0"]), int(b["h1"])  # 1-row bounded collect: bounds
    spine = spark.range(h0, h1 + 1).select(F.col("id").alias("hr"))
    yy = spine.join(h, "hr", "left").select(
        "hr", F.coalesce(F.col("y"), F.lit(0)).cast("long").alias("y")
    )
    prev = yy.select((F.col("hr") + 168).alias("hr"), F.col("y").alias("yp"))
    lagged = yy.join(prev, "hr", "left").select(
        "hr",
        "y",
        F.coalesce(F.col("yp"), F.lit(0)).cast("long").alias("yhat"),
    )
    part = (
        F.when(F.col("hr") > h1 - 168, F.lit("test"))
        .when(F.col("hr") - 168 >= h0, F.lit("train"))
        .otherwise(F.lit("burnin"))
    )
    agg = lagged.withColumn("part", part).agg(
        F.coalesce(F.sum(F.when(F.col("part") == "train", 1)), F.lit(0))
        .cast("long")
        .alias("n_train_hours"),
        F.coalesce(F.sum(F.when(F.col("part") == "test", 1)), F.lit(0))
        .cast("long")
        .alias("n_test_hours"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("part") == "test",
                    F.abs(F.col("y") - F.col("yhat")),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("test_abs_err"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("part") == "train",
                    F.abs(F.col("y") - F.col("yhat")),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("train_scale_abs"),
        F.coalesce(
            F.sum(F.when(F.col("part") == "test", F.col("y") - F.col("yhat"))),
            F.lit(0),
        )
        .cast("long")
        .alias("test_bias"),
    )
    return agg.select(
        "n_train_hours",
        "n_test_hours",
        "test_abs_err",
        "train_scale_abs",
        "test_bias",
        F.expr(
            "CASE WHEN train_scale_abs = 0 OR n_test_hours = 0 THEN 0"
            " ELSE (CAST(test_abs_err AS DECIMAL(38,0)) * n_train_hours"
            " * 1000000)"
            " div (CAST(train_scale_abs AS DECIMAL(38,0)) * n_test_hours)"
            " END"
        )
        .cast("long")
        .alias("mase_micro"),
    )


# ---------------------------------------------------------------------
# Vocabulary growth (Heaps-law) curve over the pretraining order
# ---------------------------------------------------------------------

_VOCAB_CURVE_PCTS = (10, 25, 50, 75, 100)


def _vocab_growth_oracle_sql() -> str:
    per_pct = []
    for p in _VOCAB_CURVE_PCTS:
        per_pct.append(
            f"""
    SELECT CAST({p} AS BIGINT) AS pct,
           CAST(nn.n * {p} // 100 AS BIGINT) AS n_docs_prefix,
           CAST((SELECT coalesce(sum(nt), 0) FROM tp
                 WHERE pos <= nn.n * {p} // 100) AS BIGINT)
             AS tokens_processed,
           CAST((SELECT count(*) FROM tk
                 WHERE first_pos <= nn.n * {p} // 100) AS BIGINT)
             AS distinct_tokens,
           CAST(CASE WHEN (SELECT coalesce(sum(nt), 0) FROM tp
                           WHERE pos <= nn.n * {p} // 100) = 0 THEN 0
                ELSE (SELECT count(*) FROM tk
                      WHERE first_pos <= nn.n * {p} // 100) * 1000000
                     // (SELECT coalesce(sum(nt), 0) FROM tp
                         WHERE pos <= nn.n * {p} // 100) END AS BIGINT)
             AS ttr_micro
    FROM nn"""
        )
    return (
        r"""
    WITH o AS (
      SELECT doc_id, text,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
      FROM documents),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    tk AS (
      SELECT token, min(pos) AS first_pos
      FROM (SELECT pos,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                     AS token
            FROM o WHERE trim(text) <> '')
      GROUP BY token),
    tp AS (
      SELECT pos,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                  END AS BIGINT) AS nt
      FROM o)
    """
        + " UNION ALL ".join(per_pct)
    )


@q("vocab_growth_curve", _vocab_growth_oracle_sql())
def vocab_growth_curve(spark, sf_dir):
    """Heaps-law audit over the pretraining order: at 10/25/50/75/100%
    of the (md5(id), id) document stream, how many distinct token
    TYPES has the loader seen vs token OCCURRENCES processed, plus the
    type-token ratio in exact micro. A corpus whose curve flattens
    early has stopped yielding new vocabulary (heavy near-duplication
    or a saturated domain — the "is more of this source still worth
    ingesting?" diagnostic); a curve that keeps climbing justifies the
    next crawl. First-occurrence position is an exact min, so the
    whole curve is integers — no sampling, no sketch.

    Scale shape: one two-phase rank + one token explode into a
    groupBy(token) min (the `token_frequencies` shuffle shape —
    token-cardinality, map-side combinable), one per-doc token-count
    projection; all five checkpoints read off those two frames as
    conditional aggregates against the broadcast 1-row census (the
    packing-curve stacking idiom)."""
    from .functions.text import token_count, tokens
    from .pipeline.curation import global_shuffle_order

    d = _t(spark, sf_dir, "documents")
    o = global_shuffle_order(d).join(
        d.select("doc_id", "text"), "doc_id"
    )
    tk = (
        o.filter(F.trim(F.col("text")) != "")
        .select(
            F.col("shuffle_pos").alias("pos"),
            F.explode(tokens(F.col("text"))).alias("token"),
        )
        .groupBy("token")
        .agg(F.min("pos").alias("first_pos"))
    )
    tp = o.select(
        F.col("shuffle_pos").alias("pos"),
        token_count(F.col("text")).cast("long").alias("nt"),
    )
    nn = d.agg(F.count("*").cast("long").alias("n"))
    a1 = tk.crossJoin(F.broadcast(nn)).agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("first_pos") <= F.expr(f"n * {p} div 100"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"dt_{p}")
            for p in _VOCAB_CURVE_PCTS
        ]
    )
    a2 = tp.crossJoin(F.broadcast(nn)).agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("pos") <= F.expr(f"n * {p} div 100"),
                        F.col("nt"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"tkp_{p}")
            for p in _VOCAB_CURVE_PCTS
        ]
    )
    one = a1.crossJoin(a2).crossJoin(F.broadcast(nn))
    return one.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).cast("long").alias("pct"),
                        F.col(f"dt_{p}").alias("dt"),
                        F.col(f"tkp_{p}").alias("tkp"),
                    )
                    for p in _VOCAB_CURVE_PCTS
                ]
            )
        ).alias("r"),
    ).select(
        F.col("r.pct").alias("pct"),
        F.expr("n * r.pct div 100").cast("long").alias("n_docs_prefix"),
        F.col("r.tkp").alias("tokens_processed"),
        F.col("r.dt").alias("distinct_tokens"),
        F.expr(
            "CASE WHEN r.tkp = 0 THEN 0"
            " ELSE r.dt * 1000000 div r.tkp END"
        )
        .cast("long")
        .alias("ttr_micro"),
    )


# ---------------------------------------------------------------------
# Streaming 3-gram novelty monitor (fourth fully oracle-checked
# streaming op)
# ---------------------------------------------------------------------

_GRAM_NOVELTY_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS ts
      FROM documents WHERE trim(text) <> ''),
    bg AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM t, unnest(generate_series(1, len(ts) - 2)) AS u(i)
      WHERE len(ts) >= 3),
    v AS (SELECT DISTINCT g FROM bg WHERE doc_id % 5 <> 0),
    f AS (SELECT g FROM bg WHERE doc_id % 5 = 0),
    novel AS (
      SELECT g, count(*) AS cnt FROM f
      WHERE g NOT IN (SELECT g FROM v) GROUP BY g),
    agg AS (
      SELECT CAST((SELECT count(*) FROM novel) AS BIGINT) AS n_new_grams,
             CAST((SELECT coalesce(sum(cnt), 0) FROM novel) AS BIGINT)
               AS new_occurrences,
             CAST((SELECT count(*) FROM f) AS BIGINT) AS feed_occurrences)
    SELECT n_new_grams, new_occurrences, feed_occurrences,
           CAST(CASE WHEN feed_occurrences = 0 THEN 0
                ELSE new_occurrences * 1000000 // feed_occurrences END
                AS BIGINT) AS novelty_ppm
    FROM agg
    """


@q("streaming_gram_novelty", _GRAM_NOVELTY_SQL)
def streaming_gram_novelty(spark, sf_dir):
    """Deploy-time 3-GRAM NOVELTY monitor as a real Structured
    Streaming run — the fourth fully oracle-checked streaming op: is
    the live feed (doc_id%5=0) still bringing text the corpus
    (doc_id%5≠0, the drift monitor's split) hasn't seen, or just
    recombining it? The reference 3-gram set freezes before the stream
    starts; each micro-batch anti-joins it and lands per-gram novel
    partials + a census row via the idempotent sink; the finalize
    dedups novel types ACROSS batches (per-batch scalars would
    double-count a gram arriving twice), making the registered result
    independent of micro-batch boundaries — so the DuckDB oracle
    restates the whole thing in batch SQL and the hash match IS the
    batch==stream proof (streaming/novelty_monitor.py). On this corpus
    the feed is ~37% novel at the 3-gram level while 0% novel at the
    unigram level — exactly why the monitor runs on n-grams. Sink
    state is O(novel grams) + O(batches), never corpus-sized."""
    from .streaming.novelty_monitor import (
        frozen_gram_vocab,
        gram_novelty_stream,
    )

    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 5 != 0)
    feed = d.filter(F.col("doc_id") % 5 == 0)
    vocab = frozen_gram_vocab(ref)
    base = _scratch_dir("gram_novelty")
    feed_dir = os.path.join(base, "feed")
    feed.repartition(4).write.mode("overwrite").parquet(feed_dir)
    return gram_novelty_stream(spark, vocab, feed_dir, base)


# ---------------------------------------------------------------------
# Data-contract validation audit (dbt-tests / expectation-suite shape)
# ---------------------------------------------------------------------

_CONTRACT_SQL = r"""
    SELECT 1 AS rule_id, 'orders.o_orderkey unique' AS rule,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 2, 'orders.o_custkey not_null',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN o_custkey IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 3, 'orders.o_custkey refs customer.c_custkey',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 4, 'orders.o_orderstatus accepted_values(P,O,F)',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN
                                  ('P', 'O', 'F')
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 5, 'orders.o_totalprice positive',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN o_totalprice <= 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 6, 'orders.o_orderdate freshness(1990..2005)',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN o_orderdate <
                                       TIMESTAMP '1990-01-01'
                                    OR o_orderdate >=
                                       TIMESTAMP '2005-01-01'
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 7, 'lineitem.(l_orderkey,l_linenumber) unique',
           CAST(count(*) AS BIGINT),
           CAST(count(*) - (SELECT count(*) FROM
                 (SELECT DISTINCT l_orderkey, l_linenumber
                  FROM lineitem)) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 8, 'lineitem.l_orderkey refs orders.o_orderkey',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_orderkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 9, 'lineitem.l_discount in [0, 0.5]',
           CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(CASE WHEN l_discount < 0
                                    OR l_discount > 0.5
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
    FROM lineitem
    """

_CONTRACT_WRAP = f"""
    WITH r AS ({_CONTRACT_SQL})
    SELECT CAST(rule_id AS BIGINT) AS rule_id, rule, n_checked,
           n_violations,
           CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS passed
    FROM r
    """


@q("data_contract_audit", _CONTRACT_WRAP)
def data_contract_audit(spark, sf_dir):
    """Declared-contract VALIDATION — the production sibling of the
    profiling ops (`fd_discovery_part` / `inclusion_dependency_audit`
    DISCOVER constraints; this ASSERTS a declared suite, the
    dbt-tests / expectation-suite shape every lakehouse gate runs
    before publishing a snapshot): nine rules across uniqueness,
    not-null, referential integrity, accepted values, range and
    freshness, each reported as exact (n_checked, n_violations,
    passed). The suite deliberately contains a rule that FAILS on this
    corpus — lineitem's (l_orderkey, l_linenumber) is NOT unique here
    — so both verdict branches are exercised and oracle-checked, and
    the audit's value is visible: it catches exactly the key-collision
    a blind writer would ship.

    Scale shape: every rule is one map-side-combinable aggregate or
    one broadcast/shuffle anti-join count over the child table; rules
    stack as a UNION of 1-row frames — no rule touches more than one
    pass over its table, and an engine running the suite nightly at
    100 TB pays #rules scans, trivially parallel."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    def row(rid, rule, n_checked_col, n_viol_col, frame):
        return frame.agg(
            F.lit(rid).cast("long").alias("rule_id"),
            F.lit(rule).alias("rule"),
            n_checked_col.cast("long").alias("n_checked"),
            F.coalesce(n_viol_col, F.lit(0)).cast("long").alias(
                "n_violations"
            ),
        )

    cnt = F.count("*")
    rows = [
        row(
            1,
            "orders.o_orderkey unique",
            cnt,
            cnt - F.countDistinct("o_orderkey"),
            o,
        ),
        row(
            2,
            "orders.o_custkey not_null",
            cnt,
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)),
            o,
        ),
        row(
            3,
            "orders.o_custkey refs customer.c_custkey",
            F.first("n_orders"),
            F.first("n_orphans"),
            o.agg(F.count("*").alias("n_orders")).crossJoin(
                o.join(
                    c.select(F.col("c_custkey").alias("o_custkey")),
                    "o_custkey",
                    "left_anti",
                ).agg(F.count("*").alias("n_orphans"))
            ),
        ),
        row(
            4,
            "orders.o_orderstatus accepted_values(P,O,F)",
            cnt,
            F.sum(
                F.when(
                    ~F.col("o_orderstatus").isin("P", "O", "F"), 1
                ).otherwise(0)
            ),
            o,
        ),
        row(
            5,
            "orders.o_totalprice positive",
            cnt,
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
            o,
        ),
        row(
            6,
            "orders.o_orderdate freshness(1990..2005)",
            cnt,
            F.sum(
                F.when(
                    (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                    | (
                        F.col("o_orderdate")
                        >= F.lit("2005-01-01").cast("timestamp")
                    ),
                    1,
                ).otherwise(0)
            ),
            o,
        ),
        row(
            7,
            "lineitem.(l_orderkey,l_linenumber) unique",
            cnt,
            cnt - F.countDistinct("l_orderkey", "l_linenumber"),
            li,
        ),
        row(
            8,
            "lineitem.l_orderkey refs orders.o_orderkey",
            F.first("n_li"),
            F.first("n_orphans"),
            li.agg(F.count("*").alias("n_li")).crossJoin(
                li.join(
                    o.select(F.col("o_orderkey").alias("l_orderkey")),
                    "l_orderkey",
                    "left_anti",
                ).agg(F.count("*").alias("n_orphans"))
            ),
        ),
        row(
            9,
            "lineitem.l_discount in [0, 0.5]",
            cnt,
            F.sum(
                F.when(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5),
                    1,
                ).otherwise(0)
            ),
            li,
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.select(
        "rule_id",
        "rule",
        "n_checked",
        "n_violations",
        F.when(F.col("n_violations") == 0, 1)
        .otherwise(0)
        .cast("long")
        .alias("passed"),
    )


# ---------------------------------------------------------------------
# Difference-in-differences conversion estimator
# ---------------------------------------------------------------------

_DID_SQL = r"""
    WITH b AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
      FROM events),
    e AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
             CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       >= b.t0 + (b.t1 - b.t0) // 2
                  THEN 1 ELSE 0 END AS post,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events, b),
    g AS (
      SELECT treated, post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(y), 0) AS BIGINT) AS conv,
             CAST(CASE WHEN count(*) = 0 THEN 0
                  ELSE (2000000 * coalesce(sum(y), 0) + count(*))
                       // (2 * count(*)) END AS BIGINT) AS rate_micro
      FROM e GROUP BY 1, 2),
    p AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 1 THEN rate_micro END) AS tp,
        max(CASE WHEN treated = 1 AND post = 0 THEN rate_micro END) AS tq,
        max(CASE WHEN treated = 0 AND post = 1 THEN rate_micro END) AS cp,
        max(CASE WHEN treated = 0 AND post = 0 THEN rate_micro END) AS cq
      FROM g)
    SELECT g.treated, g.post, g.n, g.conv, g.rate_micro,
           CAST((p.tp - p.tq) - (p.cp - p.cq) AS BIGINT) AS did_micro
    FROM g, p
    """


@q("diff_in_diff_conversion", _DID_SQL)
def diff_in_diff_conversion(spark, sf_dir):
    """Difference-in-differences over the event stream — the quasi-
    experimental estimator product teams reach for when treatment
    wasn't randomized (`ab_test_conversion` covers the randomized
    case): treated = odd user ids (the deterministic cohort stand-in),
    post = the second half of the observed time range (split derived
    from the DATA's min/max, so it scales to any SF), outcome =
    purchase conversion. The 2x2 cell table carries exact counts and
    round-half-up micro rates; did_micro = (T,post − T,pre) −
    (C,post − C,pre) rides every row — the parallel-trends-adjusted
    lift estimate, all integer arithmetic.

    Scale shape: one 1-row bounds aggregate broadcast back, then ONE
    map-side-combinable groupBy over exactly 4 cells; the estimator is
    arithmetic on the 4-row frame. Nothing grows with the corpus but
    the scan."""
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("CAST(floor(unix_timestamp(min(ts))) AS BIGINT)").alias("t0"),
        F.expr("CAST(floor(unix_timestamp(max(ts))) AS BIGINT)").alias("t1"),
    )
    e = ev.crossJoin(F.broadcast(b)).select(
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("treated"),
        F.when(
            F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)")
            >= F.expr("t0 + (t1 - t0) div 2"),
            1,
        )
        .otherwise(0)
        .alias("post"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = e.groupBy("treated", "post").agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("conv"),
    )
    g = g.withColumn(
        "rate_micro",
        F.expr(
            "CASE WHEN n = 0 THEN 0"
            " ELSE (2000000 * conv + n) div (2 * n) END"
        ).cast("long"),
    )
    p = g.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), F.col("rate_micro"))).alias("tp"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), F.col("rate_micro"))).alias("tq"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), F.col("rate_micro"))).alias("cp"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), F.col("rate_micro"))).alias("cq"),
    )
    return g.crossJoin(F.broadcast(p)).select(
        "treated",
        "post",
        "n",
        "conv",
        "rate_micro",
        F.expr("(tp - tq) - (cp - cq)").cast("long").alias("did_micro"),
    )


# ---------------------------------------------------------------------
# CUPED variance-reduced experiment readout
# ---------------------------------------------------------------------

_CUPED_SQL = r"""
    WITH b AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS t1
      FROM events),
    u AS (
      SELECT user_id,
             CAST(max(user_id % 2) AS BIGINT) AS treated,
             CAST(coalesce(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                          < b.t0 + (b.t1 - b.t0) // 2
                          AND event_type = 'purchase'
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                          >= b.t0 + (b.t1 - b.t0) // 2
                          AND event_type = 'purchase'
                     THEN 1 ELSE 0 END), 0) AS BIGINT) AS y
      FROM events, b GROUP BY user_id),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM u),
    a AS (
      SELECT CAST(coalesce(sum(CASE WHEN treated = 1 THEN 1 END), 0)
                  AS BIGINT) AS nt,
             CAST(coalesce(sum(CASE WHEN treated = 0 THEN 1 END), 0)
                  AS BIGINT) AS nc,
             CAST(coalesce(sum(CASE WHEN treated = 1 THEN x END), 0)
                  AS BIGINT) AS sxt,
             CAST(coalesce(sum(CASE WHEN treated = 0 THEN x END), 0)
                  AS BIGINT) AS sxc,
             CAST(coalesce(sum(CASE WHEN treated = 1 THEN y END), 0)
                  AS BIGINT) AS syt,
             CAST(coalesce(sum(CASE WHEN treated = 0 THEN y END), 0)
                  AS BIGINT) AS syc
      FROM u)
    SELECT s.n, a.nt, a.nc,
           CAST(round((CAST(s.n AS DOUBLE) * s.sxy
                       - CAST(s.sx AS DOUBLE) * s.sy)
                      / (CAST(s.n AS DOUBLE) * s.sxx
                         - CAST(s.sx AS DOUBLE) * s.sx)
                      * 1000000) AS BIGINT) AS theta_micro,
           CAST(round((CAST(a.syt AS DOUBLE) / a.nt
                       - CAST(a.syc AS DOUBLE) / a.nc)
                      * 1000000) AS BIGINT) AS lift_raw_micro,
           CAST(round(((CAST(a.syt AS DOUBLE) / a.nt
                        - CAST(a.syc AS DOUBLE) / a.nc)
                       - ((CAST(s.n AS DOUBLE) * s.sxy
                           - CAST(s.sx AS DOUBLE) * s.sy)
                          / (CAST(s.n AS DOUBLE) * s.sxx
                             - CAST(s.sx AS DOUBLE) * s.sx))
                         * (CAST(a.sxt AS DOUBLE) / a.nt
                            - CAST(a.sxc AS DOUBLE) / a.nc))
                      * 1000000) AS BIGINT) AS lift_cuped_micro,
           CAST(round(((CAST(s.n AS DOUBLE) * s.sxy
                        - CAST(s.sx AS DOUBLE) * s.sy)
                       * (CAST(s.n AS DOUBLE) * s.sxy
                          - CAST(s.sx AS DOUBLE) * s.sy))
                      / ((CAST(s.n AS DOUBLE) * s.sxx
                          - CAST(s.sx AS DOUBLE) * s.sx)
                         * (CAST(s.n AS DOUBLE) * s.syy
                            - CAST(s.sy AS DOUBLE) * s.sy))
                      * 1000000) AS BIGINT) AS var_reduction_micro
    FROM s, a
    """


@q("cuped_adjusted_lift", _CUPED_SQL)
def cuped_adjusted_lift(spark, sf_dir):
    """CUPED (Deng et al. 2013, "Improving the Sensitivity of Online
    Controlled Experiments by Utilizing Pre-Experiment Data") — the
    variance-reduction adjustment every modern experimentation
    platform applies before reading an A/B test: per user, the
    POST-period purchase count is the outcome Y and the PRE-period
    count is the covariate X (split at the data's time midpoint, same
    integer-exact boundary as `diff_in_diff_conversion`); θ =
    Cov(X,Y)/Var(X) pooled, the adjusted lift subtracts θ·(ΔX̄), and
    var_reduction_micro = ρ²·1e6 is the fraction of outcome variance
    the covariate removes — the whole point of CUPED (ρ²≈0.3 means the
    experiment reads like one with 1/(1−0.3)× the traffic).

    Exactness discipline: every SUFFICIENT STATISTIC (n, Σx, Σy, Σxy,
    Σx², Σy², per-arm sums) is an exact integer; the final ratios are
    ONE fixed IEEE double expression evaluated identically by both
    engines from those identical integers (the Wilson/PSI precedent —
    +,−,×,/ and round are correctly rounded, so the micro outputs are
    bit-equal). Scale shape: one groupBy(user) + two map-side scalar
    aggregates; nothing but the scan grows with the corpus."""
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        F.expr("CAST(floor(unix_timestamp(min(ts))) AS BIGINT)").alias("t0"),
        F.expr("CAST(floor(unix_timestamp(max(ts))) AS BIGINT)").alias("t1"),
    )
    mid = F.expr("t0 + (t1 - t0) div 2")
    ep = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT)")
    pur = F.col("event_type") == "purchase"
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.max(F.col("user_id") % 2).cast("long").alias("treated"),
            F.coalesce(
                F.sum(F.when((ep < mid) & pur, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(F.when((ep >= mid) & pur, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    from .pipeline.dedup import _persist

    u = _persist(u)
    s = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    a = u.agg(
        F.coalesce(F.sum(F.when(F.col("treated") == 1, 1)), F.lit(0))
        .cast("long")
        .alias("nt"),
        F.coalesce(F.sum(F.when(F.col("treated") == 0, 1)), F.lit(0))
        .cast("long")
        .alias("nc"),
        F.coalesce(F.sum(F.when(F.col("treated") == 1, F.col("x"))), F.lit(0))
        .cast("long")
        .alias("sxt"),
        F.coalesce(F.sum(F.when(F.col("treated") == 0, F.col("x"))), F.lit(0))
        .cast("long")
        .alias("sxc"),
        F.coalesce(F.sum(F.when(F.col("treated") == 1, F.col("y"))), F.lit(0))
        .cast("long")
        .alias("syt"),
        F.coalesce(F.sum(F.when(F.col("treated") == 0, F.col("y"))), F.lit(0))
        .cast("long")
        .alias("syc"),
    )
    theta = (
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    )
    dy = "(CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc)"
    dx = "(CAST(sxt AS DOUBLE) / nt - CAST(sxc AS DOUBLE) / nc)"
    return s.crossJoin(F.broadcast(a)).select(
        "n",
        "nt",
        "nc",
        F.expr(f"CAST(round(({theta}) * 1000000) AS BIGINT)").alias(
            "theta_micro"
        ),
        F.expr(f"CAST(round({dy} * 1000000) AS BIGINT)").alias(
            "lift_raw_micro"
        ),
        F.expr(
            f"CAST(round(({dy} - ({theta}) * {dx}) * 1000000) AS BIGINT)"
        ).alias("lift_cuped_micro"),
        F.expr(
            "CAST(round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
            " * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))"
            " / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            " * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))"
            " * 1000000) AS BIGINT)"
        ).alias("var_reduction_micro"),
    )


# ---------------------------------------------------------------------
# Association rules (2-itemset support / confidence / lift)
# ---------------------------------------------------------------------

_ASSOC_SQL = r"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
           FROM b),
    ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
           FROM b GROUP BY 1),
    pr AS (SELECT a.l_partkey AS pa, b2.l_partkey AS pb,
                  CAST(count(*) AS BIGINT) AS c
           FROM b a JOIN b b2
             ON a.l_orderkey = b2.l_orderkey
            AND a.l_partkey < b2.l_partkey
           GROUP BY 1, 2),
    keep AS (
      SELECT pr.pa, pr.pb, pr.c, nb.n
      FROM pr, nb
      WHERE pr.c >= 3 AND pr.c * 1000000 // nb.n >= 150),
    dir AS (
      SELECT pa AS antecedent, pb AS consequent, c, n FROM keep
      UNION ALL
      SELECT pb, pa, c, n FROM keep)
    SELECT d.antecedent, d.consequent,
           d.c AS c_pair,
           ia.c AS c_ante,
           ico.c AS c_cons,
           d.n AS n_baskets,
           CAST(d.c * 1000000 // d.n AS BIGINT) AS support_ppm,
           CAST((2000000 * d.c + ia.c) // (2 * ia.c) AS BIGINT)
             AS confidence_micro,
           CAST((CAST(d.c AS HUGEINT) * d.n * 2000000 + ia.c * ico.c)
                // (2 * CAST(ia.c AS HUGEINT) * ico.c) AS BIGINT)
             AS lift_micro
    FROM dir d
    JOIN ic ia ON ia.l_partkey = d.antecedent
    JOIN ic ico ON ico.l_partkey = d.consequent
    """


@q("association_rules_2item", _ASSOC_SQL)
def association_rules_2item(spark, sf_dir):
    """Market-basket association rules at the 2-itemset level
    (Agrawal–Srikant support/confidence/lift): baskets are orders,
    items are parts; candidate pairs pass BOTH an absolute support
    floor (≥3 baskets — kills the c=1 noise mass, 112k pairs on this
    corpus) and a RELATIVE floor (support ≥150 ppm of baskets — the
    threshold that keeps the rule count sane as the corpus grows; an
    absolute-only floor floods at 100 TB, the r11 relative-cap lesson
    in reverse). Each surviving pair emits both directed rules with
    exact integers: support ppm, round-half-up confidence micro, and
    lift = c_ab·N/(c_a·c_b) in HUGEINT/DECIMAL(38,0) micro (the
    product c_a·c_b·2e6 overflows int64 at warehouse scale).

    Scale shape: baskets collapse to sorted distinct-item ARRAYS in one
    groupBy(order) pass, and the Σ(basket size choose 2) candidate
    pairs are generated IN-ROW from each array (optimization r13,
    guide §2.4 — this replaces the former (order, part) distinct +
    basket-keyed self-join, which exchanged the basket rows twice more
    to build the same pairs); basket sizes are small constants in any
    real order stream, so pair volume stays LINEAR in baskets and the
    pair aggregation is map-side-combinable. Item counts read off the
    same persisted basket arrays."""
    from .pipeline.dedup import _persist

    li = _t(spark, sf_dir, "lineitem")
    g = _persist(
        li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
    )
    nb = g.agg(F.count("*").cast("long").alias("n"))
    ic = (
        g.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)),"
        " y -> named_struct('pa', x, 'pb', y))))"
    )
    pr = (
        g.select(F.explode(pair_expr).alias("e"))
        .select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("c"))
    )
    keep = pr.crossJoin(F.broadcast(nb)).filter(
        (F.col("c") >= 3) & (F.expr("c * 1000000 div n") >= 150)
    )
    d = keep.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "c",
        "n",
    ).unionByName(
        keep.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "c",
            "n",
        )
    )
    ia = ic.select(
        F.col("l_partkey").alias("antecedent"), F.col("c").alias("c_ante")
    )
    ico = ic.select(
        F.col("l_partkey").alias("consequent"), F.col("c").alias("c_cons")
    )
    out = d.join(ia, "antecedent").join(ico, "consequent")
    return out.select(
        "antecedent",
        "consequent",
        F.col("c").alias("c_pair"),
        "c_ante",
        "c_cons",
        F.col("n").alias("n_baskets"),
        F.expr("c * 1000000 div n").cast("long").alias("support_ppm"),
        F.expr("(2000000 * c + c_ante) div (2 * c_ante)")
        .cast("long")
        .alias("confidence_micro"),
        F.expr(
            "(CAST(c AS DECIMAL(38,0)) * n * 2000000 + c_ante * c_cons)"
            " div (2 * CAST(c_ante AS DECIMAL(38,0)) * c_cons)"
        )
        .cast("long")
        .alias("lift_micro"),
    )


# ---------------------------------------------------------------------
# Nelson–Aalen cumulative hazard (censoring-aware, integer-exact)
# ---------------------------------------------------------------------

_NA_SQL = r"""
    WITH ev AS (
      SELECT user_id, event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
      FROM events),
    u AS (SELECT user_id, min(day) AS f, max(day) AS l,
                 min(CASE WHEN event_type = 'purchase' THEN day END) AS p
          FROM ev GROUP BY 1),
    lif AS (SELECT user_id,
                   CASE WHEN p IS NOT NULL THEN p - f ELSE l - f END AS dur,
                   CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM u),
    t AS (SELECT dur AS td, CAST(sum(ev) AS BIGINT) AS d FROM lif
          GROUP BY 1 HAVING sum(ev) > 0),
    r AS (SELECT t.td, t.d, t2.n,
                 CAST((2000000 * t.d + t2.n) // (2 * t2.n) AS BIGINT)
                   AS term_micro
          FROM t JOIN (SELECT td2.td, CAST(count(*) AS BIGINT) AS n
                       FROM (SELECT DISTINCT td FROM t) td2
                       JOIN lif ON lif.dur >= td2.td GROUP BY 1) t2
            ON t2.td = t.td)
    SELECT a.td AS duration_days,
           CAST(min(a.n) AS BIGINT) AS n_risk,
           CAST(min(a.d) AS BIGINT) AS n_events,
           CAST(sum(b.term_micro) AS BIGINT) AS cum_hazard_micro
    FROM r a JOIN r b ON b.td <= a.td
    GROUP BY a.td
    """


@q("nelson_aalen_hazard", _NA_SQL)
def nelson_aalen_hazard(spark, sf_dir):
    """Nelson–Aalen cumulative hazard for time-to-first-purchase —
    the estimator read NEXT to `km_time_to_purchase`'s survival curve
    (same lifetimes, same censoring; H(t) = Σ d/n is the hazard mass
    KM exponentiates away, and the one a reliability owner plots to
    see WHERE risk accumulates). Each step's d/n freezes to a
    round-half-up integer micro term; the cumulative is a SUM OF
    INTEGERS over the step-time join — FP-order-proof by construction
    (the KM discipline, minus even the log/exp).

    Scale shape: one groupBy(user) lifetime pass, a step table bounded
    by distinct event DURATIONS (days — small), and the cumulative
    join is steps×steps on that bounded table. Nothing corpus-sized
    past the first aggregate."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("date_diff(CAST(ts AS DATE), DATE '1970-01-01')")
    u = ev.select("user_id", "event_type", day.alias("day")).groupBy(
        "user_id"
    ).agg(
        F.min("day").alias("f"),
        F.max("day").alias("l"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("day"))
        ).alias("p"),
    )
    lif = u.select(
        F.when(F.col("p").isNotNull(), F.col("p") - F.col("f"))
        .otherwise(F.col("l") - F.col("f"))
        .alias("dur"),
        F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    from .pipeline.dedup import _persist

    lif = _persist(lif)
    t = (
        lif.groupBy(F.col("dur").alias("td"))
        .agg(F.sum("ev").cast("long").alias("d"))
        .filter(F.col("d") > 0)
    )
    n = (
        t.select("td")
        .distinct()
        .join(lif, F.col("dur") >= F.col("td"))
        .groupBy("td")
        .agg(F.count("*").cast("long").alias("n"))
    )
    r = t.join(n, "td").select(
        "td",
        "d",
        "n",
        F.expr("(2000000 * d + n) div (2 * n)")
        .cast("long")
        .alias("term_micro"),
    )
    a, b = r.alias("a"), r.alias("b")
    return (
        a.join(b, F.col("b.td") <= F.col("a.td"))
        .groupBy(F.col("a.td").alias("duration_days"))
        .agg(
            F.min(F.col("a.n")).cast("long").alias("n_risk"),
            F.min(F.col("a.d")).cast("long").alias("n_events"),
            F.sum(F.col("b.term_micro")).cast("long").alias(
                "cum_hazard_micro"
            ),
        )
    )


# ---------------------------------------------------------------------
# Grouped exact percentiles (nearest-rank, per event type)
# ---------------------------------------------------------------------

_GRP_PCTL_SQL = r"""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    g AS (SELECT event_type, cents, count(*) AS c FROM v GROUP BY 1, 2),
    cum AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cm
      FROM g),
    tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM g
            GROUP BY 1),
    p AS (SELECT unnest([50, 90, 99]) AS pctl)
    SELECT t.event_type, CAST(p.pctl AS BIGINT) AS pctl, t.n,
           CAST(min(CASE WHEN cum.cm >=
                      (p.pctl * t.n + 99) // 100
                     THEN cum.cents END) AS BIGINT) AS value_cents
    FROM tot t CROSS JOIN p
    JOIN cum ON cum.event_type = t.event_type
    GROUP BY 1, 2, 3
    """


@q("grouped_latency_percentiles", _GRP_PCTL_SQL)
def grouped_latency_percentiles(spark, sf_dir):
    """Grouped EXACT percentiles — the p50/p90/p99 SLO table, computed
    as true order statistics (nearest-rank: smallest value whose
    within-group cumulative count reaches ceil(p·n/100)), not the
    approximate t-digest/GK numbers monitoring stacks settle for
    (`profile.py` has the sketch path; THIS is the exact audit you run
    when the SLO number is contractual). Values freeze to integer
    cents; rank arithmetic is pure integers.

    Scale shape: the corpus collapses through ONE map-side-combinable
    groupBy(group, value) — state bounded by group × value-domain
    cardinality, not rows — then the cumulative runs in a window
    PARTITIONED by group (per-group parallelism, never the
    single-partition global window the registry lints against), and
    the three ranks read off it with conditional mins."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    g = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.withColumn("cm", F.sum("c").over(w))
    tot = g.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    p = cum.sparkSession.createDataFrame(
        [(50,), (90,), (99,)], "pctl long"
    )
    out = (
        tot.crossJoin(F.broadcast(p))
        .join(cum, "event_type")
        .groupBy("event_type", "pctl", "n")
        .agg(
            F.min(
                F.when(
                    F.col("cm") >= F.expr("(pctl * n + 99) div 100"),
                    F.col("cents"),
                )
            )
            .cast("long")
            .alias("value_cents")
        )
    )
    return out.select("event_type", "pctl", "n", "value_cents")


# ---------------------------------------------------------------------
# Trimmed / winsorized mean (exact order-statistic clipping)
# ---------------------------------------------------------------------

_TRIMMED_SQL = r"""
    WITH v AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    g AS (SELECT cents, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1),
    cum AS (
      SELECT cents, c,
             sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cm
      FROM g),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(c * cents) AS BIGINT) AS s
          FROM g),
    kk AS (SELECT n, s, n // 10 AS k FROM t),
    clip AS (
      SELECT kk.n, kk.s, kk.k,
             CAST(coalesce(sum(
               greatest(least(cum.cm, kk.n - kk.k)
                        - greatest(cum.cm - cum.c, kk.k), 0)
               * cum.cents), 0) AS HUGEINT) AS trimmed_sum,
             CAST(min(CASE WHEN cum.cm >= kk.k + 1
                      THEN cum.cents END) AS BIGINT) AS v_low,
             CAST(min(CASE WHEN cum.cm >= kk.n - kk.k
                      THEN cum.cents END) AS BIGINT) AS v_high
      FROM cum, kk GROUP BY 1, 2, 3)
    SELECT n, k,
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (2 * s * 1000 + n) // (2 * n) END AS BIGINT)
             AS mean_millicents,
           CAST(CASE WHEN n - 2 * k = 0 THEN 0
                ELSE (2 * trimmed_sum * 1000 + (n - 2 * k))
                     // (2 * (n - 2 * k)) END AS BIGINT)
             AS trimmed_mean_millicents,
           CAST(CASE WHEN n = 0 THEN 0
                ELSE (2 * (trimmed_sum + k * v_low + k * v_high) * 1000
                      + n) // (2 * n) END AS BIGINT)
             AS winsorized_mean_millicents
    FROM clip
    """


@q("trimmed_mean_price", _TRIMMED_SQL)
def trimmed_mean_price(spark, sf_dir):
    """Exact 10% two-sided trimmed AND winsorized means of the order
    totals — the robust location estimates a finance owner reads when
    the plain mean is hostage to tail orders (`weighted_median_price`
    and the MAD z-scores cover the median family; trimming/winsorizing
    keep mean-like efficiency). No sort of the corpus: the value
    domain collapses through groupBy(cents), the cumulative runs over
    the VALUE-GROUPED frame, and each distinct value contributes
    min(cm, n−k) − max(cm−c, k) clamped ≥0 occurrences to the trimmed
    sum — exact tie handling as pure integer arithmetic (a rank-range
    clip, not a fragile per-row rank filter). Winsorized = trimmed sum
    plus k copies of each boundary order statistic. Sums accumulate in
    HUGEINT/DECIMAL(38,0); means are round-half-up millicents.

    Scale shape: one map-side-combinable value groupBy bounds state at
    the price domain; the cumulative window rides the grouped frame
    (domain-sized, single range — documented bound, same class as the
    score-domain AUC windows)."""
    o = _t(spark, sf_dir, "orders")

    g = (
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("c"))
    )
    from .operators.cumulative import running_total
    from .pipeline.dedup import _persist

    g = _persist(g)

    cum = running_total(g, ["cents"], "c", out_col="cm")
    t = g.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.sum(F.col("c") * F.col("cents")), F.lit(0))
        .cast("long")
        .alias("s"),
    ).withColumn("k", F.expr("n div 10"))
    clip = cum.crossJoin(F.broadcast(t)).agg(
        F.first("n").alias("n"),
        F.first("s").alias("s"),
        F.first("k").alias("k"),
        F.coalesce(
            F.sum(
                F.expr(
                    "greatest(least(cm, n - k) - greatest(cm - c, k), 0)"
                )
                * F.col("cents")
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("trimmed_sum"),
        F.min(
            F.when(F.col("cm") >= F.expr("k + 1"), F.col("cents"))
        ).alias("v_low"),
        F.min(
            F.when(F.col("cm") >= F.expr("n - k"), F.col("cents"))
        ).alias("v_high"),
    )
    d2 = "CAST(2 AS DECIMAL(38,0))"
    return clip.select(
        "n",
        "k",
        F.expr(
            f"CASE WHEN n = 0 THEN 0"
            f" ELSE ({d2} * s * 1000 + n) div ({d2} * n) END"
        )
        .cast("long")
        .alias("mean_millicents"),
        F.expr(
            f"CASE WHEN n - 2 * k = 0 THEN 0"
            f" ELSE ({d2} * trimmed_sum * 1000 + (n - 2 * k))"
            f" div ({d2} * (n - 2 * k)) END"
        )
        .cast("long")
        .alias("trimmed_mean_millicents"),
        F.expr(
            f"CASE WHEN n = 0 THEN 0"
            f" ELSE ({d2} * (trimmed_sum + k * v_low + k * v_high) * 1000"
            f" + n) div ({d2} * n) END"
        )
        .cast("long")
        .alias("winsorized_mean_millicents"),
    )
