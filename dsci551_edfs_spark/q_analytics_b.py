"""Round 10-13 long tail part B: LM scoring, drift, trained quality classifier + eval metrics, sampling, ANN audits.

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import (
    DD,
    F,
    MEMO,
    SIM,
    TXT,
    Window,
    _scratch_dir,
    _t,
    os,
    q,
)
from .q_pipeline import _DOT_SQL, _LANG_CASE, _NORM_SQL, _lang_score_sql
from .q_media_temporal import _hll_own_sql
from .q_curation import _md5_bucket_sql
from .q_embeddings import (
    _BINARY_PACK_DUCK,
    _BLOCKING_TRUTH_CAP,
    _QM_FEATURES_SQL,
)
from .q_layout_round5 import _STRONG_EDGES_SQL, _strong_copurchase_edges
from .pipeline.classifier import LAST_CV_TIMINGS
from .streaming.quality_gate import LAST_TIMINGS as _GATE_TIMINGS

@q(
    "hbos_outlier_scores",
    """
    WITH el AS (
      SELECT vec_id AS id, CAST(i - 1 AS INT) AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, 64) t(i)),
    rng AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM el GROUP BY 1),
    n AS (SELECT count(*) AS nt FROM embeddings),
    b AS (
      SELECT id, el.dim,
             CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((x - lo) / (hi - lo) * 8) AS INT), 7)
             END AS bin
      FROM el JOIN rng USING (dim)),
    h AS (SELECT dim, bin, count(*) AS cnt FROM b GROUP BY 1, 2)
    SELECT id AS vec_id,
           CAST(sum(CAST(round(ln(CAST((SELECT nt FROM n) AS DOUBLE) / cnt)
                               * 1000) AS BIGINT)) AS BIGINT) AS score_milli
    FROM b JOIN h USING (dim, bin) GROUP BY 1
    """,
)
def hbos_outlier_scores(spark, sf_dir):
    """Histogram-Based Outlier Score over the embedding corpus — the
    distance-free unsupervised anomaly detector: per-dimension equi-width
    histograms, score = Σ_d milli-nats of the bin's rarity
    (pipeline/similarity.py:hbos_outlier_scores). Two corpus passes +
    one broadcast histogram — runs at sizes where any pairwise method
    is off the table; integer scores, bit-exact oracle."""
    from .pipeline.similarity import hbos_outlier_scores as _hbos

    emb = _t(spark, sf_dir, "embeddings")
    return _hbos(emb).select(F.col("id").alias("vec_id"), "score_milli")


@q(
    "psi_drift_sources",
    "WITH "
    + _QM_FEATURES_SQL
    + r"""
    , m AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-round(-1.0
                   + 2.5 * least(n_tokens / 100.0, 1.0)
                   + 0.15 * avg_token_len - 4.0 * punct_ratio
                   - 2.0 * upper_ratio - 3.0 * digit_ratio, 6))), 4)
               AS quality_prob
      FROM feats),
    j AS (SELECT least(CAST(floor(m.quality_prob * 10) AS BIGINT), 9) AS bin,
                 coalesce(TRY_CAST(regexp_extract(d.source, '(\d+)', 1)
                                   AS BIGINT), 0) % 2 AS grp
          FROM m JOIN documents d USING (doc_id)),
    c AS (SELECT grp, bin, count(*) AS cnt FROM j GROUP BY 1, 2),
    grid AS (SELECT g.grp, b.bin
             FROM (SELECT unnest([0, 1]) AS grp) g,
                  (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS bin) b),
    s AS (SELECT grid.grp, grid.bin, coalesce(c.cnt, 0) + 1 AS cnt1
          FROM grid LEFT JOIN c ON c.grp = grid.grp AND c.bin = grid.bin),
    t AS (SELECT grp, sum(cnt1) AS tot FROM s GROUP BY 1),
    p AS (SELECT s.bin, s.grp, s.cnt1,
                 CAST(s.cnt1 AS DOUBLE) / t.tot AS pr
          FROM s JOIN t USING (grp))
    SELECT a.bin,
           CAST(a.cnt1 - 1 AS BIGINT) AS cnt_a,
           CAST(b.cnt1 - 1 AS BIGINT) AS cnt_b,
           CAST(round((a.pr - b.pr) * ln(a.pr / b.pr) * 1000000) AS BIGINT)
             AS psi_term_micro
    FROM (SELECT * FROM p WHERE grp = 0) a
    JOIN (SELECT * FROM p WHERE grp = 1) b USING (bin)
    """,
)
def psi_drift_sources(spark, sf_dir):
    """Population Stability Index between the even- and odd-numbered
    document sources over quality-score deciles — the standard MLOps
    drift gate before retraining on a new crawl slice. Laplace-smoothed
    (+1 per bin, grid-completed so empty deciles still report), PSI
    terms frozen to integer micro-nats; total PSI = Σ terms / 1e6, one
    driver-side sum away. One scan + a 20-key aggregate."""
    d = _t(spark, sf_dir, "documents")
    m = TXT.quality_score_model(d).select("doc_id", "quality_prob")
    j = m.join(d.select("doc_id", "source"), "doc_id").select(
        F.least(
            F.floor(F.col("quality_prob") * 10).cast("long"), F.lit(9)
        ).alias("bin"),
        (
            # digit-less sources default to group 0 on BOTH engines —
            # a bare cast would null-drop rows here while the oracle's
            # CAST('' AS BIGINT) raises (engine divergence, ADVICE r10)
            F.coalesce(
                F.regexp_extract(F.col("source"), r"(\d+)", 1).try_cast(
                    "long"
                ),
                F.lit(0),
            )
            % 2
        ).alias("grp"),
    )
    c = j.groupBy("grp", "bin").agg(F.count("*").alias("cnt"))
    grid = spark.range(2).select(F.col("id").alias("grp")).crossJoin(
        spark.range(10).select(F.col("id").alias("bin"))
    )
    s = grid.join(c, ["grp", "bin"], "left").select(
        "grp", "bin", (F.coalesce(F.col("cnt"), F.lit(0)) + 1).alias("cnt1")
    )
    t = s.groupBy("grp").agg(F.sum("cnt1").alias("tot"))
    p = s.join(t, "grp").select(
        "bin",
        "grp",
        "cnt1",
        (F.col("cnt1").cast("double") / F.col("tot")).alias("pr"),
    )
    a = p.filter(F.col("grp") == 0).select(
        "bin", F.col("cnt1").alias("c1a"), F.col("pr").alias("pa")
    )
    b = p.filter(F.col("grp") == 1).select(
        "bin", F.col("cnt1").alias("c1b"), F.col("pr").alias("pb")
    )
    return a.join(b, "bin").select(
        "bin",
        (F.col("c1a") - 1).cast("long").alias("cnt_a"),
        (F.col("c1b") - 1).cast("long").alias("cnt_b"),
        F.round(
            (F.col("pa") - F.col("pb"))
            * F.log(F.col("pa") / F.col("pb"))
            * 1e6
        )
        .cast("long")
        .alias("psi_term_micro"),
    )


def _kcore_oracle_sql(k: int = 3, rounds: int = 12) -> str:
    """Unrolled bounded-round k-core peel over the strong co-purchase
    graph: round r removes nodes whose degree in e_{r-1} is < k."""
    parts = [f"WITH {_STRONG_EDGES_SQL}", ",\n    g0 AS MATERIALIZED (SELECT x, y FROM e)"]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    deg{r} AS (SELECT node, count(*) AS deg FROM (
               SELECT x AS node FROM g{r - 1}
               UNION ALL SELECT y FROM g{r - 1}) GROUP BY 1),
    keep{r} AS (SELECT node FROM deg{r} WHERE deg >= {k}),
    g{r} AS MATERIALIZED (SELECT x, y FROM g{r - 1}
             WHERE x IN (SELECT node FROM keep{r})
               AND y IN (SELECT node FROM keep{r}))"""
        )
    parts.append(
        f"""
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      SELECT x AS node FROM g{rounds} UNION ALL SELECT y FROM g{rounds})
    GROUP BY 1"""
    )
    return "".join(parts)


@q("kcore_copurchase", _kcore_oracle_sql(), memo=True)
def kcore_copurchase(spark, sf_dir):
    """Bounded-round k-core decomposition (k=3, 12 peel rounds) of the
    strong co-purchase graph — the graph-density backbone extractor
    (community cores, spam-cluster mining). Each round is one degree
    aggregate + two key-shuffled semi-joins over the shrinking edge set,
    lineage-cut per round (operators/graph.py:kcore_peel); 12 rounds is
    the FIXED contract both engines run (extra rounds past the fixpoint
    are no-ops, so the bound only matters for truly deep peel chains —
    the same bounded-iteration semantics as `pagerank_user_events`).
    Edges ride the shared per-corpus memo."""
    from .operators.graph import kcore_peel

    return kcore_peel(
        _strong_copurchase_edges(spark, sf_dir), "pa", "pb", k=3, rounds=12
    )


@q(
    "hll_own_set_ops",
    f"""
    WITH pe AS (
      SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2)
               AS g, user_id
      FROM events),
    e2 AS ({_hll_own_sql("pe", "g", "user_id")}),
    eu AS ({_hll_own_sql("pe", "1", "user_id")}),
    ex AS (SELECT g, CAST(count(DISTINCT user_id) AS BIGINT) AS x
           FROM pe GROUP BY 1),
    exu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS xu FROM pe)
    SELECT a.ndv_est AS est_a, b.ndv_est AS est_b, u.ndv_est AS est_union,
           round(a.ndv_est + b.ndv_est - u.ndv_est, 3) AS est_intersection,
           xa.x AS exact_a, xb.x AS exact_b, exu.xu AS exact_union,
           CAST(xa.x + xb.x - exu.xu AS BIGINT) AS exact_intersection
    FROM (SELECT ndv_est FROM e2 WHERE g = 0) a,
         (SELECT ndv_est FROM e2 WHERE g = 1) b,
         eu u,
         (SELECT x FROM ex WHERE g = 0) xa,
         (SELECT x FROM ex WHERE g = 1) xb,
         exu
    """,
)
def hll_own_set_ops(spark, sf_dir):
    """Sketch SET ALGEBRA on the oracle-checked own-HLL: users active on
    even days (A) vs odd days (B) — union estimated from the MAX-MERGE
    of the two register tables (lossless, the mergeability property
    `hll_own_rollup` proves), intersection by inclusion-exclusion
    (estA + estB − estU, the standard HLL trick: intersections aren't
    directly sketchable). Exact values sit in the same row so the
    estimator error is visible in the result. At 100 TB each register
    table is O(2^p) rows regardless of input — set algebra over
    billions of users costs two tiny aggregates."""
    from .operators import sketches as SK

    ev = _t(spark, sf_dir, "events").select(
        (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))) % 2)
        .alias("g"),
        "user_id",
    )
    regs = SK.hll_own_registers(ev, "user_id", ["g"])
    est2 = SK.hll_own_estimate(regs, ["g"])
    regs_u = regs.groupBy("bucket").agg(F.max("reg").cast("int").alias("reg"))
    est_u = SK.hll_own_estimate(regs_u, []).select(
        F.col("ndv_est").alias("est_union")
    )
    exact = ev.groupBy("g").agg(
        F.countDistinct("user_id").cast("long").alias("x")
    )
    exact_u = ev.agg(F.countDistinct("user_id").cast("long").alias("xu"))
    a = est2.filter(F.col("g") == 0).select(F.col("ndv_est").alias("est_a"))
    b = est2.filter(F.col("g") == 1).select(F.col("ndv_est").alias("est_b"))
    xa = exact.filter(F.col("g") == 0).select(F.col("x").alias("exact_a"))
    xb = exact.filter(F.col("g") == 1).select(F.col("x").alias("exact_b"))
    return (
        a.crossJoin(b)
        .crossJoin(est_u)
        .withColumn(
            "est_intersection",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 3
            ),
        )
        .crossJoin(xa)
        .crossJoin(xb)
        .crossJoin(exact_u.select(F.col("xu").alias("exact_union")))
        .withColumn(
            "exact_intersection",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union")).cast(
                "long"
            ),
        )
    )


@q(
    "l_diversity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             count(*) AS cnt,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
      FROM customer GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_3,
           CAST(sum(CASE WHEN l < 3 THEN cnt ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM g
    """,
)
def l_diversity_report(spark, sf_dir):
    """l-diversity audit — k-anonymity's stronger sibling
    (`k_anonymity_report`): a QI group that is large enough (k-anon
    passes) still leaks the sensitive attribute if everyone in it shares
    the same value. Per (nation, segment) group: l = distinct sensitive
    bands (account-balance kilobuckets); report the minimum l, groups
    below l=3 and the rows they expose. One scan, one two-level
    map-side-combinable aggregate."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("cnt"),
        F.count_distinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("l"),
    )
    return g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_l"),
        F.sum((F.col("l") < 3).cast("long")).cast("long").alias(
            "n_groups_below_3"
        ),
        F.sum(F.when(F.col("l") < 3, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


@q(
    "preference_pairs",
    "WITH "
    + _QM_FEATURES_SQL
    + """
    , m AS (
      SELECT doc_id,
             CAST(round(round(1.0 / (1.0 + exp(-round(-1.0
                   + 2.5 * least(n_tokens / 100.0, 1.0)
                   + 0.15 * avg_token_len - 4.0 * punct_ratio
                   - 2.0 * upper_ratio - 3.0 * digit_ratio, 6))), 4)
                   * 10000) AS BIGINT) AS p4,
             n_tokens
      FROM feats),
    j AS (SELECT m.doc_id, m.p4, d.lang,
                 CAST(m.n_tokens // 10 AS BIGINT) AS len_bucket
          FROM m JOIN documents d USING (doc_id)),
    g AS (
      SELECT lang, len_bucket,
             max(struct_pack(p := p4, ni := -doc_id)) AS ch,
             min(struct_pack(p := p4, i := doc_id)) AS rj,
             count(*) AS n
      FROM j GROUP BY 1, 2)
    SELECT lang, len_bucket,
           CAST(-(ch).ni AS BIGINT) AS chosen_id,
           CAST((rj).i AS BIGINT) AS rejected_id,
           CAST((ch).p - (rj).p AS BIGINT) AS gap_x1e4,
           CAST(n AS BIGINT) AS group_size
    FROM g
    WHERE n >= 2 AND (ch).p - (rj).p >= 500
    """,
)
def preference_pairs(spark, sf_dir):
    """DPO/RLHF-style preference-pair construction: within each
    comparable stratum (language × length decile — same-topic proxy),
    pair the highest-quality doc (chosen) with the lowest (rejected),
    keeping pairs whose quality gap ≥ 0.05. Quality is the calibrated
    classifier prob frozen to ×10⁴ integers, argmax/argmin via
    min/max(struct) with id tie-breaks — fully deterministic, one scan
    + one map-side-combinable groupBy, which is the whole cost at
    100 TB (the strata are bounded; pair selection never joins docs to
    docs)."""
    d = _t(spark, sf_dir, "documents")
    m = TXT.quality_score_model(d).select(
        "doc_id",
        F.round(F.col("quality_prob") * 10000).cast("long").alias("p4"),
        F.col("n_tokens"),
    )
    j = m.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "p4", "lang", F.expr("n_tokens div 10").alias("len_bucket")
    )
    g = j.groupBy("lang", "len_bucket").agg(
        F.max(F.struct(F.col("p4").alias("p"), (-F.col("doc_id")).alias("ni"))).alias("ch"),
        F.min(F.struct(F.col("p4").alias("p"), F.col("doc_id").alias("i"))).alias("rj"),
        F.count("*").alias("n"),
    )
    return (
        g.filter((F.col("n") >= 2) & (F.col("ch.p") - F.col("rj.p") >= 500))
        .select(
            "lang",
            "len_bucket",
            (-F.col("ch.ni")).cast("long").alias("chosen_id"),
            F.col("rj.i").cast("long").alias("rejected_id"),
            (F.col("ch.p") - F.col("rj.p")).cast("long").alias("gap_x1e4"),
            F.col("n").cast("long").alias("group_size"),
        )
    )


@q(
    "xml_roundtrip_orders",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def xml_roundtrip_orders(spark, sf_dir):
    """XML as an interchange surface (the one row format the repo's
    csv/jsonl/avro/orc roundtrips didn't cover): serialize each order
    row with `to_xml`, parse it back with `from_xml` (Spark 4 built-ins
    — JVM-side, no Python in the row path), and return the parsed
    fields. The oracle reads the SAME fields straight off parquet — a
    strict roundtrip-identity check, which is exactly what it claims:
    doubles survive because Java's shortest-roundtrip double printing
    is parse-exact by construction. Both directions are per-row codegen
    projections; at 100 TB this is scan-bound like any format shim."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
        ).alias("x")
    )
    return xml.select(
        F.from_xml(
            "x", "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        ).alias("r")
    ).select("r.*")


@q(
    "weighted_median_price",
    """
    WITH g AS (
      SELECT l_returnflag, l_extendedprice AS price,
             sum(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2),
    t AS (SELECT l_returnflag, sum(w) AS tw FROM g GROUP BY 1),
    c AS (
      SELECT l_returnflag, price,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw
      FROM g)
    SELECT c.l_returnflag, min(c.price) AS weighted_median,
           CAST(min(t.tw) AS BIGINT) AS total_qty
    FROM c JOIN t USING (l_returnflag)
    WHERE 2 * c.cw >= t.tw
    GROUP BY 1
    """,
)
def weighted_median_price(spark, sf_dir):
    """Exact QUANTITY-WEIGHTED median price per return flag — the
    robust-statistics sibling of `price_percentile_by_status` (plain
    percentile ignores that a 50-unit line should weigh 50× a 1-unit
    line). Two-phase exact shape for 100 TB: the raw scan collapses
    FIRST through a map-side-combinable groupBy(flag, price) — weight
    consolidation — so the per-flag cumulative-weight window sorts only
    DISTINCT prices per flag, not raw rows; the median is the first
    price whose cumulative weight reaches half the total (integer
    comparison 2·cw ≥ total, no FP). The window is partitioned (flag),
    lint-clean."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        F.sum("l_quantity").alias("w")
    )
    t = g.groupBy("l_returnflag").agg(F.sum("w").alias("tw"))
    wspec = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn("cw", F.sum("w").over(wspec))
    return (
        c.join(t, "l_returnflag")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.min("tw").cast("long").alias("total_qty"),
        )
    )


def _unigram_lm_oracle() -> str:
    from .pipeline.unigram_lm import unigram_lm_oracle_sql

    return unigram_lm_oracle_sql()


@q("unigram_lm_top_pieces", _unigram_lm_oracle())
def unigram_lm_top_pieces(spark, sf_dir):
    """One unigram-LM (SentencePiece-style) tokenizer round: candidate
    piece inventory from substring statistics, integer milli-nat costs,
    RELATIONAL Viterbi over the frequency-weighted distinct-word
    vocabulary (12 vocab-sized join levels — never an exponential
    expression tree), backtrace, and the top-50 pieces by usage count.
    The corpus is scanned ONCE (tokenize + groupBy word); everything
    downstream is vocabulary-sized — the design that makes tokenizer
    induction a rounding error next to the 100 TB scan
    (pipeline/unigram_lm.py). Oracle: the identical lattice as
    MATERIALIZED per-level DuckDB CTEs, bit-for-bit (integer objective
    carries the tie-break)."""
    from .pipeline.unigram_lm import unigram_lm_piece_counts

    d = _t(spark, sf_dir, "documents")
    return unigram_lm_piece_counts(d, top_k=50)


@q(
    "quality_calibration_bins",
    "WITH "
    + _QM_FEATURES_SQL
    + """
    , m AS (
      SELECT doc_id, n_tokens, avg_token_len, punct_ratio, digit_ratio,
             round(1.0 / (1.0 + exp(-round(-1.0
                   + 2.5 * least(n_tokens / 100.0, 1.0)
                   + 0.15 * avg_token_len - 4.0 * punct_ratio
                   - 2.0 * upper_ratio - 3.0 * digit_ratio, 6))), 4)
               AS quality_prob
      FROM feats),
    b AS (
      SELECT least(CAST(floor(quality_prob * 10) AS BIGINT), 9) AS bin,
             CAST(round(quality_prob * 10000) AS BIGINT) AS p4,
             CASE WHEN n_tokens >= 10 AND punct_ratio <= 0.20
                       AND digit_ratio <= 0.30
                       AND avg_token_len BETWEEN 2.0 AND 12.0
                  THEN 1 ELSE 0 END AS pass
      FROM m)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p4) AS BIGINT) AS sum_prob_x1e4,
           CAST(sum(pass) AS BIGINT) AS n_pass
    FROM b GROUP BY 1
    """,
)
def quality_calibration_bins(spark, sf_dir):
    """Reliability diagram for the fastText-style quality model: decile
    bins of predicted quality_prob vs the observed pass rate of the
    independent rule-based corpus gate — the standard "is my classifier
    calibrated before I threshold 100 TB on it" audit. Accumulations
    are exact integers (prob frozen to its already-rounded ×10⁴ value,
    pass as 0/1), so no FP summation order anywhere; the mean predicted
    prob per bin is one driver-side division away. One scan, one
    map-side-combinable 10-key groupBy."""
    d = _t(spark, sf_dir, "documents")
    m = TXT.quality_score_model(d).select("doc_id", "quality_prob")
    passed = TXT.quality_filter(d).select("doc_id", F.lit(1).alias("p"))
    return (
        m.join(passed, "doc_id", "left")
        .select(
            F.least(
                F.floor(F.col("quality_prob") * 10).cast("long"), F.lit(9)
            ).alias("bin"),
            F.round(F.col("quality_prob") * 10000)
            .cast("long")
            .alias("p4"),
            F.coalesce(F.col("p"), F.lit(0)).alias("pass"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("p4").cast("long").alias("sum_prob_x1e4"),
            F.sum("pass").cast("long").alias("n_pass"),
        )
    )


@q(
    "rendezvous_shard_movement",
    """
    WITH w AS (
      SELECT doc_id, s,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#'
                                        || CAST(s AS VARCHAR)), 1, 15)
                  AS BIGINT) AS w
      FROM documents, generate_series(0, 8) t(s)),
    a8 AS (SELECT doc_id, s AS shard8 FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
             FROM w WHERE s < 8) WHERE rn = 1),
    a9 AS (SELECT doc_id, s AS shard9 FROM (
             SELECT doc_id, s, row_number() OVER (
               PARTITION BY doc_id ORDER BY w DESC, s DESC) AS rn
             FROM w) WHERE rn = 1)
    SELECT CAST(shard8 AS BIGINT) AS shard8,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN shard9 <> shard8 AND shard9 <> 8
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_wrong
    FROM a8 JOIN a9 USING (doc_id)
    GROUP BY 1
    """,
)
def rendezvous_shard_movement(spark, sf_dir):
    """The consistent-placement audit: assign every doc a rendezvous
    (HRW) shard at S=8 and S=9 (pipeline/curation.py:rendezvous_shard)
    and count, per old shard, how many docs moved — and how many moved
    ANYWHERE BUT the new shard (`n_moved_wrong`, provably 0 for HRW:
    the old argmax stays the argmax unless the new candidate beats it).
    Mod-hashing would move ~8/9 of every shard; HRW moves ~1/9 spread
    evenly. Two codegen projections + one id-keyed groupBy join, no
    state anywhere — the incremental-reshard plan for a 100 TB corpus."""
    from .pipeline.curation import rendezvous_shard

    d = _t(spark, sf_dir, "documents").select("doc_id")
    a8 = rendezvous_shard(d, 8, out_col="shard8")
    a9 = rendezvous_shard(d, 9, out_col="shard9")
    return (
        a8.join(a9, "doc_id")
        .groupBy("shard8")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("shard9") != F.col("shard8")).cast("long"))
            .cast("long")
            .alias("n_moved"),
            F.sum(
                (
                    (F.col("shard9") != F.col("shard8"))
                    & (F.col("shard9") != 8)
                ).cast("long")
            )
            .cast("long")
            .alias("n_moved_wrong"),
        )
    )


_FD_COLS = ["p_name", "p_brand", "p_type", "p_size"]
_FD_PAIRS = [(a, b) for a in _FD_COLS for b in _FD_COLS if a != b]


def _fd_oracle_sql() -> str:
    arms = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS lhs, '{b}' AS rhs, CAST({a} AS VARCHAR) AS lv,"
        f" CAST({b} AS VARCHAR) AS rv FROM part"
        for a, b in _FD_PAIRS
    )
    return f"""
    WITH m AS ({arms}),
    g AS (SELECT lhs, rhs, lv, count(DISTINCT rv) AS nrv
          FROM m GROUP BY 1, 2, 3)
    SELECT lhs, rhs, CAST(count(*) AS BIGINT) AS n_lhs_values,
           CAST(sum(CASE WHEN nrv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_lhs,
           sum(CASE WHEN nrv > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM g GROUP BY 1, 2
    """


@q("fd_discovery_part", _fd_oracle_sql())
def fd_discovery_part(spark, sf_dir):
    """Functional-dependency discovery (one lattice level of TANE-style
    profiling): for every ordered column pair (A, B) over the part
    table's descriptive columns, does A → B hold, and on how many A
    values does it break? The schema-profiling primitive behind key
    detection, normalization advice and data-quality rules. Scale
    shape: ONE scan — the 12 candidate pairs melt through a codegen
    `stack` into (lhs, rhs, lv, rv) rows, then one map-side-combinable
    two-level aggregate; never 12 per-pair scans, and the shuffle key
    (pair, lhs-value) spreads hot lattice nodes across the cluster."""
    p = _t(spark, sf_dir, "part")
    stack_args = ", ".join(
        f"'{a}', '{b}', cast({a} as string), cast({b} as string)"
        for a, b in _FD_PAIRS
    )
    m = p.select(
        F.expr(f"stack({len(_FD_PAIRS)}, {stack_args}) as (lhs, rhs, lv, rv)")
    )
    per_lhs = m.groupBy("lhs", "rhs", "lv").agg(
        F.count_distinct("rv").alias("nrv")
    )
    return per_lhs.groupBy("lhs", "rhs").agg(
        F.count("*").cast("long").alias("n_lhs_values"),
        F.sum((F.col("nrv") > 1).cast("long"))
        .cast("long")
        .alias("n_violating_lhs"),
        (F.sum((F.col("nrv") > 1).cast("long")) == 0).alias("holds"),
    )


_IND_CANDIDATES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
]


def _ind_oracle_sql() -> str:
    arms = "\n    UNION ALL ".join(
        f"""SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           CAST((SELECT count(DISTINCT {cc}) FROM {ct}) AS BIGINT)
             AS n_child_distinct,
           CAST((SELECT count(*) FROM (SELECT DISTINCT {cc} AS v FROM {ct}) d
                 WHERE NOT EXISTS (SELECT 1 FROM {pt} WHERE {pc} = d.v))
                AS BIGINT) AS n_missing"""
        for ct, cc, pt, pc in _IND_CANDIDATES
    )
    return f"""
    SELECT child, parent, n_child_distinct, n_missing,
           n_missing = 0 AS holds
    FROM ({arms})
    """


@q("inclusion_dependency_audit", _ind_oracle_sql())
def inclusion_dependency_audit(spark, sf_dir):
    """Inclusion-dependency (foreign-key) discovery: for each candidate
    child⊆parent column pair across the schema, count distinct child
    values missing from the parent — the referential-integrity audit
    that finds real FKs (orders→customer holds) and rejects reversed
    ones (customer→orders fails on order-less customers). Each
    candidate is distinct(child) LEFT ANTI parent — two map-side-
    combinable distincts and one key-shuffled anti-join per pair, the
    exact shape a 100 TB FK-miner runs per lattice edge; results are
    six 1-row aggregates unioned."""
    rows = []
    for ct, cc, pt, pc in _IND_CANDIDATES:
        child = _t(spark, sf_dir, ct).select(F.col(cc).alias("v")).distinct()
        parent = _t(spark, sf_dir, pt).select(F.col(pc).alias("v"))
        n_child = child.agg(F.count("*").cast("long").alias("n_child_distinct"))
        n_miss = (
            child.join(parent, "v", "left_anti")
            .agg(F.count("*").cast("long").alias("n_missing"))
        )
        rows.append(
            n_child.crossJoin(n_miss).select(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                "n_child_distinct",
                "n_missing",
                (F.col("n_missing") == 0).alias("holds"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _mmr_oracle_sql(k: int = 6) -> str:
    """Unrolled k-step replay of `similarity.mmr_select`'s greedy
    trajectory (the kmeans/BPE unroll pattern): sel_t grows by the
    argmax of 0.7·rel − 0.3·max-sim-to-sel_{t-1}, ties by id."""
    d = _DOT_SQL
    n = _NORM_SQL
    head = f"""
    WITH pool AS (SELECT vec_id AS id, embedding AS v FROM embeddings
                  WHERE vec_id BETWEEN 1 AND 127),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    rel AS (SELECT p.id,
                   {d.format(a="p.v", b="q.v")}
                     / ({n.format(a="p.v")} * {n.format(a="q.v")}) AS rel
            FROM pool p, qv q),
    sim AS (SELECT a.id AS ia, b.id AS ib,
                   {d.format(a="a.v", b="b.v")}
                     / ({n.format(a="a.v")} * {n.format(a="b.v")}) AS s
            FROM pool a JOIN pool b ON a.id <> b.id),
    p1 AS (SELECT id, 0.7 * rel AS score FROM rel
           ORDER BY score DESC, id LIMIT 1),
    sel1 AS (SELECT id FROM p1)"""
    steps = []
    for t in range(2, k + 1):
        steps.append(f""",
    m{t} AS (SELECT r.id, r.rel, max(s.s) AS ms
             FROM rel r JOIN sim s ON s.ia = r.id
             JOIN sel{t - 1} q ON s.ib = q.id
             WHERE r.id NOT IN (SELECT id FROM sel{t - 1})
             GROUP BY r.id, r.rel),
    p{t} AS (SELECT id, 0.7 * rel - 0.3 * ms AS score FROM m{t}
             ORDER BY score DESC, id LIMIT 1),
    sel{t} AS (SELECT id FROM sel{t - 1} UNION ALL SELECT id FROM p{t})"""
        )
    final = " UNION ALL ".join(
        f"SELECT {t} AS sel_rank, id, score FROM p{t}" for t in range(1, k + 1)
    )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST(sel_rank AS BIGINT) AS sel_rank, CAST(id AS BIGINT) AS vec_id,
           round(score, 4) AS score
    FROM ({final})"""
    )


@q("mmr_select_diverse", _mmr_oracle_sql())
def mmr_select_diverse(spark, sf_dir):
    """Greedy MMR diversity selection: 6 picks from a 127-vector pool,
    relevance = cosine to vec_id 0, redundancy = max cosine to the
    already-picked set (λ=0.7). Sequential by nature — k bounded
    single-row collects, each one distributed pass with the ≤k selected
    rows broadcast (pipeline/similarity.py:mmr_select); the oracle
    replays the identical trajectory as an unrolled 6-step CTE chain."""
    from .pipeline.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_select(emb, query_id=0, pool_lo=1, pool_hi=127, k=6)


@q(
    "hashed_tfidf_knn",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
      FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w0 AS (
      SELECT tf.doc_id AS id,
             CAST('0x' || substring(md5(tf.token), 1, 8) AS BIGINT) % 64
               AS bucket,
             tf.tf * CAST(round(ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                                    / dfr.df) * 1000) AS BIGINT) AS w
      FROM tf JOIN dfr USING (token)),
    v AS (SELECT id, bucket, CAST(sum(w) AS BIGINT) AS w
          FROM w0 GROUP BY 1, 2),
    n2 AS (SELECT id, CAST(sum(w * w) AS BIGINT) AS n2 FROM v GROUP BY 1),
    dot AS (
      SELECT q.id AS qid, c.id AS cid, CAST(sum(q.w * c.w) AS BIGINT) AS dot
      FROM v q JOIN v c ON q.bucket = c.bucket
      WHERE q.id % 50 = 0 AND q.id < 5000
        AND NOT (c.id % 50 = 0 AND c.id < 5000)
      GROUP BY 1, 2),
    scored AS (
      SELECT qid, cid,
             dot / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
               AS score
      FROM dot JOIN n2 nq ON nq.id = dot.qid
               JOIN n2 nc ON nc.id = dot.cid)
    SELECT CAST(qid AS BIGINT) AS query_id, CAST(cid AS BIGINT) AS neighbor_id,
           CAST(rnk AS BIGINT) AS rnk, round(score, 4) AS score
    FROM (SELECT qid, cid, score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score DESC, cid) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
    memo=True,
)
def hashed_tfidf_knn(spark, sf_dir):
    """Lexical k-NN with NO vocabulary object: hashed TF-IDF vectors
    (feature-hashing trick, md5-bucket mod 64, exact integer milli-nat
    weights) scored by cosine, top-5 per query doc (every 50th doc).
    The 100 TB story is in pipeline/retrieval.py:hashed_tfidf_vectors —
    the vocabulary disappears as a distributed object (token → bucket is
    stateless), docs become fixed-width vectors the learned-embedding
    ANN stack (IVF/PQ/binary-sign) consumes unchanged. Scoring join is
    bucket-sparse with the Q·64-row query side broadcast. The (id,
    token, tf) frame comes from the token-bucketed per-corpus layout
    (shared_text_layout.token_tf, optimization r14): no tokenize scan,
    no (id, token) exchange, DF aggregate exchange-free."""
    from .pipeline.retrieval import hashed_tfidf_knn as _hknn
    from .sources.shared_text_layout import token_tf

    d = _t(spark, sf_dir, "documents")
    return _hknn(d, dim=64, query_mod=50, k=5, tf=token_tf(spark, sf_dir))


@q(
    "normalized_dedup_groups",
    r"""
    WITH variants AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id,
             upper(replace(text, ' ', ' , ')) AS text
      FROM documents WHERE doc_id % 7 = 0),
    f AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               AS raw_fp,
             md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                   '\s+', ' ', 'g'))) AS norm_fp
      FROM variants)
    SELECT norm_fp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_variants,
           CAST(min(doc_id) AS BIGINT) AS rep_doc_id
    FROM f GROUP BY 1
    HAVING count(DISTINCT raw_fp) > 1
    """,
)
def normalized_dedup_groups(spark, sf_dir):
    """Normalization-aware dedup: groups whose punctuation/case-blind
    fingerprint (functions/text.py:aggressive_fingerprint — lowercase,
    strip non-[a-z0-9\\s], collapse whitespace, md5) collides while the
    exact fingerprint differs — the canonical "same page, re-cased and
    re-punctuated" crawl duplicate class that exact dedup misses. The
    testdata corpus has no such variants (500/500 distinct), so the demo
    PLANTS them deterministically in-query (every 7th doc re-emitted
    uppercased with injected commas — the same fixture-in-query pattern
    as the LSH planted twins) and the oracle constructs the identical
    variant corpus. Scale shape: one projection computing both
    fingerprints in the same scan, one map-side-combinable groupBy on
    the normalized key — identical cost profile to `dedup_exact_groups`."""
    d = _t(spark, sf_dir, "documents")
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.upper(F.replace(F.col("text"), F.lit(" "), F.lit(" , "))).alias(
            "text"
        ),
    )
    uni = d.select("doc_id", "text").unionByName(variants)
    f = uni.select(
        "doc_id",
        TXT.fingerprint("text").alias("raw_fp"),
        TXT.aggressive_fingerprint("text").alias("norm_fp"),
    )
    return (
        f.groupBy("norm_fp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("raw_fp").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("rep_doc_id"),
        )
        .filter(F.col("n_raw_variants") > 1)
    )


@q(
    "skyline_orders",
    """
    WITH g AS (
      SELECT CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_kbucket,
             max(o_orderdate) AS max_date, count(*) AS n_orders
      FROM orders GROUP BY 1)
    SELECT price_kbucket, max_date, CAST(n_orders AS BIGINT) AS n_orders
    FROM g a
    WHERE NOT EXISTS (
      SELECT 1 FROM g b
      WHERE b.price_kbucket > a.price_kbucket AND b.max_date >= a.max_date)
    """,
)
def skyline_orders(spark, sf_dir):
    """Pareto frontier (skyline) of orders on (price, recency): the
    price-kilobucket/date points not dominated by any strictly-pricier
    bucket with an equal-or-later max date — the classic multi-criteria
    "best trade-offs" operator. Scale shape: the 100 TB fact scan
    collapses FIRST through a map-side-combinable groupBy(price bucket)
    — the only pass over the data — and the dominance test then runs as
    a broadcast nested-loop ANTI-join of the bucket-sized aggregate
    against itself (B ≈ distinct kilobuckets, so B² comparisons over a
    driver-negligible frame; the registry lint forbids the
    single-partition running-max window that would otherwise express
    this). At a truly huge bucket count the standard refinement is a
    coarse-partition local skyline first — same semantics, same
    anti-join on the survivors."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy(
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("price_kbucket")
    ).agg(
        F.max("o_orderdate").alias("max_date"),
        F.count("*").cast("long").alias("n_orders"),
    )
    a, b = g.alias("a"), g.alias("b")
    dominated = (
        F.col("b.price_kbucket") > F.col("a.price_kbucket")
    ) & (F.col("b.max_date") >= F.col("a.max_date"))
    return a.join(F.broadcast(b), dominated, "left_anti").select(
        F.col("a.price_kbucket").alias("price_kbucket"),
        F.col("a.max_date").alias("max_date"),
        F.col("a.n_orders").alias("n_orders"),
    )


_LR_BASE_SQL = (
    r"""WITH lab AS (
      SELECT doc_id AS id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             ("""
    + _md5_bucket_sql("doc_id")
    + r""") % 3 AS fold
      FROM documents),
    nn AS (SELECT count(*) AS n FROM documents),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
      FROM documents),
    tfq AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfr AS (SELECT token, count(*) AS df FROM tfq GROUP BY 1),
    hw AS (
      SELECT tfq.doc_id AS id,
             CAST('0x' || substring(md5(tfq.token), 1, 8) AS BIGINT) % 64
               AS bucket,
             tfq.tf * CAST(round(ln(CAST((SELECT n FROM nn) AS DOUBLE)
                                    / dfr.df) * 1000) AS BIGINT) AS w
      FROM tfq JOIN dfr USING (token)),
    v AS (SELECT id, bucket, CAST(sum(w) AS BIGINT) AS w
          FROM hw GROUP BY 1, 2),
    n1 AS (SELECT id, CAST(sum(w) AS BIGINT) AS n1 FROM v GROUP BY 1),
    x AS (SELECT v.id, v.bucket,
                 CAST(floor(v.w * 1000000.0 / greatest(n1.n1, 1))
                      AS BIGINT) AS x
          FROM v JOIN n1 USING (id))"""
)


def _lr_round_chain(sfx: str, lab_pred: str, rounds: int) -> str:
    """``rounds`` UNROLLED full-batch GD rounds over the lab subset
    selected by ``lab_pred`` — wt{sfx}{t}/bw{sfx}{t} hold the micro-nat
    weights/bias AFTER round t; every update is the identical IEEE
    expression the Spark driver evaluates (floor((64.0·g)/(1e4·n))).
    ``sfx`` namespaces the CTEs so k-fold CV can emit one chain per
    fold in a single statement."""
    parts = [
        f""",
    labt{sfx} AS (SELECT id, y FROM lab WHERE {lab_pred}),
    nnt{sfx} AS (SELECT count(*) AS n FROM labt{sfx}),
    wt{sfx}0 AS (SELECT t.b AS bucket, CAST(0 AS BIGINT) AS wm
            FROM generate_series(0, 63) t(b)),
    bw{sfx}0 AS (SELECT CAST(0 AS BIGINT) AS b)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
    z{sfx}{t} AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{sfx}{t - 1}) * 1000000
               AS zp
      FROM labt{sfx} l LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wt{sfx}{t - 1} w USING (bucket) GROUP BY 1) s
      USING (id)),
    p{sfx}{t} AS (
      SELECT id, y,
             CAST(round(10000.0 / (1.0 + exp(-round(
                    zp / 1000000000000.0, 6)))) AS BIGINT) AS p4
      FROM z{sfx}{t}),
    g{sfx}{t} AS (SELECT x.bucket,
                    CAST(sum((p.p4 - 10000 * p.y) * x.x) AS BIGINT) AS g
             FROM p{sfx}{t} p JOIN x USING (id) GROUP BY 1),
    gb{sfx}{t} AS (SELECT CAST(coalesce(sum(p4 - 10000 * y), 0) AS BIGINT)
                     AS g
              FROM p{sfx}{t}),
    wt{sfx}{t} AS (SELECT w.bucket,
                     CAST(w.wm - floor((64.0 * coalesce(g.g, 0))
                          / (10000.0 * (SELECT n FROM nnt{sfx})))
                          AS BIGINT) AS wm
              FROM wt{sfx}{t - 1} w LEFT JOIN g{sfx}{t} g USING (bucket)),
    bw{sfx}{t} AS (SELECT CAST((SELECT b FROM bw{sfx}{t - 1})
                     - floor((64.0 * 100.0 * (SELECT g FROM gb{sfx}{t}))
                             / (10000.0 * (SELECT n FROM nnt{sfx})))
                     AS BIGINT) AS b)"""
        )
    return "".join(parts)


def _lr_oracle_prefix(rounds: int = 3) -> str:
    """Base features + one full-corpus GD chain (empty suffix keeps the
    wt{t}/bw{t} names the train/calibration oracles reference)."""
    return _LR_BASE_SQL + _lr_round_chain("", "TRUE", rounds)


def _lr_train_oracle_sql(rounds: int = 3) -> str:
    steps = []
    for t in range(1, rounds + 1):
        steps.append(
            f"SELECT CAST({t} AS BIGINT) AS step,"
            f" CAST(bucket AS BIGINT) AS bucket, wm AS w_micro FROM wt{t}"
        )
        steps.append(
            f"SELECT CAST({t} AS BIGINT), CAST(-1 AS BIGINT),"
            f" (SELECT b FROM bw{t}) FROM bw{t}"
        )
    return (
        _lr_oracle_prefix(rounds)
        + "\n    "
        + "\n    UNION ALL ".join(steps)
    )


def _lr_calibration_oracle_sql(rounds: int = 3) -> str:
    r = rounds
    return (
        _lr_oracle_prefix(rounds)
        + f""",
    zf AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{r}) * 1000000 AS zp
      FROM lab l LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wt{r} w USING (bucket) GROUP BY 1) s USING (id)),
    pf AS (
      SELECT id, y,
             CAST(round(10000.0 / (1.0 + exp(-round(
                    zp / 1000000000000.0, 6)))) AS BIGINT) AS p4
      FROM zf)
    SELECT least(CAST(floor(p4 / 1000.0) AS BIGINT), 9) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p4) AS BIGINT) AS sum_p4,
           CAST(sum(y) AS BIGINT) AS n_pass
    FROM pf GROUP BY 1"""
    )


@q("quality_lr_train", _lr_train_oracle_sql(3))
def quality_lr_train(spark, sf_dir):
    """TRAIN the quality classifier in-engine: 3 full-batch logistic-
    regression rounds over L1-unit hashed-TF-IDF features (64 buckets,
    `pipeline/classifier.py`), positive label = the curated/target
    slice (the corpus's `lang='en'` partition) — the GPT-3/CCNet
    recipe: teach a cheap linear model to recognize 'looks like the
    trusted corpus' and score the whole crawl with it. Output is the
    full training TRAJECTORY: (step, bucket, w_micro) micro-nat weights
    after each round, bucket −1 = bias — every integer exactly replayed
    by the unrolled-CTE oracle and a numpy property test.

    Scale: per round ONE corpus scoring pass (literal 64-entry weight
    map in the projection — the model never joins or shuffles) + ONE
    64-key gradient aggregate + a ≤65-row bounded collect; the feature
    frame builds once and persists across rounds.

    Honesty note: this synthetic corpus has NO text↔label signal (all
    five langs draw from one 31-token vocabulary; a fully-converged
    float LR scores ≈ chance), so the registered contract is trajectory
    exactness and the distributed shape — on a real corpus the same
    code learns whatever signal exists."""
    from .pipeline import classifier as CL

    d = _t(spark, sf_dir, "documents")
    feats, labels = CL.quality_lr_features_and_labels(d, dim=64)
    traj, _, _ = CL.lr_train_from_features(feats, labels, 64, rounds=3)
    return spark.createDataFrame(
        traj, "step long, bucket long, w_micro long"
    )


def _lr_trained_model(spark, sf_dir) -> tuple[dict[int, int], int]:
    """The trained 3-round quality-LR model (64 micro-nat weights +
    bias) served from the per-corpus memo store — the "train once,
    deploy everywhere" shape: calibration, AUC, the threshold sweep and
    ECE all consume the SAME fit-once artifact instead of re-running
    the 3 GD rounds each (training is deterministic, so the memoized
    integers are bit-identical to an in-query train and every oracle —
    which replays training in SQL — still hash-matches). The model is
    65 integers: corpus-size-flat, a bounded collect by construction.
    `quality_lr_train`/`quality_lr_cv`/`streaming_quality_gate` keep
    training in-query — there the trajectory/fold-loop/deploy IS the
    registered operator."""
    from .pipeline import classifier as CL

    def build():
        d = _t(spark, sf_dir, "documents")
        feats, labels = CL.quality_lr_features_and_labels(d, dim=64)
        _, w, bias = CL.lr_train_from_features(feats, labels, 64, rounds=3)
        rows = [(int(b), int(v)) for b, v in sorted(w.items())]
        rows.append((-1, int(bias)))
        return spark.createDataFrame(rows, "bucket long, w_micro long")

    mrows = MEMO.dataframe_memo(
        spark, "lr_model_r3", sf_dir, ["documents"], build
    ).collect()  # <= 65 rows: bounded by construction
    w = {int(r["bucket"]): int(r["w_micro"]) for r in mrows if r["bucket"] >= 0}
    bias = next((int(r["w_micro"]) for r in mrows if r["bucket"] == -1), 0)
    return {b: w.get(b, 0) for b in range(64)}, bias


def _lr_scored_frame(spark, sf_dir):
    """The corpus scoring pass ITSELF served from the per-corpus memo
    store: (id, y, p4) — the ×1e4-frozen sigmoid under the memoized
    3-round model — persisted as parquet under the documents
    fingerprint (the IVF-layout/CC-labels precedent). Calibration, the
    AUC pair, the threshold sweep and ECE previously each re-ran the
    tokenize+hash+score pass after loading the 65-integer model; now
    all four read ONE settled frame, so the corpus is tokenized once
    per corpus version, not once per metric query. Scoring is
    deterministic (fixed IEEE expression over md5 hashing), so the
    memoized integers are bit-identical to an in-query pass and every
    oracle — which replays training AND scoring in SQL — still
    hash-matches. The frame is (n_docs × 3 longs): at 100 TB that is
    the cheap artifact, ~24 bytes/doc columnar."""
    from .pipeline import classifier as CL

    def build():
        d = _t(spark, sf_dir, "documents")
        feats, labels = CL.quality_lr_features_and_labels(d, dim=64)
        w, bias = _lr_trained_model(spark, sf_dir)
        return CL.lr_score(feats, labels, w, bias)

    return MEMO.dataframe_memo(
        spark, "lr_scored_r3", sf_dir, ["documents"], build
    )


@q("quality_lr_calibration", _lr_calibration_oracle_sql(3), memo=True)
def quality_lr_calibration(spark, sf_dir):
    """Close the loop `quality_calibration_bins` opened with a rule-based
    stand-in: score the WHOLE corpus with the in-engine-TRAINED
    classifier (`quality_lr_train`'s 3-round model) and bin predicted
    probability deciles against the observed positive rate of the true
    label — the reliability audit a pipeline owner runs before
    thresholding 100 TB on a freshly trained model. Accumulations are
    exact integers (p4 = frozen ×1e4 sigmoid, y as 0/1); the scored
    frame is served from the per-corpus memo (`_lr_scored_frame` —
    fit-once AND score-once), leaving one ≤10-key map-side-combinable
    groupBy as the query's own work."""
    scored = _lr_scored_frame(spark, sf_dir)
    return (
        scored.select(
            F.least(
                F.floor(F.col("p4") / F.lit(1000.0)).cast("long"), F.lit(9)
            ).alias("bin"),
            "p4",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("p4").cast("long").alias("sum_p4"),
            F.sum("y").cast("long").alias("n_pass"),
        )
    )


def _lr_cv_oracle_sql(folds: int = 3, rounds: int = 2) -> str:
    parts = [_LR_BASE_SQL]
    for f in range(folds):
        parts.append(_lr_round_chain(f"f{f}_", f"fold <> {f}", rounds))
        parts.append(
            f""",
    sc{f} AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0)
               + (SELECT b FROM bwf{f}_{rounds}) * 1000000 AS zp
      FROM (SELECT id, y FROM lab WHERE fold = {f}) l
      LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wtf{f}_{rounds} w USING (bucket) GROUP BY 1) s
      USING (id)),
    pc{f} AS (
      SELECT y, CAST(round(10000.0 / (1.0 + exp(-round(
               zp / 1000000000000.0, 6)))) AS BIGINT) AS p4
      FROM sc{f}),
    row{f} AS (
      SELECT CAST({f} AS BIGINT) AS fold,
             (SELECT CAST(n AS BIGINT) FROM nntf{f}_) AS n_train,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(coalesce(sum(CASE WHEN (CASE WHEN p4 >= 5000 THEN 1
                                          ELSE 0 END) = y
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_correct
      FROM pc{f})"""
        )
    sel = "\n    UNION ALL ".join(
        f"SELECT fold, n_train, n_test, n_correct,"
        f" CAST(CASE WHEN n_test = 0 THEN 0"
        f" ELSE floor(1e6 * n_correct / n_test + 0.5) END AS BIGINT)"
        f" AS acc_micro FROM row{f}"
        for f in range(folds)
    )
    return "".join(parts) + "\n    " + sel + "\n    ORDER BY fold"


def _lr_gate_oracle_sql(rounds: int = 3, threshold_p4: int = 4500) -> str:
    """Batch restatement of the WHOLE streaming quality gate: seed-frozen
    featurizer, ``rounds`` GD rounds on the seed, feed scored under the
    frozen (token→df, N) state, thresholded. The gate is stateless so
    the stream provably equals this batch statement — the hash match IS
    the batch==stream proof."""
    return (
        r"""WITH seed AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    nn AS (SELECT count(*) AS n FROM seed),
    tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS token
      FROM seed),
    tfq AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfr AS (SELECT token, count(*) AS df FROM tfq GROUP BY 1),
    hw AS (
      SELECT tfq.doc_id AS id,
             CAST('0x' || substring(md5(tfq.token), 1, 8) AS BIGINT) % 64
               AS bucket,
             tfq.tf * CAST(round(ln(CAST((SELECT n FROM nn) AS DOUBLE)
                                    / dfr.df) * 1000) AS BIGINT) AS w
      FROM tfq JOIN dfr USING (token)),
    v AS (SELECT id, bucket, CAST(sum(w) AS BIGINT) AS w
          FROM hw GROUP BY 1, 2),
    n1 AS (SELECT id, CAST(sum(w) AS BIGINT) AS n1 FROM v GROUP BY 1),
    x AS (SELECT v.id, v.bucket,
                 CAST(floor(v.w * 1000000.0 / greatest(n1.n1, 1))
                      AS BIGINT) AS x
          FROM v JOIN n1 USING (id)),
    lab AS (SELECT doc_id AS id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM seed)"""
        + _lr_round_chain("", "TRUE", rounds)
        + f""",
    tok_f AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS token
      FROM documents WHERE doc_id % 5 = 0),
    tfq_f AS (SELECT doc_id, token, count(*) AS tf FROM tok_f GROUP BY 1, 2),
    hw_f AS (
      SELECT tfq_f.doc_id AS id,
             CAST('0x' || substring(md5(tfq_f.token), 1, 8) AS BIGINT) % 64
               AS bucket,
             tfq_f.tf * CAST(round(ln(CAST((SELECT n FROM nn) AS DOUBLE)
                                      / dfr.df) * 1000) AS BIGINT) AS w
      FROM tfq_f JOIN dfr USING (token)),
    v_f AS (SELECT id, bucket, CAST(sum(w) AS BIGINT) AS w
            FROM hw_f GROUP BY 1, 2),
    n1_f AS (SELECT id, CAST(sum(w) AS BIGINT) AS n1 FROM v_f GROUP BY 1),
    x_f AS (SELECT v_f.id, v_f.bucket,
                   CAST(floor(v_f.w * 1000000.0 / greatest(n1_f.n1, 1))
                        AS BIGINT) AS x
            FROM v_f JOIN n1_f USING (id)),
    lab_f AS (SELECT doc_id AS id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents WHERE doc_id % 5 = 0),
    zf AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{rounds}) * 1000000 AS zp
      FROM lab_f l LEFT JOIN (
        SELECT x_f.id, CAST(sum(w.wm * x_f.x) AS BIGINT) AS zp
        FROM x_f JOIN wt{rounds} w USING (bucket) GROUP BY 1) s USING (id)),
    pf AS (
      SELECT id, y, CAST(round(10000.0 / (1.0 + exp(-round(
               zp / 1000000000000.0, 6)))) AS BIGINT) AS p4
      FROM zf)
    SELECT id AS doc_id, y, p4,
           CAST(CASE WHEN p4 >= {threshold_p4} THEN 1 ELSE 0 END AS BIGINT)
             AS passed
    FROM pf
    """
    )


@q(
    "streaming_quality_gate",
    _lr_gate_oracle_sql(3, 4500),
    memo=True,
    split=(_GATE_TIMINGS, "stream_startup_s", "stream_drain_s"),
)
def streaming_quality_gate(spark, sf_dir):
    """DEPLOY the trained quality classifier over a document STREAM —
    the missing half of `quality_lr_train`, and a real Structured
    Streaming run (availableNow, checkpointed, idempotent batch sink),
    not a batch stand-in: train 3 GD rounds on the seed (doc_id%5≠0),
    freeze the featurizer (the seed's token→df table + N — feed tokens
    unseen in the seed carry no weight, the honest deployed-OOV
    behavior), then gate the doc_id%5=0 feed through a stateless
    stream-static scoring pass at p4 ≥ 4500. The gate is stateless, so
    the DuckDB oracle restates the WHOLE pipeline — featurizer,
    training trajectory, feed scoring, threshold — and the hash match
    doubles as the batch==stream proof (streaming/quality_gate.py)."""
    from .sources.shared_text_layout import token_tf
    from .streaming.quality_gate import quality_gate_stream

    d = _t(spark, sf_dir, "documents")
    seed = d.filter(F.col("doc_id") % 5 != 0)
    feed = d.filter(F.col("doc_id") % 5 == 0)
    base = _scratch_dir("quality_gate")
    feed_dir = os.path.join(base, "feed")
    feed.repartition(4).write.mode("overwrite").parquet(feed_dir)
    # seed tf from the token-bucketed per-corpus layout (r14): the
    # train leg's tokenize scan is the layout build, paid once per
    # corpus (priced by the bench's cold-start memo accounting)
    seed_tf = token_tf(spark, sf_dir).filter(F.col("id") % 5 != 0)
    return quality_gate_stream(
        spark, seed, feed_dir, base, dim=64, rounds=3, threshold_p4=4500,
        tf=seed_tf,
    )


@q(
    "quality_lr_cv",
    _lr_cv_oracle_sql(3, 2),
    split=(LAST_CV_TIMINGS, "feature_build_s", "cv_folds_s"),
)
def quality_lr_cv(spark, sf_dir):
    """3-fold cross-validation of the quality classifier — the "does it
    GENERALIZE" audit before trusting the model on unseen crawl. Folds
    are deterministic md5 buckets (both engines and the oracle agree on
    the split); each fold trains 2 full-batch GD rounds on the other
    folds (pipeline/classifier.py:lr_cv_report — one job + one ≤65-row
    collect per round off ONE shared persisted feature frame) and
    scores its holdout in one map-side pass. Output per fold:
    (fold, n_train, n_test, n_correct, acc_micro) — exact integers, the
    oracle replays all three training trajectories AND the holdout
    confusions in one unrolled statement."""
    from .pipeline import classifier as CL
    from .pipeline.curation import md5_bucket
    from .pipeline.dedup import _persist

    d = _t(spark, sf_dir, "documents")
    feats, labels = CL.quality_lr_features_and_labels(d, dim=64)
    labels_f = d.select(
        F.col("doc_id").alias("id"),
        (F.col("lang") == "en").cast("long").alias("y"),
        (md5_bucket("doc_id", 100) % 3).cast("long").alias("fold"),
    )
    docfeats = _persist(
        CL.doc_feature_frame(feats, labels_f, keep_cols=("fold",))
    )
    return CL.lr_cv_report(docfeats, dim=64, folds=3, rounds=2)


def _auc_leg_sql(src: str, sfx: str) -> str:
    """Tie-corrected rank-sum ROC-AUC + step PR-AUC over a (y, s) CTE
    ``src`` — grouped scores, doubled integer midranks, micro-frozen
    block precisions, everything in HUGEINT (the oracle mirror of
    pipeline/evalmetrics.py). r_{sfx} ends with one row of exact
    integer sums; the final divisions live in the SELECT the caller
    assembles."""
    return f""",
    aug{sfx} AS (SELECT s, CAST(count(*) AS HUGEINT) AS cnt,
                        CAST(sum(y) AS HUGEINT) AS pos
                 FROM {src} GROUP BY 1),
    aut{sfx} AS (SELECT s, cnt, pos,
                        sum(cnt) OVER (ORDER BY s) AS cum_cnt,
                        sum(pos) OVER (ORDER BY s) AS cum_pos
                 FROM aug{sfx}),
    aua{sfx} AS (SELECT CAST(coalesce(sum(cnt), 0) AS HUGEINT) AS n,
                        CAST(coalesce(sum(pos), 0) AS HUGEINT) AS np
                 FROM aug{sfx}),
    aur{sfx} AS (
      SELECT a.np AS np, a.n - a.np AS nn,
             CAST(coalesce(sum(t.pos * (2 * (t.cum_cnt - t.cnt) + t.cnt
                   + 1)), 0) AS HUGEINT) AS r2,
             CAST(coalesce(sum(t.pos * ((2000000 * (a.np - t.cum_pos
                   + t.pos) + (a.n - t.cum_cnt + t.cnt))
                   // (2 * (a.n - t.cum_cnt + t.cnt)))), 0) AS HUGEINT)
               AS psum
      FROM aut{sfx} t, aua{sfx} a GROUP BY 1, 2)"""


def _auc_final_select(sfx: str, label: str) -> str:
    return f"""SELECT '{label}' AS scorer,
           CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CAST(CASE WHEN np = 0 OR nn = 0 THEN 0
                ELSE (1000000 * (r2 - np * (np + 1)) + np * nn)
                     // (2 * np * nn) END AS BIGINT) AS roc_auc_micro,
           CAST(CASE WHEN np = 0 THEN 0
                ELSE (2 * psum + np) // (2 * np) END AS BIGINT)
             AS pr_auc_micro
    FROM aur{sfx}"""


def _lr_auc_oracle_sql(rounds: int = 3) -> str:
    r = rounds
    return (
        _lr_oracle_prefix(rounds)
        + f""",
    zf AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{r}) * 1000000 AS zp
      FROM lab l LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wt{r} w USING (bucket) GROUP BY 1) s USING (id)),
    lr_sc AS (
      SELECT y, CAST(round(10000.0 / (1.0 + exp(-round(
               zp / 1000000000000.0, 6)))) AS BIGINT) AS s
      FROM zf),
    """
        + _QM_FEATURES_SQL.strip().lstrip()
        + r""",
    rule_sc AS (
      SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(round(round(1.0 / (1.0 + exp(-round(-1.0
                  + 2.5 * least(f.n_tokens / 100.0, 1.0)
                  + 0.15 * f.avg_token_len - 4.0 * f.punct_ratio
                  - 2.0 * f.upper_ratio - 3.0 * f.digit_ratio, 6))), 4)
                  * 10000) AS BIGINT) AS s
      FROM feats f JOIN documents d USING (doc_id))"""
        + _auc_leg_sql("lr_sc", "_lr")
        + _auc_leg_sql("rule_sc", "_ru")
        + "\n    "
        + _auc_final_select("_lr", "lr")
        + "\n    UNION ALL "
        + _auc_final_select("_ru", "rule")
    )


@q("quality_lr_auc", _lr_auc_oracle_sql(3), memo=True)
def quality_lr_auc(spark, sf_dir):
    """Close the classifier evaluation loop with exact ROC-AUC and
    PR-AUC — the one number a 100 TB quality-gate decision is made on —
    for BOTH the in-engine-TRAINED logistic model (`quality_lr_train`'s
    3-round weights) and the rule-based gate (`quality_score_model`'s
    frozen linear logit), side by side. ROC-AUC is the Mann-Whitney
    rank-sum with integer midranks (ties exact by construction — the
    ×1e4-frozen scores collide constantly); PR-AUC is step average
    precision with micro-frozen block precisions
    (pipeline/evalmetrics.py).

    Scale shape: per scorer ONE map-side-combinable groupBy(score)
    bounds the frame at the score domain (≤10001 rows); the whole AUC
    tail is then a bounded collect + exact Python-bigint fold
    (pipeline/evalmetrics.py — optimization r13: the former
    running-totals pass cost 4 extra jobs per leg over that ≤10001-row
    frame), and the two scorer legs run CONCURRENTLY from a driver
    thread pool (guide §2.6 — the memo-read lr leg and the
    featurize-scan rule leg are independent). The DuckDB oracle replays
    training, both scorers, midranks, and the round-half-up divisions
    in HUGEINT and hash-matches.

    Honesty note (same as `quality_lr_train`): this synthetic corpus
    has no text↔label signal, so BOTH scorers sit near 0.5 ROC-AUC —
    the registered contract is metric exactness, not model skill."""
    from concurrent.futures import ThreadPoolExecutor

    from .pipeline.evalmetrics import rank_auc_report

    d = _t(spark, sf_dir, "documents")
    lr_scored = _lr_scored_frame(spark, sf_dir).select(
        "y", F.col("p4").alias("s")
    )
    # the rule leg needs only the label (lang == 'en'), never the
    # hashed-TF-IDF features — label is a plain projection off documents
    labels = d.select(
        F.col("doc_id").alias("id"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    rule_scored = (
        TXT.quality_score_model(d)
        .select(
            F.col("doc_id").alias("id"),
            F.round(F.col("quality_prob") * 10000).cast("long").alias("s"),
        )
        .join(labels, "id")
        .select("y", "s")
    )
    legs = [("lr", lr_scored), ("rule", rule_scored)]
    with ThreadPoolExecutor(max_workers=2) as pool:
        reports = list(
            pool.map(lambda leg: rank_auc_report(leg[1], "s", "y"), legs)
        )
    rows = [
        (name, np_, nn, roc, pr)
        for (name, _), (np_, nn, roc, pr) in zip(legs, reports)
    ]
    return spark.createDataFrame(
        rows,
        "scorer string, n_pos long, n_neg long,"
        " roc_auc_micro long, pr_auc_micro long",
    )


def _lr_threshold_oracle_sql(rounds: int = 3, step: int = 500) -> str:
    r = rounds
    return (
        _lr_oracle_prefix(rounds)
        + f""",
    zf AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{r}) * 1000000 AS zp
      FROM lab l LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wt{r} w USING (bucket) GROUP BY 1) s USING (id)),
    pf AS (
      SELECT y, CAST(round(10000.0 / (1.0 + exp(-round(
               zp / 1000000000000.0, 6)))) AS BIGINT) AS s
      FROM zf),
    sg AS (SELECT s, CAST(count(*) AS HUGEINT) AS cnt,
                  CAST(sum(y) AS HUGEINT) AS pos
           FROM pf GROUP BY 1),
    tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS HUGEINT) AS n,
                   CAST(coalesce(sum(pos), 0) AS HUGEINT) AS np
            FROM sg),
    th AS (SELECT CAST(t.t AS BIGINT) AS threshold
           FROM generate_series(0, 10000, {step}) t(t)),
    pt AS (SELECT th.threshold,
                  CAST(coalesce(sum(sg.pos), 0) AS HUGEINT) AS tp,
                  CAST(coalesce(sum(sg.cnt), 0) AS HUGEINT) AS pp
           FROM th LEFT JOIN sg ON sg.s >= th.threshold GROUP BY 1)
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(pp - tp AS BIGINT) AS fp,
           CAST(np - tp AS BIGINT) AS fn,
           CAST((n - np) - (pp - tp) AS BIGINT) AS tn,
           CAST(CASE WHEN pp = 0 THEN 0
                ELSE (2000000 * tp + pp) // (2 * pp) END AS BIGINT)
             AS prec_micro,
           CAST(CASE WHEN np = 0 THEN 0
                ELSE (2000000 * tp + np) // (2 * np) END AS BIGINT)
             AS rec_micro,
           CAST(CASE WHEN (2 * tp + (pp - tp) + (np - tp)) = 0 THEN 0
                ELSE (4000000 * tp + (2 * tp + (pp - tp) + (np - tp)))
                     // (2 * (2 * tp + (pp - tp) + (np - tp))) END
                AS BIGINT) AS f1_micro
    FROM pt, tot"""
    )


@q("quality_lr_threshold_sweep", _lr_threshold_oracle_sql(3, 500), memo=True)
def quality_lr_threshold_sweep(spark, sf_dir):
    """Pick the OPERATING POINT: confusion counts and exact-integer
    precision/recall/F1 for the trained quality classifier at every
    gate threshold (0..10000 step 500) — the table a pipeline owner
    reads after `quality_lr_auc` says the ranking is usable, to choose
    where to cut 100 TB. Scale shape: ONE map-side groupBy(score)
    bounds the corpus at the score domain (≤10001 rows); the sweep is
    then a broadcast range join of 21 threshold rows against that
    bounded frame — per-threshold counts NEVER rescan the corpus. All
    ratios are round-half-up bigint divisions (DECIMAL(38,0)-guarded),
    so the DuckDB oracle replays training + sweep and hash-matches.
    The scored frame is memo-served (`_lr_scored_frame`)."""
    scored = _lr_scored_frame(spark, sf_dir)
    g = scored.groupBy(F.col("p4").alias("s")).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("np"),
    )
    th = spark.range(0, 10001, 500).select(F.col("id").alias("threshold"))
    pt = (
        th.join(F.broadcast(g), F.col("s") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("tp"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("pp"),
        )
    )
    # decimal-FIRST products: CAST(lit AS DECIMAL(38,0)) * col — never
    # multiply in int64 and cast after (the aqp_sampled_revenue lesson)
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    d4m = "CAST(4000000 AS DECIMAL(38,0))"
    return pt.crossJoin(F.broadcast(tot)).select(
        "threshold",
        F.col("tp"),
        (F.col("pp") - F.col("tp")).alias("fp"),
        (F.col("np") - F.col("tp")).alias("fn"),
        ((F.col("n") - F.col("np")) - (F.col("pp") - F.col("tp"))).alias(
            "tn"
        ),
        F.expr(
            f"CASE WHEN pp = 0 THEN 0 ELSE ({d2m} * tp + pp)"
            f" div ({d2} * pp) END"
        ).alias("prec_micro"),
        F.expr(
            f"CASE WHEN np = 0 THEN 0 ELSE ({d2m} * tp + np)"
            f" div ({d2} * np) END"
        ).alias("rec_micro"),
        F.expr(
            "CASE WHEN (2 * tp + (pp - tp) + (np - tp)) = 0 THEN 0 ELSE"
            f" ({d4m} * tp + (2 * tp + (pp - tp) + (np - tp)))"
            f" div ({d2} * (2 * tp + (pp - tp) + (np - tp))) END"
        ).alias("f1_micro"),
    )


@q(
    "ann_mutual_knn_blocking_recall",
    f"""
    WITH s AS (
      SELECT vec_id, {_BINARY_PACK_DUCK} AS w FROM embeddings),
    a AS (SELECT vec_id AS id_a, w AS wa FROM s WHERE vec_id % 2 = 0),
    b AS (SELECT vec_id AS id_b, w AS wb FROM s WHERE vec_id % 2 = 1),
    fwd AS (
      SELECT a.id_a, b.id_b, bit_count(xor(a.wa, b.wb)) AS hamming,
             row_number() OVER (
               PARTITION BY a.id_a
               ORDER BY bit_count(xor(a.wa, b.wb)) ASC, b.id_b) AS rank_ab,
             row_number() OVER (
               PARTITION BY b.id_b
               ORDER BY bit_count(xor(a.wa, b.wb)) ASC, a.id_a) AS rank_ba
      FROM a, b),
    exact AS (SELECT id_a, id_b FROM fwd
              WHERE rank_ab <= 5 AND rank_ba <= 5),
    ab AS (SELECT id_a, wa, t.band,
                  (wa >> CAST(t.band * 16 AS INTEGER)) & 65535 AS key
           FROM a, generate_series(0, 3) t(band)),
    bb AS (SELECT id_b, wb, t.band,
                  (wb >> CAST(t.band * 16 AS INTEGER)) & 65535 AS key
           FROM b, generate_series(0, 3) t(band)),
    cand AS (SELECT DISTINCT id_a, id_b, wa, wb
             FROM ab JOIN bb USING (band, key)),
    cr AS (SELECT id_a, id_b,
                  row_number() OVER (
                    PARTITION BY id_a
                    ORDER BY bit_count(xor(wa, wb)) ASC, id_b) AS rank_ab,
                  row_number() OVER (
                    PARTITION BY id_b
                    ORDER BY bit_count(xor(wa, wb)) ASC, id_a) AS rank_ba
           FROM cand),
    bucketed AS (SELECT id_a, id_b FROM cr
                 WHERE rank_ab <= 5 AND rank_ba <= 5),
    agg AS (SELECT
        (SELECT CAST(count(*) AS HUGEINT) FROM exact) AS n_exact,
        (SELECT CAST(count(*) AS HUGEINT) FROM bucketed) AS n_bucketed,
        (SELECT CAST(count(*) AS HUGEINT)
         FROM exact JOIN bucketed USING (id_a, id_b)) AS n_common)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_bucketed AS BIGINT) AS n_bucketed,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN n_exact = 0 THEN 0
                ELSE (2000000 * n_common + n_exact) // (2 * n_exact) END
                AS BIGINT) AS recall_micro,
           CAST(CASE WHEN n_bucketed = 0 THEN 0
                ELSE (2000000 * n_common + n_bucketed) // (2 * n_bucketed)
                END AS BIGINT) AS precision_micro
    FROM agg
    """,
)
def ann_mutual_knn_blocking_recall(spark, sf_dir):
    """Blocking-quality audit ON THE REAL CORPUS: the banded-blocking
    scale twin's mutual-pair set measured against the exact all-pairs
    truth — pair recall and precision as round-half-up micro integers.
    This is `minhash_pr_eval`'s pattern applied to the Hamming-space
    miner: the truth leg is DELIBERATELY quadratic — it exists to audit
    the scale path — so beyond `_BLOCKING_TRUTH_CAP` query points the
    audit runs on a SAMPLED SLICE of the a-side (deterministic md5
    modulus, the `aqp_sampled_revenue` idiom): both legs consume the
    SAME slice, so recall/precision remain an apples-to-apples estimate
    of the full audit, and the exact leg's cost is capped at
    cap × |B| — linear in the corpus, never quadratic. At sf0.01 (the
    oracle gate: 250 a-points) and sf0.1 (bench: 1000) the cap keeps
    FULL truth, so the DuckDB oracle hash is exact, not sampled. Both
    legs and the division are deterministic, so the audit carries a
    full oracle."""
    from .pipeline.curation import md5_bucket

    emb = _t(spark, sf_dir, "embeddings")
    a_side = emb.filter(F.col("vec_id") % 2 == 0)
    b_side = emb.filter(F.col("vec_id") % 2 == 1)
    n_a = a_side.count()
    if n_a > _BLOCKING_TRUTH_CAP:
        mod = -(-n_a // _BLOCKING_TRUTH_CAP)  # ceil: expected ~cap kept
        a_side = a_side.filter(md5_bucket("vec_id", mod) == 0)
    exact = SIM.mutual_knn_hamming(a_side, b_side, k=5).select(
        "id_a", "id_b", F.lit(1).alias("in_e")
    )
    buck = SIM.mutual_knn_hamming_bucketed(
        a_side, b_side, k=5, bands=4
    ).select("id_a", "id_b", F.lit(1).alias("in_b"))
    j = exact.join(buck, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("in_e"), F.lit(0)).cast("long").alias("n_exact"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("n_bucketed"),
        F.coalesce(F.sum(F.col("in_e") * F.col("in_b")), F.lit(0))
        .cast("long")
        .alias("n_common"),
    )
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    return agg.select(
        "n_exact",
        "n_bucketed",
        "n_common",
        F.expr(
            "CASE WHEN n_exact = 0 THEN 0 ELSE"
            f" ({d2m} * n_common + n_exact)"
            f" div ({d2} * n_exact) END"
        ).alias("recall_micro"),
        F.expr(
            "CASE WHEN n_bucketed = 0 THEN 0 ELSE"
            f" ({d2m} * n_common + n_bucketed)"
            f" div ({d2} * n_bucketed) END"
        ).alias("precision_micro"),
    )


def _lr_final_scores_cte(rounds: int) -> str:
    """zf/pf CTE block: (id, y, p4) under the trained round-``rounds``
    model — shared by the ECE oracle (calibration/AUC oracles predate
    the helper and keep their inline copies)."""
    r = rounds
    return f""",
    zf AS (
      SELECT l.id, l.y,
             coalesce(s.zp, 0) + (SELECT b FROM bw{r}) * 1000000 AS zp
      FROM lab l LEFT JOIN (
        SELECT x.id, CAST(sum(w.wm * x.x) AS BIGINT) AS zp
        FROM x JOIN wt{r} w USING (bucket) GROUP BY 1) s USING (id)),
    pf AS (
      SELECT id, y, CAST(round(10000.0 / (1.0 + exp(-round(
               zp / 1000000000000.0, 6)))) AS BIGINT) AS p4
      FROM zf)"""


def _lr_ece_oracle_sql(rounds: int = 3) -> str:
    return (
        _lr_oracle_prefix(rounds)
        + _lr_final_scores_cte(rounds)
        + """,
    bins AS (
      SELECT least(CAST(floor(p4 / 1000.0) AS BIGINT), 9) AS bin,
             CAST(count(*) AS HUGEINT) AS n_b,
             CAST(sum(p4) AS HUGEINT) AS sum_p4,
             CAST(sum(y) AS HUGEINT) AS pos_b
      FROM pf GROUP BY 1),
    tot AS (SELECT CAST(coalesce(sum(n_b), 0) AS HUGEINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_bins
            FROM bins),
    terms AS (
      SELECT abs(100 * sum_p4 - 1000000 * pos_b) AS gap_num, n_b
      FROM bins)
    SELECT CAST(n AS BIGINT) AS n_docs, n_bins,
           CAST(CASE WHEN n = 0 THEN 0 ELSE
                (2 * (SELECT CAST(coalesce(sum(gap_num), 0) AS HUGEINT)
                      FROM terms) + n) // (2 * n) END AS BIGINT)
             AS ece_micro,
           CAST(coalesce((SELECT max((2 * gap_num + n_b) // (2 * n_b))
                          FROM terms), 0) AS BIGINT) AS mce_micro
    FROM tot"""
    )


@q("quality_lr_ece", _lr_ece_oracle_sql(3), memo=True)
def quality_lr_ece(spark, sf_dir):
    """Expected Calibration Error — the ONE number read off the decile
    reliability table (`quality_lr_calibration`): ECE = Σ_b (n_b/n) ·
    |confidence_b − accuracy_b| plus MCE (the worst bin), both exact
    round-half-up micro integers. The per-bin divisions cancel
    algebraically — each bin's weighted gap is |100·Σp4 − 1e6·pos| / n,
    so the whole statistic is ONE integer numerator sum and ONE final
    bigint division (no per-bin FP). Scale shape: one corpus scoring
    pass into a ≤10-key map-side-combinable groupBy; everything after
    is bin-sized. The oracle replays training + binning + both
    divisions in HUGEINT and hash-matches. The scored frame is
    memo-served (`_lr_scored_frame`); on an EMPTY corpus every
    aggregate coalesces to 0 so the (0, 0, 0, 0) row matches the
    oracle's coalesced sums."""
    scored = _lr_scored_frame(spark, sf_dir)
    bins = (
        scored.select(
            F.least(
                F.floor(F.col("p4") / F.lit(1000.0)).cast("long"), F.lit(9)
            ).alias("bin"),
            "p4",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_b"),
            F.sum("p4").cast("long").alias("sum_p4"),
            F.sum("y").cast("long").alias("pos_b"),
        )
    )
    d100 = "CAST(100 AS DECIMAL(38,0))"
    d1m = "CAST(1000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    terms = bins.select(
        F.expr(f"abs({d100} * sum_p4 - {d1m} * pos_b)").alias("gap_num"),
        "n_b",
    )
    agg = terms.agg(
        # coalesce: sum over an EMPTY frame is NULL, which would slip
        # past the n_docs = 0 guard below (the oracle's coalesced sums
        # return 0); ADVICE r12
        F.coalesce(F.sum(F.col("n_b")), F.lit(0)).cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_bins"),
        F.coalesce(
            F.sum("gap_num").cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("gap_sum"),
        F.max(
            F.expr(f"({d2} * gap_num + n_b) div ({d2} * n_b)")
        ).alias("mce_micro"),
    )
    return agg.select(
        "n_docs",
        "n_bins",
        F.expr(
            f"CASE WHEN n_docs = 0 THEN 0 ELSE ({d2} * gap_sum + n_docs)"
            f" div ({d2} * n_docs) END"
        ).alias("ece_micro"),
        F.coalesce(F.col("mce_micro"), F.lit(0))
        .cast("long")
        .alias("mce_micro"),
    )


def _lang_eval_oracle_sql() -> str:
    scores = ", ".join(
        f"{_lang_score_sql(lang, sw)} AS s_{lang}"
        for lang, sw in sorted(TXT.LANG_STOPWORDS.items())
    )
    best = ", ".join(
        f"{_lang_score_sql(lang, sw)}"
        for lang, sw in sorted(TXT.LANG_STOPWORDS.items())
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS lang_true, {scores},
             greatest({best}) AS best
      FROM documents),
    pred AS (
      SELECT doc_id, lang_true,
             CASE {_LANG_CASE} ELSE 'und' END AS lang_pred
      FROM scored),
    cm AS (SELECT lang_true, lang_pred,
                  CAST(count(*) AS HUGEINT) AS n
           FROM pred GROUP BY 1, 2),
    classes AS (SELECT DISTINCT lang_true AS lang FROM cm
                UNION SELECT DISTINCT lang_pred FROM cm),
    stats AS (
      SELECT c.lang,
             CAST(coalesce((SELECT sum(n) FROM cm
                            WHERE lang_true = c.lang), 0) AS HUGEINT)
               AS n_true,
             CAST(coalesce((SELECT sum(n) FROM cm
                            WHERE lang_pred = c.lang), 0) AS HUGEINT)
               AS n_pred,
             CAST(coalesce((SELECT sum(n) FROM cm
                            WHERE lang_true = c.lang
                              AND lang_pred = c.lang), 0) AS HUGEINT)
               AS tp
      FROM classes c)
    SELECT lang, CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           CAST(CASE WHEN n_pred = 0 THEN 0
                ELSE (2000000 * tp + n_pred) // (2 * n_pred) END AS BIGINT)
             AS prec_micro,
           CAST(CASE WHEN n_true = 0 THEN 0
                ELSE (2000000 * tp + n_true) // (2 * n_true) END AS BIGINT)
             AS rec_micro,
           CAST(CASE WHEN (n_pred + n_true) = 0 THEN 0
                ELSE (4000000 * tp + (n_pred + n_true))
                     // (2 * (n_pred + n_true)) END AS BIGINT) AS f1_micro
    FROM stats"""


@q("lang_id_eval", _lang_eval_oracle_sql())
def lang_id_eval(spark, sf_dir):
    """Close the evaluation loop for the OTHER classifier in the engine:
    per-class precision/recall/F1 of the stopword-overlap language-ID
    heuristic against the corpus's true `lang` column (the 'und'
    rejection class included — its recall is 0 by construction since no
    document is truly unidentifiable). Same exact-integer discipline as
    `quality_lr_threshold_sweep`: the corpus collapses through ONE
    (true, pred) groupBy (≤ L² rows for L languages), per-class counts
    come from that bounded confusion frame, and every ratio is a
    round-half-up bigint division — full oracle, hash-match.

    Scale note: pred and truth ride one documents scan each side of a
    doc_id-keyed join; at 100 TB fold the truth column into the scoring
    projection to make it one scan (the join is kept here so the
    registered query composes the UNMODIFIED `lang_id` operator)."""
    d = _t(spark, sf_dir, "documents")
    pred = TXT.lang_id(d).select("doc_id", "lang_pred")
    truth = d.select("doc_id", F.col("lang").alias("lang_true"))
    cm = (
        pred.join(truth, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )
    cm = DD._persist(cm)
    classes = (
        cm.select(F.col("lang_true").alias("lang"))
        .union(cm.select("lang_pred"))
        .distinct()
    )
    n_true = cm.groupBy(F.col("lang_true").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_true")
    )
    n_pred = cm.groupBy(F.col("lang_pred").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    tp = (
        cm.filter(F.col("lang_true") == F.col("lang_pred"))
        .select(F.col("lang_true").alias("lang"), F.col("n").alias("tp"))
    )
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d4m = "CAST(4000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    out = (
        classes.join(n_true, "lang", "left")
        .join(n_pred, "lang", "left")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    return out.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        F.expr(
            f"CASE WHEN n_pred = 0 THEN 0 ELSE ({d2m} * tp + n_pred)"
            f" div ({d2} * n_pred) END"
        ).alias("prec_micro"),
        F.expr(
            f"CASE WHEN n_true = 0 THEN 0 ELSE ({d2m} * tp + n_true)"
            f" div ({d2} * n_true) END"
        ).alias("rec_micro"),
        F.expr(
            f"CASE WHEN (n_pred + n_true) = 0 THEN 0 ELSE"
            f" ({d4m} * tp + (n_pred + n_true))"
            f" div ({d2} * (n_pred + n_true)) END"
        ).alias("f1_micro"),
    )


@q(
    "streaming_drift_psi",
    "WITH "
    + _QM_FEATURES_SQL
    + r"""
    , m AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-round(-1.0
                   + 2.5 * least(n_tokens / 100.0, 1.0)
                   + 0.15 * avg_token_len - 4.0 * punct_ratio
                   - 2.0 * upper_ratio - 3.0 * digit_ratio, 6))), 4)
               AS quality_prob
      FROM feats),
    binned AS (
      SELECT doc_id,
             least(CAST(floor(quality_prob * 10) AS BIGINT), 9) AS bin
      FROM m),
    cr AS (SELECT bin, count(*) AS cnt FROM binned
           WHERE doc_id % 5 <> 0 GROUP BY 1),
    cf AS (SELECT bin, count(*) AS cnt FROM binned
           WHERE doc_id % 5 = 0 GROUP BY 1),
    grid AS (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS bin),
    s AS (SELECT grid.bin,
                 coalesce(cr.cnt, 0) + 1 AS c1r,
                 coalesce(cf.cnt, 0) + 1 AS c1f
          FROM grid LEFT JOIN cr USING (bin) LEFT JOIN cf USING (bin)),
    t AS (SELECT sum(c1r) AS tr, sum(c1f) AS tf FROM s),
    p AS (SELECT bin, c1r, c1f,
                 CAST(c1r AS DOUBLE) / t.tr AS pr,
                 CAST(c1f AS DOUBLE) / t.tf AS pf
          FROM s, t)
    SELECT bin,
           CAST(c1r - 1 AS BIGINT) AS cnt_ref,
           CAST(c1f - 1 AS BIGINT) AS cnt_feed,
           CAST(round((pr - pf) * ln(pr / pf) * 1000000) AS BIGINT)
             AS psi_term_micro
    FROM p
    """,
)
def streaming_drift_psi(spark, sf_dir):
    """Deploy-time DRIFT MONITOR as a real Structured Streaming run —
    the retrain trigger next to the quality gate: freeze the training
    slice's (doc_id%5≠0) quality-score decile histogram, stream the
    feed (doc_id%5=0, availableNow, checkpointed) through a per-batch
    ≤10-key decile count landed via the idempotent sink, then finalize
    PSI over the summed partials against the frozen reference. The
    per-batch partials make the REGISTERED result independent of
    micro-batch boundaries, so the DuckDB oracle restates the whole
    thing in batch SQL and hash-matches — the second fully
    oracle-checked streaming op (`streaming_quality_gate` precedent);
    PSI terms use `psi_drift_sources`' frozen integer-micro
    discipline. Sink state is O(batches × 10) rows at ANY feed size
    (streaming/drift_monitor.py)."""
    from .streaming.drift_monitor import drift_psi_stream

    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 5 != 0)
    feed = d.filter(F.col("doc_id") % 5 == 0)
    base = _scratch_dir("drift_psi")
    feed_dir = os.path.join(base, "feed")
    feed.repartition(4).write.mode("overwrite").parquet(feed_dir)
    return drift_psi_stream(spark, ref, feed_dir, base)


@q(
    "weighted_sample_tokens",
    r"""
    WITH w AS (
      SELECT doc_id,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                  END AS BIGINT) AS n_tokens,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(round(ln((h + 1.0) / 281474976710656.0)
                      / greatest(n_tokens, 1) * 1000) AS BIGINT)
             AS es_key_milli
    FROM w WHERE n_tokens > 0
    ORDER BY es_key_milli DESC, doc_id LIMIT 100
    """,
)
def weighted_sample_tokens(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis): 100 documents drawn proportional to token
    count — the "sample big docs more" pull every mixture/debug
    workflow needs, reproducible across engines, retries and
    repartitionings because the randomness is the md5-uniform of the
    id and the u^(1/w) key is compared in milli-nat log space
    (pipeline/curation.py:weighted_sample_es). ONE codegen projection
    + a global top-k (TakeOrdered: per-partition heaps) — the same
    cost as any top-k at 100 TB; full oracle restates key and
    selection."""
    from .pipeline.curation import weighted_sample_es

    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", TXT.token_count(F.col("text")).cast("long").alias("n_tokens"))
    return weighted_sample_es(w, "n_tokens", k=100).select(
        "doc_id", "n_tokens", "es_key_milli"
    )


@q(
    "curriculum_schedule",
    "WITH "
    + _QM_FEATURES_SQL
    + r"""
    , m AS (
      SELECT doc_id,
             CAST(round(round(1.0 / (1.0 + exp(-round(-1.0
                   + 2.5 * least(n_tokens / 100.0, 1.0)
                   + 0.15 * avg_token_len - 4.0 * punct_ratio
                   - 2.0 * upper_ratio - 3.0 * digit_ratio, 6))), 4)
                   * 10000) AS BIGINT) AS q4
      FROM feats),
    r AS (SELECT doc_id, q4,
                 row_number() OVER (ORDER BY q4 DESC, doc_id) AS pos,
                 count(*) OVER () AS n
          FROM m)
    SELECT doc_id, q4, CAST(pos AS BIGINT) AS pos,
           CAST((4 * (pos - 1)) // n AS BIGINT) AS phase
    FROM r
    """,
)
def curriculum_schedule(spark, sf_dir):
    """Curriculum ordering of the WHOLE corpus: every document gets its
    global training position by quality score (best first, id
    tiebreak) plus a 4-phase bucket — the easy-to-hard schedule a
    curriculum-trained run consumes. The global rank is the
    two-phase range-partition primitive at DOC granularity
    (`operators/cumulative.py:running_totals` — range buckets, ONE
    constant-size offset exchange, per-partition window; the registry
    lint forbids the single-partition row_number this would otherwise
    be), so the plan sorts 100 TB the way a distributed sort should.
    Exact integers end to end (×1e4-frozen score, bigint phase
    division); the oracle restates scoring, rank and phase."""
    from .operators.cumulative import running_totals

    d = _t(spark, sf_dir, "documents")
    m = TXT.quality_score_model(d).select(
        "doc_id",
        F.round(F.col("quality_prob") * 10000).cast("long").alias("q4"),
    )
    ranked = running_totals(
        m.withColumn("_one", F.lit(1).cast("long")),
        [F.col("q4").desc(), F.col("doc_id")],
        [("_one", "pos")],
    )
    tot = m.agg(F.count("*").cast("long").alias("n"))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "q4",
        "pos",
        F.expr("(4 * (pos - 1)) div n").alias("phase"),
    )


@q(
    "ks_length_drift",
    r"""
    WITH toks AS (
      SELECT CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                  END AS BIGINT) AS v,
             coalesce(TRY_CAST(regexp_extract(source, '(\d+)', 1)
                               AS BIGINT), 0) % 2 AS grp
      FROM documents),
    g AS (SELECT v,
                 CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS HUGEINT)
                   AS c1,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                   AS c2
          FROM toks GROUP BY 1),
    rt AS (SELECT v, sum(c1) OVER (ORDER BY v) AS cum1,
                  sum(c2) OVER (ORDER BY v) AS cum2
           FROM g),
    tot AS (SELECT CAST(coalesce(sum(c1), 0) AS HUGEINT) AS n1,
                   CAST(coalesce(sum(c2), 0) AS HUGEINT) AS n2
            FROM g),
    nums AS (SELECT rt.v,
                    abs(rt.cum1 * t.n2 - rt.cum2 * t.n1) AS num
             FROM rt, tot t),
    mx AS (SELECT max(num) AS mnum FROM nums)
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           CAST(CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN 0
                ELSE (2000000 * m.mnum + t.n1 * t.n2)
                     // (2 * t.n1 * t.n2) END AS BIGINT) AS ks_micro,
           CAST((SELECT min(v) FROM nums WHERE num = m.mnum) AS BIGINT)
             AS ks_at_value
    FROM tot t, mx m
    """,
)
def ks_length_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift test on the document-length
    distribution between the even and odd source cohorts — the
    distribution-free "did the new crawl slice change shape"
    companion to the binned PSI (which can miss within-bin shifts).
    EXACT: KS = max_v |F1(v) − F2(v)| = max_v |cum1·n2 − cum2·n1| /
    (n1·n2), so the whole statistic is integer numerators with ONE
    final round-half-up bigint division; `ks_at_value` reports the
    (smallest) length where the gap peaks. Scale shape: the corpus
    collapses through ONE map-side-combinable groupBy(length); both
    cohorts' cumulative legs share ONE two-phase range-partitioned
    running-totals pass (operators/cumulative.py — the AUC machinery
    reused); everything after is length-domain-bounded."""
    from .operators.cumulative import running_totals

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        TXT.token_count(F.col("text")).cast("long").alias("v"),
        (
            F.coalesce(
                F.regexp_extract(F.col("source"), r"(\d+)", 1).try_cast(
                    "long"
                ),
                F.lit(0),
            )
            % 2
        ).alias("grp"),
    )
    g = DD._persist(
        toks.groupBy("v").agg(
            F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("c1"),
            F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("c2"),
        )
    )
    rt = running_totals(g, ["v"], [("c1", "cum1"), ("c2", "cum2")])
    tot = g.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    nums = rt.crossJoin(F.broadcast(tot)).select(
        "v",
        F.expr(
            f"abs({dec.format('cum1')} * n2 - {dec.format('cum2')} * n1)"
        ).alias("num"),
    )
    agg = nums.agg(F.max("num").alias("mnum"))
    at = (
        nums.crossJoin(F.broadcast(agg))
        .filter(F.col("num") == F.col("mnum"))
        .agg(F.min("v").cast("long").alias("ks_at_value"))
    )
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    return (
        tot.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(at))
        .select(
            "n1",
            "n2",
            F.expr(
                f"CASE WHEN n1 = 0 OR n2 = 0 THEN 0 ELSE"
                f" ({d2m} * mnum + {dec.format('n1')} * n2)"
                f" div ({d2} * n1 * n2) END"
            ).alias("ks_micro"),
            "ks_at_value",
        )
    )


@q(
    "source_overlap_matrix",
    r"""
    WITH toks AS (
      SELECT source,
             string_split_regex(trim(lower(text)), '\s+') AS ts
      FROM documents WHERE trim(text) <> ''),
    sh AS (
      SELECT DISTINCT source,
             unnest([ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]
                     FOR i IN generate_series(1, len(ts) - 2)]) AS shingle
      FROM toks WHERE len(ts) >= 3),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.source < b.source
      GROUP BY 1, 2),
    j AS (SELECT p.src_a, p.src_b, p.n_common,
                 sa.n_sh AS n_a, sb.n_sh AS n_b
          FROM pairs p
          JOIN sizes sa ON sa.source = p.src_a
          JOIN sizes sb ON sb.source = p.src_b)
    SELECT src_a, src_b, n_a, n_b, n_common,
           CAST((2000000 * CAST(n_common AS HUGEINT)
                 + (n_a + n_b - n_common))
                // (2 * CAST(n_a + n_b - n_common AS HUGEINT)) AS BIGINT)
             AS jaccard_micro
    FROM j
    """,
)
def source_overlap_matrix(spark, sf_dir):
    """Pairwise content overlap between corpus SOURCES (crawl
    snapshots): distinct 3-gram shingle sets per source, Jaccard for
    every co-occurring pair — the "how redundant are my snapshots"
    audit that decides which slices to keep before dedup even runs.
    Scale shape: one tokenize pass → distinct (source, shingle)
    (map-side combinable), then an inverted-index equi-join on the
    shingle — pair volume is Σ_shingle df² with df ≤ |sources| (a
    SMALL constant), never corpus-quadratic; sizes/pairs frames are
    source-domain-bounded. Exact integers, round-half-up micro
    Jaccard, full oracle."""
    from .pipeline.curation import ngram_array

    d = _t(spark, sf_dir, "documents")
    sh = DD._persist(
        d.filter(F.trim(F.col("text")) != "")
        .select(
            "source",
            F.explode(ngram_array(F.col("text"), 3)).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(
        F.count("*").cast("long").alias("n_sh")
    )
    a = sh.select(F.col("source").alias("src_a"), "shingle")
    b = sh.select(F.col("source").alias("src_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    j = (
        pairs.join(
            sizes.select(
                F.col("source").alias("src_a"), F.col("n_sh").alias("n_a")
            ),
            "src_a",
        )
        .join(
            sizes.select(
                F.col("source").alias("src_b"), F.col("n_sh").alias("n_b")
            ),
            "src_b",
        )
    )
    d2m = "CAST(2000000 AS DECIMAL(38,0))"
    d2 = "CAST(2 AS DECIMAL(38,0))"
    return j.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_common",
        F.expr(
            f"({d2m} * n_common + (n_a + n_b - n_common))"
            f" div ({d2} * (n_a + n_b - n_common))"
        ).alias("jaccard_micro"),
    )


@q(
    "stratified_weighted_sample_tokens",
    r"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                  END AS BIGINT) AS n_tokens,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) AS h
      FROM documents),
    keyed AS (
      SELECT doc_id, source, n_tokens,
             CAST(round(ln((h + 1.0) / 281474976710656.0)
                        / greatest(n_tokens, 1) * 1000) AS BIGINT)
               AS es_key_milli
      FROM w WHERE n_tokens > 0),
    r AS (SELECT doc_id, source, n_tokens, es_key_milli,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY es_key_milli DESC, doc_id)
                   AS sample_rank
          FROM keyed)
    SELECT doc_id, source, n_tokens, es_key_milli,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM r WHERE sample_rank <= 5
    """,
)
def stratified_weighted_sample_tokens(spark, sf_dir):
    """Per-SOURCE deterministic weighted sampling: the 5 largest
    Efraimidis–Spirakis keys (token-count weights, md5-uniform
    randomness) within each source — the stratified "eyeball N
    weighted docs per snapshot" pull, reproducible across engines and
    retries. One hash shuffle on the stratum + a WindowGroupLimit-
    bounded rank window (O(k) state per group); full oracle restates
    key, rank and selection (pipeline/curation.py:
    stratified_weighted_sample)."""
    from .pipeline.curation import stratified_weighted_sample

    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        "source",
        TXT.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return stratified_weighted_sample(
        w, "source", "n_tokens", k=5
    ).select("doc_id", "source", "n_tokens", "es_key_milli", "sample_rank")


@q(
    "source_lang_mi",
    r"""
    WITH j AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_xy
               FROM documents GROUP BY 1, 2),
    mx AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_x
           FROM j GROUP BY 1),
    my AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_y
           FROM j GROUP BY 1),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM j)
    SELECT j.source, j.lang, j.n_xy, mx.n_x, my.n_y,
           CAST(round(1000000.0 * j.n_xy
                      * ln((CAST(j.n_xy AS DOUBLE) * t.n)
                           / (CAST(mx.n_x AS DOUBLE) * my.n_y))
                      / t.n) AS BIGINT) AS mi_term_micro
    FROM j JOIN mx USING (source) JOIN my USING (lang), tot t
    """,
)
def source_lang_mi(spark, sf_dir):
    """Mutual information between two corpus columns (source × lang) —
    the dependence profile that tells a mixture designer whether
    language balance varies by snapshot (MI ≈ 0 ⇒ stratifying by one
    covers the other). Per-cell terms
    round(1e6 · n_xy · ln(n_xy·N / (n_x·n_y)) / N) are frozen integer
    micro-nats (one fixed IEEE expression both engines evaluate
    identically — the PSI discipline); total MI = Σ terms / 1e6,
    order-free. Scale shape: ONE map-side-combinable groupBy on the
    (x, y) pair, marginals off the cell frame (never the corpus), all
    joins cell-domain-bounded."""
    d = _t(spark, sf_dir, "documents")
    j = DD._persist(
        d.groupBy("source", "lang").agg(
            F.count("*").cast("long").alias("n_xy")
        )
    )
    mx = j.groupBy("source").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = j.groupBy("lang").agg(F.sum("n_xy").cast("long").alias("n_y"))
    tot = j.agg(F.sum("n_xy").cast("long").alias("n"))
    return (
        j.join(mx, "source")
        .join(my, "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_xy",
            "n_x",
            "n_y",
            F.round(
                F.lit(1e6)
                * F.col("n_xy")
                * F.log(
                    (F.col("n_xy").cast("double") * F.col("n"))
                    / (F.col("n_x").cast("double") * F.col("n_y"))
                )
                / F.col("n")
            )
            .cast("long")
            .alias("mi_term_micro"),
        )
    )




# =====================================================================
# per-corpus memo warm-up (bench build/probe split — memo.py)
# =====================================================================

# queries whose first call per corpus version builds an on-disk memo;
# tag = the memo store key carrying the observed build seconds
