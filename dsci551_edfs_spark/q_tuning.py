"""Tuning-sweep operators: LSH parameter sweeps, nprobe recall curves, eps ablations.

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import DD, DataFrame, F, MEMO, SIM, Window, _t, q
from .q_pipeline import (
    _DOT_SQL,
    _NORM_SQL,
    _TOKENS_SQL,
    _ivf_cents_sql,
    _minhash_base_ctes,
)

def _substring_dedup_oracle_sql(
    n: int = 4, min_span: int = 6, max_occ: int = 1000
) -> str:
    """DuckDB restatement of `dedup.exact_substring_dedup`: positional
    n-grams (joined on the gram STRING where Spark joins on its
    xxhash64 — same relation), one gram-keyed window for occurrence
    count + keep-first winner, doc-keyed gaps-and-islands for runs,
    re-assembly via ORDER BY string_agg."""
    g = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
    WITH tks AS (SELECT doc_id AS id, {_TOKENS_SQL} AS t FROM documents),
    gi AS (
      SELECT id, t,
             unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS i
      FROM tks
    ),
    posting AS (SELECT id, i - 1 AS pos, {g} AS ng FROM gi),
    dup AS (
      SELECT id, pos,
             count(*) OVER (PARTITION BY ng) AS occ,
             row_number() OVER (PARTITION BY ng ORDER BY id, pos) AS rn
      FROM posting
    ),
    losers AS (
      SELECT id, pos FROM dup
      WHERE occ >= 2 AND occ <= {max_occ} AND rn > 1
    ),
    isl AS (
      SELECT id, pos,
             pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS k
      FROM losers
    ),
    runs AS (
      SELECT id, min(pos) AS p0, max(pos) AS p1
      FROM isl GROUP BY id, k
      HAVING max(pos) - min(pos) + {n} >= {min_span}
    ),
    cov AS (
      SELECT DISTINCT id, unnest(generate_series(p0, p1 + {n - 1})) AS pos
      FROM runs
    ),
    tok AS (
      SELECT id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
      FROM tks
    ),
    kept AS (
      SELECT tok.id, tok.pos, tok.tok
      FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.pos = cov.pos
      WHERE cov.id IS NULL
    ),
    agg AS (
      SELECT id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY id
    )
    SELECT tks.id AS doc_id,
           CAST(len(tks.t) AS BIGINT) AS n_tokens,
           CAST(len(tks.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
    FROM tks LEFT JOIN agg a ON tks.id = a.id
    """


@q("exact_substring_dedup", _substring_dedup_oracle_sql())
def exact_substring_dedup(spark, sf_dir):
    """Exact-substring REMOVAL (Lee et al. 2021 "Deduplicating Training
    Data" — the corpus-rewrite deliverable, where `shared_span_pairs`
    is the audit report): verbatim runs of >= 6 tokens that occur
    earlier in the corpus are cut, keeping the globally-first
    occurrence (gram-level keep-first; hot grams above the max_occ
    boilerplate cap are exempt). Full oracle: DuckDB replays posting,
    winner window, island stitching and re-assembly on gram strings."""
    return DD.exact_substring_dedup(
        _t(spark, sf_dir, "documents"), n=4, min_span=6, max_occ=1000
    )


_LSH_CONFIGS = ((4, 16), (8, 8), (16, 4), (32, 2))  # (bands, rows), b*r = 64


def _pow2_chain_sql(expr: str, e: int) -> str:
    """x^e for power-of-two e as an explicit squaring chain — every step
    an IEEE double multiply with deterministic rounding, so Spark and
    DuckDB produce BIT-IDENTICAL values (libm `pow` carries no such
    cross-engine guarantee)."""
    assert e >= 1 and (e & (e - 1)) == 0, "e must be a power of two"
    while e > 1:
        expr = f"({expr} * {expr})"
        e //= 2
    return expr


def _lsh_detect_p_sql(bands: int, rows: int) -> str:
    """P(candidate | est. Jaccard s) = 1 - (1 - s^r)^b with s = m/64,
    m = signature agreement count — one shared SQL string evaluated by
    both engines (integer m, exact division by 64, squaring chains)."""
    s_r = _pow2_chain_sql("(CAST(m AS DOUBLE) / 64)", rows)
    q_b = _pow2_chain_sql(f"(1.0 - {s_r})", bands)
    return f"(1.0 - {q_b})"


def _lsh_tuning_oracle_sql() -> str:
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(64)
    )
    per_cfg = []
    for b, r in _LSH_CONFIGS:
        p = _lsh_detect_p_sql(b, r)
        s_star = round((1.0 / b) ** (1.0 / r), 4)
        per_cfg.append(f"""
    SELECT CAST({b} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           CAST({s_star} AS DOUBLE) AS s_star,
           round(sum({p}), 3) AS exp_detected,
           round(sum(CASE WHEN m >= 32 THEN 1.0 - {p} ELSE 0.0 END), 3)
             AS exp_missed_above_t,
           round(sum(CASE WHEN m < 32 THEN {p} ELSE 0.0 END), 3)
             AS exp_fp_below_t,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pm""")
        # noqa: E501
    body = "\n    UNION ALL\n".join(per_cfg)
    src = (
        "(SELECT doc_id, text FROM documents"
        f" WHERE doc_id % 17 = 0 AND doc_id < {17 * 256})"
    )
    return f"""
    WITH {_minhash_base_ctes(src=src)},
    pm AS (
      SELECT ({matches}) AS m
      FROM sig sa JOIN sig sb ON sa.id < sb.id
    )
    {body}
    """


@q("lsh_tuning_report", _lsh_tuning_oracle_sql())
def lsh_tuning_report(spark, sf_dir):
    """The parameter sweep every LSH dedup runs BEFORE the trillion-pair
    job: for each (bands, rows) split of the 64-perm signature budget,
    the S-curve threshold s* = (1/b)^(1/r) and the expected candidate
    outcomes — detected pairs, misses above the Jaccard-0.5 target,
    false candidates below it — integrated against the corpus's OWN
    estimated-similarity distribution (signature agreement over a
    deterministic stride sample HARD-CAPPED at 256 docs — doc_id % 17
    under 17·256 — so the all-pairs agreement join is ≤32,640 pairs at
    ANY corpus size while the signatures come from the production
    family). One signature pass serves all four configs (the signature
    frame is persisted; both self-join sides read the cache). Full
    oracle: md5 affine family + explicit squaring-chain probability
    formula, bit-identical in both engines."""
    from functools import reduce

    docs = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 17 == 0) & (F.col("doc_id") < 17 * 256)
    )
    sig = DD._persist(
        DD.minhash_signature(DD.shingle_df(docs), hash_family="md5")
    )
    a, b_ = sig.alias("a"), sig.alias("b")
    pm = a.join(b_, F.col("a.id") < F.col("b.id")).select(
        F.expr(
            "aggregate(zip_with(a.sig, b.sig,"
            " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
            " 0, (acc, v) -> acc + v)"
        ).alias("m")
    )
    pm = DD._persist(pm)  # all four config aggregates read one pair pass
    parts = []
    for b, r in _LSH_CONFIGS:
        p = _lsh_detect_p_sql(b, r)
        s_star = round((1.0 / b) ** (1.0 / r), 4)
        parts.append(
            pm.agg(
                F.round(F.sum(F.expr(p)), 3).alias("exp_detected"),
                F.round(
                    F.sum(
                        F.expr(f"CASE WHEN m >= 32 THEN 1.0 - {p} ELSE 0.0 END")
                    ),
                    3,
                ).alias("exp_missed_above_t"),
                F.round(
                    F.sum(F.expr(f"CASE WHEN m < 32 THEN {p} ELSE 0.0 END")), 3
                ).alias("exp_fp_below_t"),
                F.count("*").cast("long").alias("n_pairs"),
            ).select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.lit(s_star).alias("s_star"),
                "exp_detected",
                "exp_missed_above_t",
                "exp_fp_below_t",
                "n_pairs",
            )
        )
    return reduce(DataFrame.unionByName, parts)


_SEMDEDUP_EPS_GRID = (40, 50, 60, 70, 80, 90)  # eps · 100


@q(
    "semdedup_eps_curve",
    f"""
    WITH pairs AS (
      SELECT id_a, id_b, round(cosine, 4) AS cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                 / ({_NORM_SQL.format(a="a.embedding")}
                    * {_NORM_SQL.format(a="b.embedding")}) AS cosine
        FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
      WHERE round(cosine, 4) >= 0.4),
    grid(eps_pct) AS (VALUES {", ".join(f"({e})" for e in _SEMDEDUP_EPS_GRID)})
    SELECT CAST(g.eps_pct AS BIGINT) AS eps_pct,
           CAST(count(p.id_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.id_b) AS BIGINT) AS n_docs_removed
    FROM grid g LEFT JOIN pairs p
      ON p.cosine >= CAST(g.eps_pct AS DOUBLE) / 100
    GROUP BY g.eps_pct
    """,
)
def semdedup_eps_curve(spark, sf_dir):
    """The SemDeDup ablation (Abbas et al. 2023 run it per-epsilon from
    scratch; here the whole curve rides ONE pair scan): for each
    near-dup threshold eps, how many pairs qualify and how many docs
    the greedy keep-lowest-id rule would remove. At 100 TB the pair set
    is the expensive artifact (LSH-pruned there; exact at demo scale) —
    sweeping eps over the MATERIALIZED pairs is how the removal budget
    is actually chosen, not by re-running dedup per threshold."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = DD.embedding_dup_pairs(emb, threshold=0.3999, use_lsh=False)
    pairs = (
        pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )
    grid = spark.createDataFrame(
        [(e,) for e in _SEMDEDUP_EPS_GRID], "eps_pct int"
    )
    j = grid.join(
        pairs,
        pairs["cosine"] >= grid["eps_pct"].cast("double") / 100,
        "left",
    )
    return j.groupBy("eps_pct").agg(
        F.count("id_a").cast("long").alias("n_pairs"),
        F.countDistinct("id_b").cast("long").alias("n_docs_removed"),
    ).select(
        F.col("eps_pct").cast("long").alias("eps_pct"),
        "n_pairs",
        "n_docs_removed",
    )


def _ivf_recall_oracle_sql(
    query_pred: str = "vec_id < 10", k: int = 5, probes=(1, 2, 4, 8)
) -> str:
    """DuckDB restatement of `similarity.ivf_recall_curve`: centroid
    ranks up to max(probes) per query, candidates tagged with their
    bucket's probe_rank, broadcast-grid sweep, per-budget top-k vs the
    brute-force truth."""
    max_p = max(probes)
    grid_vals = ", ".join(f"({p})" for p in probes)
    score = (
        f"{_DOT_SQL.format(a='e.embedding', b='q.embedding')}"
        f" / ({_NORM_SQL.format(a='e.embedding')}"
        f" * {_NORM_SQL.format(a='q.embedding')})"
    )
    return f"""
    WITH cents(c, cv) AS (VALUES
        {_ivf_cents_sql()}),
    asn AS (
      SELECT vec_id, c,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, c) AS rn
      FROM (
        SELECT e.vec_id, cents.c,
               {_DOT_SQL.format(a="e.embedding", b="cents.cv")} AS sim
        FROM embeddings e, cents)
    ),
    buckets AS (SELECT vec_id, c FROM asn WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, c, rn AS probe_rank FROM asn
      WHERE rn <= {max_p} AND {query_pred}
    ),
    cand AS (
      SELECT p.query_id, b.vec_id AS id, p.probe_rank,
             {score} AS score
      FROM buckets b
      JOIN probes p ON b.c = p.c AND b.vec_id <> p.query_id
      JOIN embeddings e ON e.vec_id = b.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
    ),
    grid(n_probe) AS (VALUES {grid_vals}),
    swept AS (
      SELECT g.n_probe, c.query_id, c.id, c.score
      FROM cand c JOIN grid g ON c.probe_rank <= g.n_probe
    ),
    ranked AS (
      SELECT n_probe, query_id, id,
             row_number() OVER (PARTITION BY n_probe, query_id
                                ORDER BY score DESC, id) AS rnk
      FROM swept
    ),
    uq AS (SELECT vec_id, embedding FROM embeddings WHERE {query_pred}),
    truth AS (
      SELECT query_id, id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {score} DESC, e.vec_id) AS rnk
        FROM embeddings e JOIN uq q ON e.vec_id <> q.vec_id)
      WHERE rnk <= {k}
    ),
    hits AS (
      SELECT r.n_probe, count(*) AS n_hits
      FROM ranked r JOIN truth t
        ON r.query_id = t.query_id AND r.id = t.id
      WHERE r.rnk <= {k} GROUP BY r.n_probe
    ),
    cc AS (SELECT n_probe, count(*) AS n_candidates
           FROM swept GROUP BY n_probe),
    qn AS (SELECT count(DISTINCT query_id) AS n_q FROM truth)
    SELECT CAST(cc.n_probe AS BIGINT) AS n_probe,
           CAST(cc.n_candidates AS BIGINT) AS n_candidates,
           round(CAST(cc.n_candidates AS DOUBLE) / n_q, 2)
             AS avg_candidates,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / (n_q * {k}), 4)
             AS recall_at_k
    FROM cc LEFT JOIN hits h ON cc.n_probe = h.n_probe, qn
    """


@q("ann_recall_vs_nprobe", _ivf_recall_oracle_sql())
def ann_recall_vs_nprobe(spark, sf_dir):
    """The nprobe sweep every IVF deployment runs before picking its
    serving budget: recall@5 and candidate cost per probe budget
    (1, 2, 4, 8) against the exact brute-force truth — ONE candidate
    scan at max nprobe, every budget read off the same scored frame
    (the probe_rank tag + a broadcast grid join). At 8 of 8 buckets
    probed, recall is 1.0 by construction — the curve's built-in sanity
    anchor, pinned in pytest. Full oracle: seeded centroid literals,
    assignment, probe ranks, sweep and truth all replayed in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    bucketed, cents = SIM.build_ivf_index(emb, n_centroids=8)
    return SIM.ivf_recall_curve(
        bucketed, cents, emb, queries_df, k=5, probes=(1, 2, 4, 8)
    )


@q(
    "unpivot_lineitem_measures",
    """
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure,
             CAST(l_quantity AS DOUBLE) AS val FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_extendedprice',
             CAST(l_extendedprice AS DOUBLE) FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_discount',
             CAST(l_discount AS DOUBLE) FROM lineitem
      UNION ALL SELECT l_returnflag, 'l_tax',
             CAST(l_tax AS DOUBLE) FROM lineitem)
    SELECT l_returnflag, measure,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(val), 3) AS sum_val,
           min(val) AS min_val,
           max(val) AS max_val
    FROM long GROUP BY l_returnflag, measure
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    """UNPIVOT (melt): four measure columns to long format + per-measure
    stats. Spark compiles `DataFrame.unpivot` to ONE scan with an Expand
    node (each input row emits 4 output rows in the same pass) — the
    oracle restates it as the 4-scan UNION ALL it replaces; at 100 TB
    that is a 4x I/O difference, which is the point of the operator."""
    li = _t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.select(
        "l_returnflag", *[F.col(c).cast("double").alias(c) for c in measures]
    ).unpivot(
        ids=["l_returnflag"],
        values=measures,
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("val"), 3).alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


def _reachability_recursion_sql(edges_rel: str, max_hops: int = 3) -> str:
    """The shared recursive fragment both engines run over an edge
    relation: all <=max_hops walks from the lexicographically-first
    source type, min-hop + walk count per reached type. ONE definition
    site so the Spark and oracle recursions cannot drift."""
    return f"""reach(t, hops) AS (
      SELECT min(src), 0 FROM {edges_rel}
      UNION ALL
      SELECT e.dst, r.hops + 1
      FROM reach r JOIN {edges_rel} e ON e.src = r.t
      WHERE r.hops < {max_hops}
    )
    SELECT t AS event_type,
           CAST(min(hops) AS BIGINT) AS min_hops,
           CAST(count(*) AS BIGINT) AS n_walks
    FROM reach GROUP BY t
    """


def _reachability_rcte_oracle_sql(max_hops: int = 3) -> str:
    return f"""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT event_type AS src, nxt AS dst FROM (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events)
      WHERE nxt IS NOT NULL
    ),
    {_reachability_recursion_sql("edges", max_hops)}
    """


@q("event_reachability_rcte", _reachability_rcte_oracle_sql())
def event_reachability_rcte(spark, sf_dir):
    """Spark 4 WITH RECURSIVE, first-class: min-hop distance and
    <=3-step walk counts over the event-type transition graph (every
    prior recursive oracle in this file was DuckDB-only with an
    iterative Spark twin — this one exercises Spark's own recursion).
    The recursion FRAGMENT is one shared string; the corpus-sized edge
    extraction is deliberately OUTSIDE the Spark recursion: a recursive
    CTE's body re-executes every step, so anything loop-invariant (here
    the full-events lead-window pass) must be materialized once and the
    recursion run over the tiny distinct edge table — at 100 TB the
    difference is max_hops extra corpus scans. What remains (~1 s at any
    sf) is the recursion machinery's fixed per-iteration job overhead,
    corpus-size-independent once the edges are materialized. The
    iterative graph loops (`operators/graph.py`) remain the
    unbounded-depth path; this pins the SQL-surface parity."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = DD._persist(
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.col("event_type").alias("src"), F.col("nxt").alias("dst")
        )
        .distinct()
    )
    edges.createOrReplaceTempView("_rcte_edges")
    return spark.sql(
        "WITH RECURSIVE " + _reachability_recursion_sql("_rcte_edges")
    )


_CENTS = "CAST(floor({p} * 100 + 0.5) AS BIGINT)"


@q(
    "ivm_segment_revenue",
    f"""
    WITH merged AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN round(o_totalprice * 2, 2)
                  ELSE o_totalprice END AS price
      FROM orders
      UNION ALL
      SELECT o_custkey, round(o_totalprice, 2)
      FROM orders WHERE o_orderkey % 97 = 0)
    SELECT c.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum({_CENTS.format(p="m.price")}) / 100.0, 2) AS revenue
    FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    memo=True,
)
def ivm_segment_revenue(spark, sf_dir):
    """Incremental view maintenance: a revenue-by-segment aggregate view
    maintained under the SAME upsert batch `merge_upsert_orders` applies
    (7th keys: price doubled = UPDATE, 97th keys: new order = INSERT) —
    WITHOUT rescanning the base fact table. The base view's mergeable
    partials (count + exact integer-cent sum, so the merge is bit-exact,
    never FP-order-dependent) are materialized once per corpus (memo
    store, same pattern as the hypertable rollup); the per-call work is
    delta-sized: each UPDATE contributes (new−old) cents and 0 count,
    each INSERT its full cents and 1, aggregated per segment and merged
    into the partials by a segment-keyed outer join. The oracle
    recomputes the view FROM THE MERGED TABLE directly — the hash match
    is the maintenance-is-exact proof (the `ann_ivf_incremental`
    contract, restated for lakehouse aggregates). At 100 TB this is the
    only viable shape: the view refresh costs O(|delta| + |view|), and
    the base table is never touched after the one partial build."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    def cents(col):
        return F.floor(col * 100 + F.lit(0.5)).cast("long")

    base = MEMO.dataframe_memo(
        spark,
        "ivm_seg_rev_base",
        sf_dir,
        ["orders", "customer"],
        lambda: (
            o.join(cust, o["o_custkey"] == cust["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents(F.col("o_totalprice"))).alias("cents"),
            )
        ),
    )
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_custkey",
        F.lit(0).cast("long").alias("dn"),
        (
            cents(F.round(F.col("o_totalprice") * 2, 2))
            - cents(F.col("o_totalprice"))
        ).alias("dcents"),
    )
    ins = o.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_custkey",
        F.lit(1).cast("long").alias("dn"),
        cents(F.round(F.col("o_totalprice"), 2)).alias("dcents"),
    )
    delta = (
        upd.unionByName(ins)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.sum("dn").alias("dn"), F.sum("dcents").alias("dcents"))
    )
    merged = base.join(delta, "c_mktsegment", "full").select(
        F.col("c_mktsegment").alias("segment"),
        (
            F.coalesce(F.col("n"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        ).cast("long").alias("n_orders"),
        F.round(
            (
                F.coalesce(F.col("cents"), F.lit(0))
                + F.coalesce(F.col("dcents"), F.lit(0))
            )
            / 100.0,
            2,
        ).alias("revenue"),
    )
    return merged


# =====================================================================
# round-10 session-3: time-decay analytics, graph similarity, frontier
# queries, normalization-aware dedup, hashed-feature retrieval, MMR
# =====================================================================

