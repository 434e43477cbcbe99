"""Additional TPC-H shapes, skew handling, grouping sets, window-function breadth, pivot, corpus-prep composite.

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import (
    DD,
    F,
    MEMO,
    ORACLES,
    TXT,
    Window,
    _scratch_dir,
    _t,
    q,
)
from .q_pipeline import (
    _FP_SQL,
    _LANG_CASE,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _lang_score_sql,
    _minhash_base_ctes,
)
from .q_media_temporal import _NTOK_SQL

@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (adapted: no commit/receipt dates in the synthetic
    schema — "late" = shipped >60 days after order). The correlated EXISTS
    decorrelates to a left-semi hash join; the date filter prunes before
    the shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    filtered = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = (
        li.select("l_orderkey", "l_shipdate")
        .join(filtered.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey")
    )
    return (
        filtered.join(late, filtered.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@q(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-aggregate — every predicate pushes to the
    parquet reader; the ideal plan is scan -> partial agg -> final."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


@q(
    "q17_small_qty_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 3) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size = 1
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery -> per-key avg computed
    once in a broadcastable aggregate, joined back (what Catalyst's
    decorrelation emits)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 1).select("p_partkey")
    thresholds = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(thresholds, on="l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 3).alias("avg_yearly"))
    )


@q(
    "jsonl_roundtrip",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def jsonl_roundtrip(spark, sf_dir):
    """documents -> gzip JSONL -> schema-explicit read-back (sources/
    formats.py). Exercises the edge-format contract: no inference pass,
    values survive the text roundtrip bit-exact."""
    from .sources.formats import read_jsonl, write_jsonl

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    dest = _scratch_dir("jsonl")
    write_jsonl(docs, dest, n_files=4)
    return read_jsonl(spark, dest, schema="doc_id long, lang string, n_chars long")


@q(
    "orc_roundtrip",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def orc_roundtrip(spark, sf_dir):
    """documents -> zlib ORC -> read-back (sources/formats.py). The
    Hive-ecosystem columnar interchange path; schema, pushdown and
    pruning behave as with Parquet."""
    from .sources.formats import read_orc, write_orc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    dest = _scratch_dir("orc")
    write_orc(docs, dest)
    return read_orc(spark, dest)


def _incremental_near_oracle_sql() -> str:
    """DuckDB replay of the incremental LSH gate: a %5==0 shard doc dies
    iff some band bucket pairs it with (a) any corpus doc or (b) a
    lower-id shard doc, AND the exact shingle Jaccard of that pair is
    ≥ 0.5. Reuses the shared md5-family MinHash CTE chain."""
    return f"""
    WITH {_minhash_base_ctes()},
    cands AS (
      SELECT DISTINCT n.id AS drop_id, o.id AS keep_id
      FROM bands n JOIN bands o
        ON n.band = o.band AND n.bh = o.bh
      WHERE n.id % 5 = 0
        AND (o.id % 5 <> 0 OR o.id < n.id)
    ),
    dropped AS (
      SELECT DISTINCT drop_id
      FROM cands
      JOIN sh sa ON sa.id = cands.drop_id
      JOIN sh sb ON sb.id = cands.keep_id
      WHERE len(list_intersect(sa.shingles, sb.shingles))
              / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 5 = 0
      AND doc_id NOT IN (SELECT drop_id FROM dropped)
    ORDER BY doc_id
    """


@q("incremental_dedup_near", _incremental_near_oracle_sql(), memo=True)
def incremental_dedup_near(spark, sf_dir):
    """NEAR-duplicate incremental gate: the %5==0 shard is deduped
    against the rest of the corpus by MinHash-LSH — the corpus side
    contributes only its banded signature index to the join, candidates
    are exact-Jaccard verified before dropping
    (pipeline/dedup.py:incremental_minhash_dedup). The LSH counterpart
    of `incremental_dedup` (exact fingerprints). Full oracle (was
    rows-only) via the md5 hash family: DuckDB replays the banded
    signature index, both candidate families and the exact verify."""
    from .sources.shared_text_layout import shingle_sets

    docs = _t(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    # tagged shingles from the per-corpus layout (optimization r14): the
    # %5 split is an id predicate, so tagging the settled shingle_sets
    # frame equals shingling the tagged union — no tokenize scan
    return (
        DD.incremental_minhash_dedup(
            incoming, existing, threshold=0.5, hash_family="md5",
            shingled_tagged=shingle_sets(spark, sf_dir).withColumn(
                "_new", F.col("id") % 5 == 0
            ),
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@q(
    "avro_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def avro_roundtrip(spark, sf_dir):
    """orders -> Avro OCF (deflate) -> read-back. The spark-avro module
    is absent here, so the codec is `sources/avro_stdlib.py` — the Avro
    spec implemented on zlib/struct/json: zigzag varints, null-union
    prefixes, OCF block framing. Write is one OCF file per partition
    (executor-side); read distributes files via the built-in binaryFile
    source and decodes in an Arrow mapInPandas stage. The oracle is the
    identity projection, so a hash match proves every value — including
    timestamp-micros — survived a full binary encode/decode."""
    from .sources.avro_stdlib import read_avro, write_avro

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    dest = _scratch_dir("avro")
    # one OCF file per core (optimization r14, guide §2.6): the fixed
    # repartition(8) left 3/4 of the cores idle through BOTH the pure-
    # Python encode stage and the per-file decode stage; the sink's
    # one-file-per-task layout scales with the session's parallelism
    # exactly like any other writer. Decoded rows are identical.
    n_files = orders.sparkSession.sparkContext.defaultParallelism
    write_avro(orders.repartition(n_files), dest)
    return read_avro(spark, dest)


@q(
    "incremental_dedup",
    r"""
    WITH f AS (
      SELECT doc_id, lang,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             doc_id % 5 = 0 AS incoming
      FROM documents
    )
    SELECT doc_id, lang FROM f
    WHERE incoming
      AND fp NOT IN (SELECT fp FROM f WHERE NOT incoming)
      AND doc_id = (SELECT min(doc_id) FROM f f2
                    WHERE f2.incoming AND f2.fp = f.fp)
    """,
)
def incremental_dedup(spark, sf_dir):
    """Incremental crawl dedup: docs with doc_id % 5 = 0 play the incoming
    shard, the rest the already-ingested corpus. A new doc survives iff
    its content fingerprint is absent from the corpus AND it is the
    canonical (min-id) copy within its batch. The corpus side ships only
    distinct 16-byte fingerprints into an anti-join."""
    docs = _t(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return DD.incremental_exact_dedup(incoming, existing).select("doc_id", "lang")


@q(
    "incremental_dedup_bloom",
    ORACLES.get("incremental_dedup"),
)
def incremental_dedup_bloom(spark, sf_dir):
    """Same contract as `incremental_dedup` (identical oracle — the Bloom
    prefilter is exact end-to-end: no false negatives, positives verified
    against the fingerprint set), but only the ~FPR + true-dup sliver of
    the incoming shard reaches the corpus anti-join
    (pipeline/dedup.py:incremental_exact_dedup_bloom)."""
    docs = _t(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    return DD.incremental_exact_dedup_bloom(incoming, existing).select(
        "doc_id", "lang"
    )


# =====================================================================
# Skew, grouping sets, window-function breadth, pivot
# =====================================================================

@q(
    "salted_join_hot_keys",
    """
    SELECT e.user_id, count(*) AS cnt, round(sum(e.value), 3) AS sum_value
    FROM events e JOIN (SELECT DISTINCT user_id FROM events) u
      ON e.user_id = u.user_id
    GROUP BY e.user_id
    """,
)
def salted_join_hot_keys(spark, sf_dir):
    """Hot-key salted join (operators/skew.py): detects the heaviest event
    users, salts them across 8 sub-keys, joins, and aggregates. The result
    set is identical to the plain join — the oracle states the plain join —
    while the hot keys' rows land on 8 reducers instead of 1."""
    from .operators.skew import salted_join, top_keys

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    hot = top_keys(ev, "user_id", n=5, min_count=10)
    out = salted_join(ev, users, "user_id", hot_keys=hot, salts=8)
    return out.groupBy("user_id").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 3).alias("sum_value")
    )


@q(
    "grouping_sets_lineitem",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_lineitem(spark, sf_dir):
    """Explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status,
    and grand total in one pass — Catalyst expands then partial-aggregates
    each set map-side."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               round(sum(l_quantity), 2) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q(
    "window_functions_showcase",
    """
    SELECT o_orderkey, o_custkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(o_totalprice - max(o_totalprice)
                 OVER (PARTITION BY o_custkey), 3) AS delta_from_max
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_functions_showcase(spark, sf_dir):
    """lead/lag/ntile/percent_rank + partition-relative delta in one
    window spec — a single sort per customer partition serves all five."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(
            F.col("o_totalprice") - F.max("o_totalprice").over(wp), 3
        ).alias("delta_from_max"),
    )


@q(
    "pivot_returnflag_by_status",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_returnflag_by_status(spark, sf_dir):
    """Pivot on a low-cardinality column with EXPLICIT pivot values — at
    scale, never let pivot() run its distinct-values discovery job."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@q(
    "stream_interval_join",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 10 MINUTE AND v.ts < p.ts
    """,
)
def stream_interval_join(spark, sf_dir):
    """Batch face of the stream-stream interval join (streaming/windows.py
    interval_join): views in the 10 minutes before each purchase. The
    streaming run with two watermarked inputs is pinned equal in
    tests/test_streaming.py."""
    from .streaming.windows import interval_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter("event_type = 'purchase'").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("user_id_r"),
        F.col("ts").alias("ts_r"),
        F.col("event_id").alias("view_id"),
    )
    return interval_join(p, v).select("purchase_id", "view_id")


@q(
    "stream_interval_join_outer",
    """
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 10 MINUTE AND v.ts < p.ts
    """,
)
def stream_interval_join_outer(spark, sf_dir):
    """Batch face of the watermarked LEFT-OUTER stream-stream join
    (streaming/windows.py interval_join how='leftOuter'): every purchase
    with its preceding-10-minute views, or a null row if none — the
    "conversions with no attributable touchpoint" audit. In streaming,
    outer-null rows emit at state-eviction time (watermark past the join
    window; both legs' watermarks bound the state); the streaming run is
    pinned equal to this batch plan in tests/test_streaming.py with a
    ts-ordered feed + checkpoint-restart eviction."""
    from .streaming.windows import interval_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter("event_type = 'purchase'").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("user_id_r"),
        F.col("ts").alias("ts_r"),
        F.col("event_id").alias("view_id"),
    )
    return interval_join(p, v, how="leftOuter").select("purchase_id", "view_id")


_MD5_BUCKET_SQL = """
    ((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100
"""


_BP_FOOTER = "subscribe to our newsletter for daily updates"
_BP_HEADER = "copyright 2024 example corp all rights reserved"

_BP_DOC2_SQL = f"""
    doc2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN t1 || chr(10) || '{_BP_FOOTER}' ELSE t1 END AS text
      FROM (SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0
                        THEN '{_BP_HEADER}' || chr(10) || text
                        ELSE text END AS t1
            FROM documents)
    )
"""


def _corpus_prep_pipeline_oracle_sql() -> str:
    """End-to-end replay of the corpus-prep composition: the quality
    gate (min_tokens=5 variant of the `quality_filter` oracle), the
    `lang_id` oracle's keep-list, exact dedup by normalized-md5
    fingerprint, and the md5-family MinHash near-dedup (shared CTE
    chain) restricted to the exact-dedup survivors — each fragment is
    the same SQL its standalone oracle already hash-matches."""
    lang_scores = ", ".join(
        f"{_lang_score_sql(lang, sw)} AS s_{lang}"
        for lang, sw in sorted(TXT.LANG_STOPWORDS.items())
    )
    lang_best = ", ".join(
        f"{_lang_score_sql(lang, sw)}"
        for lang, sw in sorted(TXT.LANG_STOPWORDS.items())
    )
    return rf"""
    WITH q AS (
      SELECT doc_id, quality_score FROM (
        SELECT doc_id, n_tokens, avg_token_len, punct_ratio, digit_ratio,
               round(least(n_tokens / 100.0, 1.0) * (1 - punct_ratio)
                     * (1 - digit_ratio), 4) AS quality_score
        FROM (
          SELECT doc_id,
                 {_NTOK_SQL} AS n_tokens,
                 round(length(text) / greatest({_NTOK_SQL}, 1), 3)
                   AS avg_token_len,
                 round(len(regexp_extract_all(text, '[^\w\s]'))
                       / greatest(length(text), 1), 3) AS punct_ratio,
                 round(len(regexp_extract_all(text, '[0-9]'))
                       / greatest(length(text), 1), 3) AS digit_ratio
          FROM documents))
      WHERE n_tokens >= 5 AND punct_ratio <= 0.20 AND digit_ratio <= 0.30
        AND avg_token_len BETWEEN 2.0 AND 12.0
    ),
    lg AS (
      SELECT doc_id, lang_pred FROM (
        SELECT doc_id,
               CASE {_LANG_CASE} ELSE 'und' END AS lang_pred
        FROM (
          SELECT doc_id, {lang_scores},
                 greatest({lang_best}) AS best
          FROM documents))
      WHERE lang_pred <> 'und'
    ),
    fp AS (
      SELECT d.doc_id, {_FP_SQL} AS fp
      FROM documents d JOIN q USING (doc_id) JOIN lg USING (doc_id)
    ),
    exact_kept AS (
      SELECT doc_id FROM fp
      WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY fp)
    ),
    {_minhash_base_ctes()},
    near AS (
      SELECT DISTINCT b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
      JOIN exact_kept ka ON ka.doc_id = a.id
      JOIN exact_kept kb ON kb.doc_id = b.id
      JOIN sh sa ON sa.id = a.id
      JOIN sh sb ON sb.id = b.id
      WHERE len(list_intersect(sa.shingles, sb.shingles))
              / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
    )
    SELECT k.doc_id, lg.lang_pred, q.quality_score,
           CAST(length(d.text) AS INT) AS n_chars
    FROM exact_kept k
    JOIN documents d USING (doc_id)
    JOIN q USING (doc_id)
    JOIN lg USING (doc_id)
    WHERE k.doc_id NOT IN (SELECT id_b FROM near)
    ORDER BY k.doc_id
    """


@q(
    "corpus_datacard",
    rf"""
    WITH base AS (
      SELECT source, doc_id, {_NTOK_SQL} AS n_tokens, {_FP_SQL} AS fp
      FROM documents),
    winners AS (SELECT min(doc_id) AS w FROM base GROUP BY fp),
    stats AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             count(*) FILTER (WHERE doc_id NOT IN (SELECT w FROM winners))
               AS losers
      FROM base GROUP BY source),
    q AS (
      SELECT doc_id, quality_score FROM (
        SELECT doc_id, n_tokens, avg_token_len, punct_ratio, digit_ratio,
               round(least(n_tokens / 100.0, 1.0) * (1 - punct_ratio)
                     * (1 - digit_ratio), 4) AS quality_score
        FROM (
          SELECT doc_id,
                 {_NTOK_SQL} AS n_tokens,
                 round(length(text) / greatest({_NTOK_SQL}, 1), 3)
                   AS avg_token_len,
                 round(len(regexp_extract_all(text, '[^\w\s]'))
                       / greatest(length(text), 1), 3) AS punct_ratio,
                 round(len(regexp_extract_all(text, '[0-9]'))
                       / greatest(length(text), 1), 3) AS digit_ratio
          FROM documents))
      WHERE n_tokens >= 5 AND punct_ratio <= 0.20 AND digit_ratio <= 0.30
        AND avg_token_len BETWEEN 2.0 AND 12.0),
    lg AS (
      SELECT doc_id, lang_pred FROM (
        SELECT doc_id, CASE {_LANG_CASE} ELSE 'und' END AS lang_pred
        FROM (
          SELECT doc_id,
                 {", ".join(f"{_lang_score_sql(lang, sw)} AS s_{lang}" for lang, sw in sorted(TXT.LANG_STOPWORDS.items()))},
                 greatest({", ".join(f"{_lang_score_sql(lang, sw)}" for lang, sw in sorted(TXT.LANG_STOPWORDS.items()))}) AS best
          FROM documents))
      WHERE lang_pred <> 'und'),
    gated AS (
      SELECT d.source, q.quality_score, lg.lang_pred
      FROM documents d JOIN q USING (doc_id) JOIN lg USING (doc_id)),
    topl AS (
      SELECT source, lang_pred AS top_lang FROM (
        SELECT source, lang_pred,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang_pred) AS rn
        FROM gated GROUP BY source, lang_pred) WHERE rn = 1),
    gq AS (
      SELECT source, count(*) AS gate_cnt,
             CAST(sum(CAST(round(quality_score * 10000) AS BIGINT))
                  AS BIGINT) AS micro
      FROM gated GROUP BY source)
    SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs, s.total_tokens,
           CAST(s.losers * 1000000 // s.n_docs AS BIGINT)
             AS dup_loser_ppm,
           CAST(gq.gate_cnt * 1000000 // s.n_docs AS BIGINT)
             AS gate_pass_ppm,
           CAST(gq.micro // gq.gate_cnt AS BIGINT)
             AS avg_quality_micro,
           topl.top_lang
    FROM stats s JOIN gq USING (source) JOIN topl USING (source)
    ORDER BY s.source
    """,
)
def corpus_datacard(spark, sf_dir):
    """The per-source corpus datasheet — the governance artifact a
    100 TB ingest publishes alongside the data: volume (docs, tokens),
    exact-duplicate loser rate, quality-gate pass rate, mean quality of
    survivors (integer micro — exact on any engine), and the dominant
    predicted language. Pure composition of the fused gate and the
    fingerprint dedup rule; integer ppm/micro throughout, so the whole
    card is hash-exact against the oracle."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        TXT.token_count(F.col("text")).cast("long").alias("n_tokens"),
        TXT.fingerprint("text").alias("fp"),
    )
    base = DD._persist(base)
    winners = base.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    losers = base.join(winners, ["doc_id"], "left_anti").groupBy(
        "source"
    ).agg(F.count("*").alias("losers"))
    stats = (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .join(losers, "source", "left")
        .na.fill({"losers": 0})
    )
    gated = TXT.corpus_gate(docs, min_tokens=5).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    gated = DD._persist(
        gated.select("source", "quality_score", "lang_pred")
    )
    topl = (
        gated.groupBy("source", "lang_pred")
        .agg(F.count("*").alias("_c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("_c").desc(), "lang_pred"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang_pred").alias("top_lang"))
    )
    gq = gated.groupBy("source").agg(
        F.count("*").alias("gate_cnt"),
        F.sum(F.round(F.col("quality_score") * 10000).cast("long")).alias(
            "micro"
        ),
    )
    return (
        stats.join(gq, "source")
        .join(topl, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "total_tokens",
            F.expr("losers * 1000000 div n_docs").cast("long").alias(
                "dup_loser_ppm"
            ),
            F.expr("gate_cnt * 1000000 div n_docs").cast("long").alias(
                "gate_pass_ppm"
            ),
            F.expr("micro div gate_cnt").cast("long").alias(
                "avg_quality_micro"
            ),
            "top_lang",
        )
        .orderBy("source")
    )


@q("corpus_prep_pipeline", _corpus_prep_pipeline_oracle_sql(), memo=True)
def corpus_prep_pipeline(spark, sf_dir):
    """The full training-data recipe end-to-end: quality gate -> language
    keep-list -> exact dedup -> MinHash near-dedup -> surviving corpus
    with quality + lang metadata. Each stage is the tested operator; this
    entry proves they compose (ids flow, no schema drift, one pipeline
    plan). Full oracle (was rows-only): with the MinHash stage on the md5
    hash family, every stage has a SQL twin and the whole composition
    replays in DuckDB.

    r8: the quality + language + fingerprint gates run FUSED
    (functions/text.py:corpus_gate) — one projection over one corpus
    scan instead of the previous quality ⋈ lang ⋈ fingerprint
    three-scan join tree. The gate's TEXT-FREE metadata (ids, scores,
    fingerprints, n_chars) is the multi-consumer frame, so it persists
    tiny; since optimization r14 the MinHash leg reads the settled
    per-corpus shingle_sets layout (semi-joined on the survivor ids)
    instead of re-reading text — documents never caches and the corpus
    pays exactly ONE raw text scan (the gate). Identical semantics,
    same oracle."""
    docs = _t(spark, sf_dir, "documents")
    gated = TXT.corpus_gate(docs, min_tokens=5)
    gmeta = DD._persist(
        gated.select(
            "doc_id",
            "quality_score",
            "lang_pred",
            "fp",
            F.length("text").alias("n_chars"),
        )
    )
    keep = gmeta.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    near_input = docs.join(keep, "doc_id", "left_semi")
    # MinHash shingles from the per-corpus layout (optimization r14):
    # the exact-dedup survivors are an id set over the RAW documents
    # table, and shingling is per-row, so the settled shingle_sets
    # frame semi-joined on the survivor ids equals shingling
    # near_input — the pipeline's third text scan disappears (gate +
    # pruned-minhash-leg scans remain).
    from .sources.shared_text_layout import shingle_sets

    near_pairs = DD.minhash_dedup_pairs(
        near_input, threshold=0.5, hash_family="md5",
        shingled=shingle_sets(spark, sf_dir).join(
            keep.select(F.col("doc_id").alias("id")), "id", "left_semi"
        ),
    )
    drop_ids = near_pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        gmeta.join(keep, "doc_id", "left_semi")
        .join(drop_ids, "doc_id", "left_anti")
        .select("doc_id", "lang_pred", "quality_score", "n_chars")
        .orderBy("doc_id")
    )


def _corpus_prep_full_oracle_sql() -> str:
    """The COMPLETE pipeline replayed in one DuckDB statement, each CTE
    block the same SQL its standalone oracle hash-matches: boilerplate
    strip (doc2/lines), quality gate (min_tokens=5), repetition filter,
    exact dedup, md5-family MinHash near-dedup, 3-gram benchmark
    decontamination at min_overlap=8, md5-bucket split, and the ordered
    prefix-sum sequence packing of the train split."""
    ntok_cl = _NTOK_SQL  # operates on a column literally named `text`
    return rf"""
    WITH {_BP_DOC2_SQL},
    lists AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM doc2),
    segs AS (
      SELECT doc_id, unnest(l) AS seg,
             unnest(range(1, len(l) + 1)) AS pos
      FROM lists
    ),
    hs AS (
      SELECT doc_id, pos, seg,
             md5(regexp_replace(trim(lower(seg)), '\s+', ' ', 'g')) AS h
      FROM segs
    ),
    freq AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM hs GROUP BY h),
    keptl AS (SELECT doc_id, pos, seg
              FROM hs JOIN freq USING (h) WHERE ndocs < 3),
    cl AS (
      SELECT d.doc_id, coalesce(k.txt, '') AS text
      FROM doc2 d LEFT JOIN (
        SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS txt
        FROM keptl GROUP BY doc_id) k USING (doc_id)
    ),
    q AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               {ntok_cl} AS n_tokens,
               round(length(text) / greatest({ntok_cl}, 1), 3)
                 AS avg_token_len,
               round(len(regexp_extract_all(text, '[^\w\s]'))
                     / greatest(length(text), 1), 3) AS punct_ratio,
               round(len(regexp_extract_all(text, '[0-9]'))
                     / greatest(length(text), 1), 3) AS digit_ratio
        FROM cl)
      WHERE n_tokens >= 5 AND punct_ratio <= 0.20 AND digit_ratio <= 0.30
        AND avg_token_len BETWEEN 2.0 AND 12.0
    ),
    rtok AS (
      SELECT doc_id, unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS i
      FROM (SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS toks
            FROM cl)
    ),
    rbst AS (
      SELECT doc_id, max(c) AS maxc, sum(c) AS nbg FROM (
        SELECT a.doc_id, a.w || ' ' || b.w AS bg, count(*) AS c
        FROM rtok a JOIN rtok b
          ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY 1, 2) GROUP BY doc_id
    ),
    rtst AS (
      SELECT doc_id, count(*) AS ntg, count(DISTINCT tg) AS ndtg FROM (
        SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS tg
        FROM rtok a
        JOIN rtok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        JOIN rtok c ON a.doc_id = c.doc_id AND c.i = a.i + 2)
      GROUP BY doc_id
    ),
    rep AS (
      SELECT cl.doc_id FROM cl
      LEFT JOIN rbst b USING (doc_id)
      LEFT JOIN rtst t USING (doc_id)
      WHERE round(COALESCE(b.maxc / b.nbg, 0), 3) < 0.9
        AND round(COALESCE(1 - t.ndtg / CAST(t.ntg AS DOUBLE), 0), 3) < 0.9
    ),
    kept AS (
      SELECT cl.doc_id, cl.text FROM cl
      JOIN q USING (doc_id) JOIN rep USING (doc_id)
    ),
    fp AS (SELECT doc_id, {_FP_SQL} AS fp FROM kept),
    exact_kept AS (
      SELECT doc_id FROM fp
      WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY fp)
    ),
    {_minhash_base_ctes(src="kept")},
    near AS (
      SELECT DISTINCT b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
      JOIN exact_kept ka ON ka.doc_id = a.id
      JOIN exact_kept kb ON kb.doc_id = b.id
      JOIN sh sa ON sa.id = a.id
      JOIN sh sb ON sb.id = b.id
      WHERE len(list_intersect(sa.shingles, sb.shingles))
              / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
    ),
    deduped AS (
      SELECT doc_id FROM exact_kept
      WHERE doc_id NOT IN (SELECT id_b FROM near)
    ),
    tsh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh3
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM cl)
      WHERE doc_id IN (SELECT doc_id FROM deduped)
        AND {_MD5_BUCKET_SQL} >= 5
    ),
    bsh AS (
      SELECT DISTINCT unnest({_SHINGLES_SQL}) AS g
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM doc2)
      WHERE {_MD5_BUCKET_SQL} < 5
    ),
    hits AS (
      SELECT doc_id FROM (
        SELECT tg.doc_id, count(*) AS c
        FROM (SELECT doc_id, unnest(sh3) AS g FROM tsh) tg
        JOIN bsh USING (g) GROUP BY 1)
      WHERE c >= 8
    ),
    final AS (
      SELECT doc_id FROM tsh
      WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    ),
    tr AS (SELECT doc_id FROM final WHERE {_MD5_BUCKET_SQL} < 80),
    pk AS (
      SELECT doc_id, n_tokens,
             CAST(floor((sum(n_tokens) OVER (
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / 512)
                  AS BIGINT) AS pack_id
      FROM (SELECT cl.doc_id, {ntok_cl} AS n_tokens
            FROM cl JOIN tr USING (doc_id))
    )
    SELECT doc_id, 'train' AS split, n_tokens, pack_id
    FROM pk ORDER BY doc_id
    """


@q("corpus_prep_full", _corpus_prep_full_oracle_sql())
def corpus_prep_full(spark, sf_dir):
    """The COMPLETE pretraining-data recipe: boilerplate line removal ->
    quality gate -> repetition filter -> exact dedup -> MinHash near-dedup
    -> benchmark decontamination -> deterministic train/val/test split ->
    sequence packing of the train split. Proves the curation, dedup and
    decontamination operators compose in one flow (ids thread through;
    every stage is individually oracle-checked). Full oracle (was
    rows-only): the MinHash stage now runs the md5 hash family, so the
    WHOLE recipe — eight stages — replays as one DuckDB statement."""
    from .pipeline import curation as CUR
    from .pipeline import decontam as DC
    from .pipeline.curation import md5_bucket

    from .q_curation import _bp_corpus  # deferred: later family module
    raw = _bp_corpus(spark, sf_dir)  # fixture + planted boilerplate lines
    cleaned = CUR.remove_boilerplate_lines(raw, min_docs=3).select(
        "doc_id", F.col("cleaned_text").alias("text")
    )
    quality = TXT.quality_filter(cleaned, min_tokens=5).select("doc_id")
    rep = CUR.repetition_stats(cleaned).filter(
        (F.col("top_bigram_frac") < 0.9) & (F.col("dup_trigram_frac") < 0.9)
    ).select("doc_id")
    kept = cleaned.join(quality, "doc_id").join(rep, "doc_id")
    exact_kept = DD.exact_dedup(kept)
    near_pairs = DD.minhash_dedup_pairs(
        exact_kept, threshold=0.5, hash_family="md5"
    )
    drop_ids = near_pairs.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = exact_kept.join(drop_ids, "doc_id", "left_anti")
    # held-out benchmark = the md5-bucket 0-4 docs (same subset the
    # decontam_* queries use); train side = everything else, decontaminated
    bench = raw.filter(md5_bucket("doc_id", 100) < 5)
    final = DC.decontaminate(
        deduped.filter(md5_bucket("doc_id", 100) >= 5), bench, min_overlap=8
    )
    split = CUR.deterministic_split(final)
    train = split.filter(F.col("split") == "train")
    packed = CUR.pack_sequences(train, target_tokens=512)
    return (
        train.select("doc_id", "split")
        .join(packed, "doc_id")
        .select("doc_id", "split", "n_tokens", "pack_id")
        .orderBy("doc_id")
    )


@q(
    "profile_orders",
    """
    SELECT * FROM (
      SELECT 'o_orderkey' AS column, count(*) AS n_rows,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             count(DISTINCT o_orderkey) AS ndv,
             CAST(min(o_orderkey) AS VARCHAR) AS min_str,
             CAST(max(o_orderkey) AS VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_orderstatus),
             CAST(min(o_orderstatus) AS VARCHAR),
             CAST(max(o_orderstatus) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*),
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS VARCHAR),
             CAST(max(o_custkey) AS VARCHAR)
      FROM orders)
    """,
)
def profile_orders(spark, sf_dir):
    """One-pass table profile (operators/profile.py) on three orders
    columns, exact NDV for oracle parity (the sketch path is default at
    scale). The oracle is the classic one-subquery-per-column UNION — the
    engine computes the same numbers in a single scan."""
    from .operators.profile import profile

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_custkey")
    return profile(o, exact_ndv=True)


@q(
    "embedding_dup_pairs_lsh",
    """
    SELECT CAST(vec_id AS BIGINT) AS id_a,
           CAST(vec_id + 1000000 AS BIGINT) AS id_b
    FROM embeddings
    """,
    memo=True,
)
def embedding_dup_pairs_lsh(spark, sf_dir):
    """The 100 TB scale path for embedding near-dup: multi-table random-
    hyperplane LSH candidates (numpy-matmul bucket assignment per Arrow
    batch) + batched einsum verification.

    Self-certifying recall contract: the corpus is inflated with one
    planted twin per vector at cosine ≈ 0.995 (plant_embedding_twins);
    the fixture corpus itself has no pairs above cosine ~0.52, so the
    detector's output at threshold 0.95 must be EXACTLY the planted
    (id, id+1e6) pairs. 20 tables × 12 hyperplanes puts per-pair miss
    probability at (1-0.968¹²)²⁰ ≈ 1e-10 — recall failures would surface
    as an oracle hash mismatch, not a silent statistic — while random
    pairs (cosine ≈ 0) collide at only 2⁻¹² per table, keeping the
    candidate volume ~Σ|bucket|² linear-ish in N.

    The twin-inflated FIXTURE is memoized per corpus (tag ``emb_twins``):
    planting is test scaffolding, not the operator under measurement,
    and its mapInPandas plan can never cache-match across calls (fresh
    UDF/broadcast identities), so un-memoized it re-ran every bench
    repeat. Parquet round-trips float64 losslessly — same vectors, same
    pairs."""
    inflated = MEMO.dataframe_memo(
        spark,
        "emb_twins",
        sf_dir,
        ["embeddings"],
        lambda: DD.plant_embedding_twins(_t(spark, sf_dir, "embeddings")),
    )
    return (
        DD.embedding_dup_pairs(
            inflated, threshold=0.95, use_lsh=True, n_planes=12, n_tables=20
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@q(
    "profile_quantiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.90), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def profile_quantiles(spark, sf_dir):
    """Grouped order statistics, exact PERCENTILE_CONT semantics (linear
    interpolation — same formula as DuckDB quantile_cont, so the hash
    comparison is meaningful). The approx_percentile sketch variant is the
    scale path (quantiles(approx=True)); its rank-error contract is pinned
    in tests rather than an oracle."""
    from .operators.profile import quantiles

    li = _t(spark, sf_dir, "lineitem")
    out = quantiles(li, "l_extendedprice", by=["l_returnflag"])
    return out.select(
        "l_returnflag",
        *[F.round(F.col(c), 4).alias(c) for c in ("p25", "p50", "p75", "p90")],
    )


# =====================================================================
# Corpus curation (pipeline/curation.py): the between-ingest-and-training
# operators — repetition quality, deterministic split/sample/shuffle,
# sequence packing, PII redaction
# =====================================================================

