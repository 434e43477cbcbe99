"""Heuristic quality filters (C4/Gopher et al.) and source-mixture accounting.

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import DD, F, MEMO, ORACLES, SIM, TXT, Window, _t, q
from .q_pipeline import _DOT_SQL, _NORM_SQL, _TOKENS_SQL
from .q_embeddings import _pq_oracle_sql, _sample_codebooks

def _c4_pages(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    deco = (
        F.when(F.col("doc_id") % 89 == 0, F.lit(" {block}"))
        .when(F.col("doc_id") % 97 == 0, F.lit(" lorem ipsum dolor."))
        .when(F.col("doc_id") % 3 == 0, F.lit("."))
        .when(F.col("doc_id") % 5 == 0, F.lit("!"))
        .otherwise(F.lit(""))
    )
    lines = d.select(
        F.floor(F.col("doc_id") / 13).cast("long").alias("page_id"),
        "doc_id",
        F.concat("text", deco).alias("line"),
    )
    return lines.groupBy("page_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text")
    )


_C4_LINES_SQL = """
    lines AS (
      SELECT doc_id // 13 AS page_id, doc_id,
             text || CASE WHEN doc_id % 89 = 0 THEN ' {block}'
                          WHEN doc_id % 97 = 0 THEN ' lorem ipsum dolor.'
                          WHEN doc_id % 3 = 0 THEN '.'
                          WHEN doc_id % 5 = 0 THEN '!'
                          ELSE '' END AS line
      FROM documents
    ),
    blocked AS (
      SELECT DISTINCT page_id FROM lines
      WHERE contains(lower(line), 'lorem ipsum') OR contains(line, '{')
    ),
    ok AS (SELECT * FROM lines
           WHERE page_id NOT IN (SELECT page_id FROM blocked))
"""


@q(
    "c4_page_clean",
    f"""
    WITH {_C4_LINES_SQL},
    flg AS (
      SELECT page_id, doc_id, line,
             len(regexp_extract_all(trim(line), '\\S+')) AS n_words,
             regexp_matches(trim(line), '[.!?"”]$') AS ends_punct
      FROM ok
    ),
    tot AS (SELECT page_id, count(*) AS n_lines FROM ok GROUP BY page_id),
    kept AS (
      SELECT page_id, count(*) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY doc_id)) AS cleaned_md5
      FROM flg WHERE ends_punct AND n_words >= 5
      GROUP BY page_id HAVING count(*) >= 3
    )
    SELECT k.page_id,
           CAST(t.n_lines AS BIGINT) AS n_lines,
           CAST(k.n_kept AS BIGINT) AS n_kept,
           k.cleaned_md5
    FROM kept k JOIN tot t USING (page_id)
    """,
)
def c4_page_clean(spark, sf_dir):
    """C4-style page cleaning (Raffel et al. 2020 §2.2): drop lines not
    ending in terminal punctuation or under 5 words; drop pages with
    blocklisted content ('lorem ipsum', '{') or fewer than 3 surviving
    lines. cleaned_md5 stands in for the rebuilt page text (same trick as
    boilerplate_removal) so the compare doesn't haul full pages."""
    from .pipeline import heuristics as HEU

    out = HEU.c4_clean(
        _c4_pages(spark, sf_dir),
        text_col="text",
        id_col="page_id",
        min_words_per_line=5,
        min_kept_lines=3,
    )
    return out.select(
        "page_id", "n_lines", "n_kept", F.md5("cleaned_text").alias("cleaned_md5")
    )


@q(
    "gopher_quality_flags",
    """
    WITH w AS (
      SELECT doc_id, text,
             regexp_extract_all(trim(text), '\\S+') AS words
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(words) AS nw,
             round(length(regexp_replace(text, '\\s+', '', 'g'))
                   / greatest(len(words), 1), 3) AS mean_word_len,
             round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                   / greatest(len(words), 1), 4) AS symbol_word_ratio,
             round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                   / greatest(len(words), 1), 3) AS alpha_word_frac,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(words, s))) AS hits
      FROM w
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           mean_word_len,
           symbol_word_ratio,
           alpha_word_frac,
           CAST(hits AS BIGINT) AS stopword_hits,
           (nw >= 50 AND nw <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.10
            AND alpha_word_frac >= 0.80
            AND hits >= 1) AS keep
    FROM m
    """,
)
def gopher_quality_flags(spark, sf_dir):
    """Gopher document-quality rules (Rae et al. 2021 Table A1) as one
    codegen projection — every doc with its metrics and per-rule verdict.
    min_stopword_hits=1 here because the fixture vocabulary contains only
    'the' from the required list; the operator default is the paper's 2."""
    from .pipeline import heuristics as HEU

    return HEU.gopher_quality_flags(
        _t(spark, sf_dir, "documents"), min_stopword_hits=1
    )


# =====================================================================
# Source mixture accounting: the per-source report + blocklist removal a
# corpus owner runs before re-weighting the training mixture
# =====================================================================

_SOURCE_BLOCKLIST = ["src3", "src7", "src11", "src15"]


@q(
    "source_mix_report",
    """
    WITH tot AS (SELECT count(*) AS n, sum(n_chars) AS c FROM documents)
    SELECT source,
           count(*) AS n_docs,
           round(count(*) / (SELECT n FROM tot), 4) AS doc_share,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(sum(n_chars) / (SELECT c FROM tot), 4) AS char_share,
           round(avg(n_chars), 3) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source
    """,
)
def source_mix_report(spark, sf_dir):
    """Per-source mixture report: doc/char share of corpus, size stats,
    language spread. The corpus totals come from a 1-row scalar aggregate
    broadcast back (the q15 shape) — NOT an unpartitioned window."""
    d = _t(spark, sf_dir, "documents")
    tot = d.agg(F.count("*").alias("_n"), F.sum("n_chars").alias("_c"))
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("_chars"),
        F.avg("n_chars").alias("_avg"),
        F.count_distinct("lang").alias("n_langs"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_n"), 4).alias("doc_share"),
        F.col("_chars").cast("long").alias("total_chars"),
        F.round(F.col("_chars") / F.col("_c"), 4).alias("char_share"),
        F.round("_avg", 3).alias("avg_chars"),
        "n_langs",
    )


@q(
    "source_blocklist_clean",
    f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source NOT IN ({", ".join(repr(s) for s in _SOURCE_BLOCKLIST)})
    GROUP BY source
    """,
)
def source_blocklist_clean(spark, sf_dir):
    """Blocklist removal as a broadcast ANTI join against a blocklist
    table (not an IN-literal): at 100 TB the blocklist is a maintained
    table of thousands of domains, and the anti-join shape scales where a
    growing literal predicate would not."""
    d = _t(spark, sf_dir, "documents")
    bl = spark.createDataFrame(
        [(s,) for s in _SOURCE_BLOCKLIST], "source string"
    )
    return (
        d.join(F.broadcast(bl), "source", "left_anti")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@q(
    "group_sample_per_lang",
    """
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def group_sample_per_lang(spark, sf_dir):
    """Deterministic per-language sample (20 docs each) by md5 hash
    order — the reproducible 'pull k docs per stratum' primitive
    (pipeline/curation.py:group_sample_topk)."""
    from .pipeline.curation import group_sample_topk

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return group_sample_topk(d, ["lang"], 20)


@q("ann_topk_ivf_pq", _pq_oracle_sql(ivf=True))
def ann_topk_ivf_pq(spark, sf_dir):
    """FAISS-style IVF-PQ: probe 4 of 8 coarse buckets, ADC-score PQ
    codes inside them, exact-rerank the top-50 shortlist
    (pipeline/similarity.py:ivf_pq_topk). Recall pinned in pytest.
    Full oracle (was rows-only): seeded coarse-centroid literals +
    data-derived sample codebooks let DuckDB replay the entire
    coarse-prune → ADC → re-rank cascade."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_centroids=8,
        n_probe=4,
        n_subspaces=16,
        n_codes=64,
        rerank_k=50,
        codebooks=_sample_codebooks(spark, sf_dir),
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rnk"),
        F.round(F.col("score"), 4).alias("score"),
    )


_CMS_BUCKET_SQL = """
    ((strpos('0123456789abcdef', substring({m}, 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substring({m}, 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substring({m}, 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substring({m}, 4, 1)) - 1)) % 64
"""


@q(
    "cms_token_counts",
    f"""
    WITH toks AS (
      SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
    exact AS (
      SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM toks GROUP BY token),
    b AS (
      SELECT token, exact_cnt, r.range AS row,
             {_CMS_BUCKET_SQL.format(
                 m="md5(CAST(r.range AS VARCHAR) || ':' || token)")} AS bucket
      FROM exact CROSS JOIN range(4) r),
    cells AS (
      SELECT row, bucket, sum(exact_cnt) AS cnt FROM b GROUP BY 1, 2),
    est AS (
      SELECT b.token, CAST(min(c.cnt) AS BIGINT) AS cms_cnt
      FROM b JOIN cells c USING (row, bucket) GROUP BY b.token)
    SELECT e.token, e.exact_cnt, est.cms_cnt
    FROM exact e JOIN est USING (token) ORDER BY token
    """,
)
def cms_token_counts(spark, sf_dir):
    """Count-min sketch demo: build a 4x64 sketch over every token
    occurrence, then point-estimate the 31-token vocabulary against exact
    counts — (token, exact_cnt, cms_cnt). The width is deliberately
    under-provisioned so collisions are visible; est >= exact is pinned
    in pytest (operators/sketches.py:count_min_build).

    hash_fn="md5" (16-bit md5 prefix mod 64; exactly uniform since
    65536 % 64 == 0) instead of the default xxhash64 ONLY so the sketch
    has a full SQL twin: DuckDB restates every cell as the exact_cnt-sum
    of tokens hashing there, and every estimate as the min over its
    depth cells — the whole overestimate structure is hash-matched, not
    just bounded."""
    from .operators.sketches import count_min_build, count_min_estimate

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(TXT.tokens(F.col("text"))).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count("*").cast("long").alias("exact_cnt"))
    # Persist the (tiny, <=depth*width rows) sketch: count_min_estimate
    # reads the geometry metadata off it with a first(), and the probe
    # join reads it again — without the persist the corpus would be
    # scanned twice.
    cms = count_min_build(toks, "token", depth=4, width=64, hash_fn="md5").persist()
    est = count_min_estimate(cms, exact.select("token"), "token")
    return exact.join(est, "token").orderBy("token")


_PR_ITER_SQL = """
    i{K} AS (
      SELECT n.node,
             (15 * 1000000) // (100 * (SELECT n FROM nn))
             + (85 * coalesce(s.sc, 0)) // 100 AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(p.pr // d.deg) AS sc
        FROM edges e
        JOIN i{P} p ON e.src = p.node
        JOIN deg d ON e.src = d.node
        GROUP BY e.dst) s ON n.node = s.node
    )
"""


@q(
    "pagerank_user_events",
    """
    WITH ue AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u,
                                'e:' || event_type AS e FROM events),
    edges AS (SELECT u AS src, e AS dst FROM ue
              UNION ALL SELECT e AS src, u AS dst FROM ue),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst AS node FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    i0 AS (SELECT node, 1000000 // (SELECT n FROM nn) AS pr FROM nodes),
    """
    + _PR_ITER_SQL.format(K=1, P=0)
    + ","
    + _PR_ITER_SQL.format(K=2, P=1)
    + ","
    + _PR_ITER_SQL.format(K=3, P=2)
    + """
    SELECT node, CAST(pr AS BIGINT) AS pr_micro FROM i3
    """,
)
def pagerank_user_events(spark, sf_dir):
    """Integer-exact PageRank (3 rounds) over the bipartite user ↔
    event-type graph — an iterative distributed algorithm with a FULL SQL
    oracle, possible because ranks are integer micro-units with floor
    division everywhere (operators/graph.py:pagerank_micro)."""
    from .operators.graph import pagerank_micro

    ue = (
        _t(spark, sf_dir, "events")
        .select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
            F.concat(F.lit("e:"), F.col("event_type")).alias("e"),
        )
        .distinct()
    )
    edges = ue.select(F.col("u").alias("src"), F.col("e").alias("dst")).unionByName(
        ue.select(F.col("e").alias("src"), F.col("u").alias("dst"))
    )
    return pagerank_micro(edges, iterations=3)


@q(
    "merge_upsert_orders",
    """
    WITH src AS (
      SELECT o_orderkey,
             round(o_totalprice * 2, 2) AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 10000000,
             round(o_totalprice, 2),
             'N'
      FROM orders WHERE o_orderkey % 97 = 0
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
           round(coalesce(s.o_totalprice, t.o_totalprice), 2) AS price,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN s.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    """,
)
def merge_upsert_orders(spark, sf_dir):
    """MERGE INTO semantics on plain tables (operators/merge.py): source =
    doubled prices for every 7th order (UPDATE branch) plus brand-new
    orders for every 97th key (INSERT branch); everything else carries
    through. The doubling keeps the arithmetic exact in binary so the
    hash compare is FP-safe."""
    from .operators.merge import merge_into

    o = _t(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    merged = merge_into(
        o,
        updates.unionByName(inserts),
        key="o_orderkey",
        update_cols=["o_totalprice", "o_orderstatus"],
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
        F.col("_merge_action").alias("merge_action"),
    )


@q(
    "trending_event_types",
    """
    WITH w AS (
      SELECT date_trunc('hour', ts)
               - INTERVAL (CAST(hour(ts) AS INT) % 6) HOUR AS win,
             event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2)
    SELECT win, event_type, CAST(cnt AS BIGINT) AS cnt,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT win, event_type, cnt,
                 row_number() OVER (PARTITION BY win
                                    ORDER BY cnt DESC, event_type) AS rnk
          FROM w)
    WHERE rnk <= 3
    """,
)
def trending_event_types(spark, sf_dir):
    """Trending analysis: top-3 event types per 6-hour tumbling window —
    the batch face of a streaming trending dashboard (windowed counts +
    per-window WindowGroupLimit rank). One (window, type) count shuffle,
    rank state O(k) per window."""
    ev = _t(spark, sf_dir, "events")
    win = F.window("ts", "6 hours").getField("start").alias("win")
    cnt = ev.groupBy(win, "event_type").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("win").orderBy(F.col("cnt").desc(), "event_type")
    return (
        cnt.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("win", "event_type", F.col("cnt").cast("long").alias("cnt"), "rnk")
    )


@q(
    "copurchase_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_partkey % 5 = 0),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    supp AS (SELECT l_partkey, count(*) AS s FROM items GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS together
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT part_a, part_b, CAST(together AS BIGINT) AS together,
           CAST(round(CAST(together AS DOUBLE) * (SELECT n_orders FROM n)
                      / (CAST(sa.s AS DOUBLE) * sb.s) * 1000000)
                AS BIGINT) AS lift_micro
    FROM pairs
    JOIN supp sa ON sa.l_partkey = part_a
    JOIN supp sb ON sb.l_partkey = part_b
    """,
)
def copurchase_lift(spark, sf_dir):
    """Market-basket co-occurrence: part pairs appearing in the same
    order (distinct per order, %5 part filter bounds the item universe),
    min support 2, lift = P(ab)/(P(a)P(b)) in exact integer micro-units.
    The within-basket self-join is bounded by basket size (~7 lines/order)
    — never an unconstrained cross join — and the margins join at
    item-vocabulary scale."""
    li = _t(spark, sf_dir, "lineitem")
    items = (
        li.filter(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_tot = li.agg(F.count_distinct("l_orderkey").alias("_n"))
    supp = items.groupBy("l_partkey").agg(F.count("*").alias("s"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("together"))
        .filter(F.col("together") >= 2)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb"))
    lift = F.round(
        F.col("together").cast("double")
        * F.col("_n")
        / (F.col("sa").cast("double") * F.col("sb"))
        * 1e6
    ).cast("long")
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "part_a", "part_b",
            F.col("together").cast("long").alias("together"),
            lift.alias("lift_micro"),
        )
    )


@q(
    "langid_agreement",
    rf"""
    WITH toks AS (
      SELECT doc_id, source, lang, {_TOKENS_SQL} AS t FROM documents
    ),
    scores AS (
      SELECT doc_id, source, lang,
             len(list_filter(t, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','zu'], x))) AS s_de,
             len(list_filter(t, x -> list_contains(
               ['the','and','of','to','a','in','is','that'], x))) AS s_en,
             len(list_filter(t, x -> list_contains(
               ['el','la','de','que','y','en','un','es'], x))) AS s_es,
             len(list_filter(t, x -> list_contains(
               ['le','la','de','et','un','est','que','pour'], x))) AS s_fr,
             len(list_filter(t, x -> list_contains(
               ['的','是','了','在','我','有','他','这'], x))) AS s_zh
      FROM toks
    ),
    pred AS (
      SELECT doc_id, source, lang,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                  ELSE 'zh' END AS lang_pred
      FROM scores
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           round(avg(CASE WHEN lang_pred = lang THEN 1.0 ELSE 0.0 END), 4)
             AS agree_frac
    FROM pred GROUP BY source
    """,
)
def langid_agreement(spark, sf_dir):
    """Label-quality audit: per source, how often the heuristic language
    detector agrees with the recorded `lang` label — the metadata-trust
    report a corpus owner runs before using labels for filtering. Pure
    composition of the existing lang_id projection + one aggregate."""
    d = _t(spark, sf_dir, "documents")
    pred = TXT.lang_id(d).select("doc_id", "lang_pred")
    joined = d.select("doc_id", "source", "lang").join(pred, "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_agree"),
        F.round(
            F.avg(F.when(F.col("lang_pred") == F.col("lang"), 1.0).otherwise(0.0)),
            4,
        ).alias("agree_frac"),
    )


@q(
    "dedup_keep_best",
    r"""
    WITH f AS (
      SELECT doc_id, n_chars,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      FROM documents)
    SELECT fp,
           CAST(max_by(doc_id, n_chars * 1000000000000 - doc_id) AS BIGINT)
             AS keep_id,
           CAST(max(n_chars) AS BIGINT) AS keep_chars,
           count(*) AS group_size
    FROM f GROUP BY fp
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Quality-priority exact dedup: per content fingerprint keep the
    LONGEST copy (ties → smallest id) instead of blindly the min id —
    the 'keep the best duplicate' policy real pipelines want. One
    map-side-combinable max_by aggregation; no window, no second pass."""
    d = _t(spark, sf_dir, "documents")
    f = d.select("doc_id", "n_chars", TXT.fingerprint("text").alias("fp"))
    # scalar composite key (longest wins, ties -> smallest id): DuckDB's
    # max_by has no struct-key overload, and the integer encoding is
    # engine-portable. 1e12 multiplier keeps the order correct for any
    # doc_id < 1e12 and n_chars < 9.2e6 without overflowing int64
    return f.groupBy("fp").agg(
        F.max_by("doc_id", F.col("n_chars") * 1_000_000_000_000 - F.col("doc_id"))
        .cast("long")
        .alias("keep_id"),
        F.max("n_chars").cast("long").alias("keep_chars"),
        F.count("*").alias("group_size"),
    )


@q(
    "trend_per_event_type",
    """
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
             CAST(value AS DECIMAL(18, 6)) AS y
      FROM events),
    s AS (
      SELECT event_type,
             count(*) AS n,
             sum(x) AS sx,
             sum(CAST(x AS DECIMAL(18, 0)) * x) AS sxx,
             sum(y) AS sy,
             sum(CAST(x AS DECIMAL(18, 0)) * y) AS sxy
      FROM b GROUP BY event_type)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * 86400 * 1000000, 4) AS slope_micro_per_day
    FROM s
    """,
)
def trend_per_event_type(spark, sf_dir):
    """Per-key OLS trend (is this event type's value drifting?): the
    slope comes from sufficient statistics where every sum is EXACT —
    epoch offsets are integers and `value` is summed as DECIMAL(18,6),
    so no accumulation-order dependence — and only the final division is
    floating point. Scaled to micro-units/day. One groupBy; the classic
    map-side-combinable regression shape."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        (F.col("ts").cast("long") - 1704067200).alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    s = b.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        # sxx accumulates as decimal(38,0) (same trick as sxy): a long
        # accumulator is safe at fixture scale (~1e15) but could silently
        # overflow Spark-side only on a much wider epoch range, breaking
        # the cross-engine hash vs DuckDB's HUGEINT.
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y")).alias("sxy"),
    )
    # cast each EXACT sum to double first, then slope arithmetic in
    # doubles — Spark's decimal-overflow scale reduction rounds
    # differently than DuckDB's widening, but identical doubles in,
    # identical doubles out
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(num / den * 86400 * 1e6, 4).alias("slope_micro_per_day"),
    )


@q(
    "price_percentile_by_status",
    """
    SELECT o_orderkey, o_orderstatus,
           round(CAST(rnk - 1 AS DOUBLE) / (cnt - 1), 6) AS pct_rank
    FROM (
      SELECT o_orderkey, o_orderstatus,
             rank() OVER (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice, o_orderkey) AS rnk,
             count(*) OVER (PARTITION BY o_orderstatus) AS cnt
      FROM orders)
    WHERE o_orderkey % 17 = 0
    """,
)
def price_percentile_by_status(spark, sf_dir):
    """Exact percentile rank of each order's price within its status
    group ((rank-1)/(n-1) — integer rank arithmetic, so the double is
    derived identically on both engines). Keyed windows only; the %17
    projection keeps the compare table small while ranks come from the
    FULL group."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    cw = Window.partitionBy("o_orderstatus")
    ranked = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("rnk"),
        F.count("*").over(cw).alias("cnt"),
    )
    return ranked.filter(F.col("o_orderkey") % 17 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(
            (F.col("rnk") - 1).cast("double") / (F.col("cnt") - 1), 6
        ).alias("pct_rank"),
    )


@q(
    "snapshot_diff_orders",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 13 != 0),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus,
             round(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END, 2) AS price
      FROM orders WHERE o_orderkey % 11 != 0)
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_orderstatus = n.o_orderstatus
                     AND o.price = n.price THEN 'unchanged'
                ELSE 'changed' END AS change,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_orderstatus AS new_o_orderstatus,
           o.price AS old_price,
           n.price AS new_price
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    """,
)
def snapshot_diff_orders(spark, sf_dir):
    """Table-version diff (operators/merge.py:snapshot_diff): the 'new'
    snapshot drops %11 keys, the 'old' lacked %13 keys, and %7 keys got a
    status+price edit — so all four change classes appear. One full-outer
    key join; bucketing both snapshots makes it exchange-free."""
    from .operators.merge import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    new = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("U"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.round(
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")),
            2,
        ).alias("price"),
    )
    return snapshot_diff(old, new, key="o_orderkey")


@q(
    "histogram_totalprice",
    """
    WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
               FROM orders)
    SELECT CAST(least(CAST(floor((o_totalprice - lo) / ((hi - lo) / 20)
                           ) AS BIGINT), 19) AS BIGINT) AS bin,
           count(*) AS cnt,
           round(min(o_totalprice), 2) AS bin_min,
           round(max(o_totalprice), 2) AS bin_max
    FROM orders, b GROUP BY 1
    """,
)
def histogram_totalprice(spark, sf_dir):
    """Equi-width 20-bin histogram of order totals: bounds from one
    scalar-agg broadcast (never an unpartitioned window), binning as a
    codegen projection, one small groupBy — the profiling primitive for
    distribution eyeballing at any scale."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    binned = o.crossJoin(F.broadcast(b)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / 20)
            ).cast("long"),
            F.lit(19),
        ).alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("cnt"),
        F.round(F.min("o_totalprice"), 2).alias("bin_min"),
        F.round(F.max("o_totalprice"), 2).alias("bin_max"),
    )


@q(
    "frequent_event_triples",
    """
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events WHERE event_id % 11 = 0
      GROUP BY user_id),
    tri AS (
      SELECT unnest(list_transform(range(1, length(seq) - 1),
                                   i -> substr(seq, CAST(i AS INT), 3)))
               AS triple
      FROM s WHERE length(seq) >= 3)
    SELECT triple, count(*) AS cnt FROM tri
    GROUP BY triple ORDER BY cnt DESC, triple LIMIT 15
    """,
)
def frequent_event_triples(spark, sf_dir):
    """Sequential-pattern mining lite: the 15 most frequent consecutive
    event-type triples across per-user ordered streams (sparse sample so
    sequences vary). Sequence reconstruction is one keyed shuffle; the
    n-gram explode + count is the same map-side-combinable shape as BPE
    pair counting."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    seq = _user_event_seq(ev)
    tri = seq.filter(F.length("seq") >= 3).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("seq") - 2),
                lambda i: F.substring(F.col("seq"), i, 3),
            )
        ).alias("triple")
    )
    return (
        tri.groupBy("triple")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "triple")
        .limit(15)
    )


@q(
    "weighted_sample_docs",
    """
    WITH k AS (
      SELECT doc_id, n_chars,
             round(exp(ln(((strpos('0123456789abcdef',
                                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                           ) * 16
                           + strpos('0123456789abcdef',
                                    substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
                           + 1.0) / 257.0)
                       / n_chars) * 1000000000) AS key_nano
      FROM documents),
    top AS (SELECT doc_id, n_chars, key_nano FROM k
            ORDER BY key_nano DESC, doc_id LIMIT 50)
    SELECT a.doc_id, CAST(a.n_chars AS BIGINT) AS n_chars,
           CAST(a.key_nano AS BIGINT) AS key_nano,
           CAST(1 + count(b.doc_id) AS BIGINT) AS rnk
    FROM top a LEFT JOIN top b
      ON (b.key_nano > a.key_nano)
         OR (b.key_nano = a.key_nano AND b.doc_id < a.doc_id)
    GROUP BY a.doc_id, a.n_chars, a.key_nano
    """,
)
def weighted_sample_docs(spark, sf_dir):
    """Deterministic weighted sampling (Efraimidis-Spirakis A-ES): key =
    u^(1/w) with u derived from the doc's md5 first byte (uniform-ish,
    engine-identical) and w = n_chars; top-50 keys win. Longer docs are
    proportionally likelier — the char-budget-weighted corpus draw —
    and the whole draw replays bit-identically on any engine or
    partitioning (key rounded to integer nano-units). Top-k is
    TakeOrdered-shaped; the final rank is a join-based count over the
    bounded 50-row shortlist — no unpartitioned window anywhere."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    nib = lambda i: F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
    u = (nib(1) * 16 + nib(2) + 1.0) / 257.0
    key_nano = F.round(
        F.exp(F.log(u) / F.col("n_chars")) * 1e9
    ).cast("long")
    scored = d.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                      key_nano.alias("key_nano"))
    top = scored.orderBy(F.col("key_nano").desc(), "doc_id").limit(50)
    # rank within the bounded top-50 via a join-based count of rows ahead
    # (window-free: no single-partition WindowExec even on the tail)
    a, b = top.alias("a"), top.alias("b")
    return (
        a.join(
            b,
            (F.col("b.key_nano") > F.col("a.key_nano"))
            | (
                (F.col("b.key_nano") == F.col("a.key_nano"))
                & (F.col("b.doc_id") < F.col("a.doc_id"))
            ),
            "left",
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.n_chars").alias("n_chars"),
            F.col("a.key_nano").alias("key_nano"),
        )
        .agg((F.count(F.col("b.doc_id")) + 1).cast("long").alias("rnk"))
    )


_BG_SQL = rf"""
    t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(toks[1 : len(toks) - 1]) AS w1,
             unnest(toks[2 : len(toks)]) AS w2
      FROM t WHERE len(toks) >= 2
    )
"""


@q(
    "pmi_collocations",
    f"""
    WITH {_BG_SQL},
    pc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    l AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    r AS (SELECT w2, count(*) AS c2 FROM bg GROUP BY w2),
    n AS (SELECT count(*) AS total FROM bg)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           CAST(round(ln(CAST(c12 AS DOUBLE) * (SELECT total FROM n)
                         / (CAST(c1 AS DOUBLE) * c2)) * 1000000) AS BIGINT)
             AS pmi_micro
    FROM pc JOIN l USING (w1) JOIN r USING (w2)
    WHERE c12 >= 5
    """,
)
def pmi_collocations(spark, sf_dir):
    """Collocation mining: pointwise mutual information per bigram,
    ln(c12·N / (c1·c2)) in exact integer micro-nats, min support 5 —
    three count aggregations on token keys + two broadcast-scale joins
    (the margins are vocab-sized). The classic word-association prep."""
    from .pipeline.lm import _doc_bigrams

    # ONE corpus explode: margins (c1 = Σ_w2 c12, c2 = Σ_w1 c12) and the
    # grand total all derive from the vocab-sized pc aggregate, so the
    # corpus is scanned exactly once
    bg = _doc_bigrams(_t(spark, sf_dir, "documents"), "text", "doc_id")
    # managed persist (released by the harnesses between queries): an
    # inline unpersist-before-return would evict the cache before the
    # LAZY plan ever runs and silently restore the 4-scan behavior
    pc = DD._persist(bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    l_m = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    r_m = pc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = pc.agg(F.sum("c12").alias("_n"))
    pmi = F.round(
        F.log(
            F.col("c12").cast("double")
            * F.col("_n")
            / (F.col("c1").cast("double") * F.col("c2"))
        )
        * 1e6
    ).cast("long")
    # the margins are VOCAB-sized (grow with distinct bigrams, not corpus
    # rows): hint them only while the plan-size estimate stays under the
    # broadcast threshold; on a 100x-vocab corpus the guard declines and
    # the planner/AQE falls back to a shuffled join instead of OOMing a
    # forced 8 GB+ broadcast
    from .plans.hints import broadcast_if_small

    out = (
        pc.join(broadcast_if_small(l_m), "w1")
        .join(broadcast_if_small(r_m), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c12") >= 5)
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"),
                pmi.alias("pmi_micro"))
    )
    return out


@q(
    "event_rate_anomalies",
    """
    WITH hr AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type,
             count(*) AS n,
             sum(c) AS s1,
             sum(c * c) AS s2
      FROM hr GROUP BY event_type)
    SELECT hr.event_type, hr.h, CAST(hr.c AS BIGINT) AS c,
           round((hr.c - CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                        / (CAST(n AS DOUBLE) * (n - 1))), 3) AS zscore
    FROM hr JOIN st USING (event_type)
    WHERE abs((hr.c - CAST(s1 AS DOUBLE) / n)
              / sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                     / (CAST(n AS DOUBLE) * (n - 1)))) >= 2.0
    """,
)
def event_rate_anomalies(spark, sf_dir):
    """Rate-anomaly detection: hourly counts per event type, z-scored
    against the type's own distribution, |z| >= 2 flagged. Variance comes
    from EXACT integer sums (n, Σc, Σc²) — not a streaming stddev whose
    merge order differs across partitionings — so the doubles derive from
    identical integers on every engine and the hash compare holds."""
    ev = _t(spark, sf_dir, "events")
    hr = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("c"))
    st = hr.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("n").cast("double") * F.col("s2")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        hr.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) >= 2.0)
        .select(
            "event_type",
            "h",
            F.col("c").cast("long").alias("c"),
            F.round(z, 3).alias("zscore"),
        )
    )


@q(
    "tfidf_keywords",
    rf"""
    WITH tf AS (
      SELECT doc_id, token, count(*) AS tf FROM
        (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents)
      GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf AS BIGINT) * CAST(round(ln(
               CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df) * 1000000)
               AS BIGINT) AS score_micro
      FROM tf JOIN df USING (token))
    SELECT doc_id, token, score_micro, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT doc_id, token, score_micro,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, token) AS rnk
      FROM scored) WHERE rnk <= 3
    """,
)
def tfidf_keywords(spark, sf_dir):
    """Per-document TF-IDF keyword extraction (top 3): tf · round(ln(N/df)
    ·1e6) as exact integer micro-nats — two count aggregations (token
    keys), a broadcast-scale df join, and a per-doc WindowGroupLimit
    top-k. The classic IR relevance primitive, FP-order-free."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n_tot = d.agg(F.count("*").alias("_n"))  # scalar-agg broadcast, no
    idf_micro = F.round(                      # eager driver count job
        F.log(F.col("_n").cast("double") / F.col("df")) * 1e6
    ).cast("long")
    # the df dictionary is VOCAB-sized: size-guarded hint (see
    # plans/hints.py) — broadcast under threshold, shuffled join above
    from .plans.hints import broadcast_if_small

    scored = (
        tf.join(broadcast_if_small(df_t), "token")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "doc_id",
            "token",
            (F.col("tf").cast("long") * idf_micro).alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "token"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "token", "score_micro", "rnk")
    )


@q(
    "bm25_search_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, len(t) AS dl, unnest(t) AS term
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)),
    corpus AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS sl
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
             any_value(dl) AS dl
      FROM toks WHERE term IN ('dup', 'hash', 'scan')
      GROUP BY doc_id, term),
    dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               CAST(CAST(round(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                          * 1e6) AS BIGINT)
                    * 22 * sl * tf AS DOUBLE)
               / CAST(10 * sl * tf + 3 * sl + 9 * dl * n_docs AS DOUBLE)
             ) AS BIGINT) AS c
      FROM tf JOIN dft USING (term), corpus)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_micro
    FROM scored GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id LIMIT 20
    """,
    memo=True,
)
def bm25_search_topk(spark, sf_dir):
    """Ranked full-text retrieval: BM25 (Lucene non-negative idf, k1=1.2,
    b=0.75) of the query bag {dup, hash, scan} over `documents`, top 20.
    'dup' appears in only ~5% of docs, so the idf spread is real. The
    score is summed integer micro-units via the rational rewrite in
    `pipeline/retrieval.py` — only ln() and one bigint/bigint division
    touch floating point, so the oracle hash-matches exactly. Corpus
    mining primitive: "find docs about X to upsample"."""
    from .pipeline.retrieval import bm25_topk
    from .sources.shared_text_layout import token_doc_stats, token_tf

    # tf/dl/sl from the per-corpus (id, token, tf) layout (optimization
    # r14): zero tokenize scans per query — see retrieval._bm25_tf_corpus
    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["dup", "hash", "scan"], k=20,
        tf_table=token_tf(spark, sf_dir),
        doc_stats=token_doc_stats(spark, sf_dir),
    )


@q(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
      SELECT doc_id, len(t) AS dl, unnest(t) AS term
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)),
    corpus AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS sl
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
             any_value(dl) AS dl
      FROM toks WHERE term IN ('dup', 'hash', 'scan')
      GROUP BY doc_id, term),
    dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
    bm AS (
      SELECT doc_id, CAST(sum(CAST(round(
               CAST(CAST(round(ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
                          * 1e6) AS BIGINT)
                    * 22 * sl * tf AS DOUBLE)
               / CAST(10 * sl * tf + 3 * sl + 9 * dl * n_docs AS DOUBLE)
             ) AS BIGINT)) AS BIGINT) AS score_micro
      FROM tf JOIN dft USING (term), corpus GROUP BY doc_id),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
      FROM bm QUALIFY rnk <= 50),
    vec AS (
      SELECT id AS doc_id, row_number() OVER (ORDER BY score DESC, id) AS rnk
      FROM (
        SELECT e.vec_id AS id,
               {_DOT_SQL.format(a="e.embedding", b="q.embedding")}
                 / ({_NORM_SQL.format(a="e.embedding")}
                    * {_NORM_SQL.format(a="q.embedding")}) AS score
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0)
      QUALIFY rnk <= 50),
    contrib AS (
      SELECT doc_id, CAST(round(1e6 / (60 + rnk)) AS BIGINT) AS c FROM lex
      UNION ALL
      SELECT doc_id, CAST(round(1e6 / (60 + rnk)) AS BIGINT) FROM vec)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT 20
    """,
    memo=True,
)
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid retrieval, the RAG-corpus shape: BM25 leg ({dup, hash,
    scan}) + exact-cosine leg (query = stored embedding of vec_id 0, the
    tables share the 0..N-1 id space) fused with Reciprocal Rank Fusion
    at rrf_k=60, top 20. Leg ranks are n_leg-bounded join-ranks (no
    global window — registry lint); contributions are integer micro
    points, so fusion is FP-free and the oracle hash-matches."""
    from .pipeline.retrieval import hybrid_rrf_topk
    from .sources.shared_text_layout import token_doc_stats, token_tf

    # BM25 leg from the per-corpus (id, token, tf) layout (optimization
    # r14): zero tokenize scans per query — see retrieval._bm25_tf_corpus
    return hybrid_rrf_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        ["dup", "hash", "scan"],
        query_vec_id=0,
        k=20,
        n_leg=50,
        tf_table=token_tf(spark, sf_dir),
        doc_stats=token_doc_stats(spark, sf_dir),
    )


@q(
    "sessionize_events",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                       THEN 1
                  ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           CAST(sum(new_sess) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_no
    FROM g
    """,
)
def sessionize_events(spark, sf_dir):
    """Batch sessionization: a new session starts after a >30 min gap;
    session_no = running count of session starts per user. Two stacked
    windows over ONE keyed shuffle (same partitioning, Catalyst reuses
    the sort) — the batch face of the streaming session_window, exact
    instead of state-store-approximate (operators/temporal.py
    sessionize)."""
    from .operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return sessionize(ev)


@q(
    "sessionize_events_bucketed",
    ORACLES.get("sessionize_events"),
    memo=True,
)
def sessionize_events_bucketed(spark, sf_dir):
    """Identical contract and oracle to `sessionize_events`, run over a
    table bucketed by user_id — the documented hot-user mitigation: the
    keyed shuffle is paid ONCE at write (bucketBy + sortBy user_id) and
    the window's required hashpartitioning(user_id) is satisfied by the
    bucketed scan, so the query plan has ZERO Exchange operators (pinned
    in tests/test_plans.py). At 100 TB every user-keyed window/agg/join
    re-runs against the same layout shuffle-free; SCALE.md measures the
    hot-user probe on both layouts."""
    from .operators.temporal import sessionize
    from .sources.bucketing import write_bucketed

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")

    def build(tmp: str) -> None:
        # write through a scratch catalog name, then drop the entry: the
        # EXTERNAL table's files stay for the memo to promote; the real
        # table is re-declared over the settled path below
        write_bucketed(ev, "events_by_user_sess_build", "user_id", 16, tmp)
        spark.sql("DROP TABLE IF EXISTS events_by_user_sess_build")

    # the bucketed layout is the once-per-corpus artifact (the POINT of
    # bucketing: pay the keyed shuffle at write, reuse it forever) — memo
    # it and re-declare the catalog entry over the settled location, so
    # the timed region measures the shuffle-free sessionize, not ingest
    dest = MEMO.layout_memo(
        "sess_bucket", sf_dir, ["events"], build, markers=["_SUCCESS"]
    )
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in ev.schema)
    spark.sql("DROP TABLE IF EXISTS events_by_user_sess")
    spark.sql(
        f"CREATE TABLE events_by_user_sess ({cols}) USING PARQUET "
        "CLUSTERED BY (user_id) SORTED BY (user_id) INTO 16 BUCKETS "
        f"LOCATION '{dest}'"
    )
    return sessionize(spark.table("events_by_user_sess"))


@q(
    "cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day FROM events
      GROUP BY user_id),
    f AS (SELECT user_id,
                 first_day - CAST(dayofweek(first_day) AS INT) AS cohort_week
          FROM firsts),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor((epoch(CAST(CAST(e.ts AS DATE) AS TIMESTAMP))
                         - epoch(CAST(f.cohort_week AS TIMESTAMP)))
                        / 604800) AS BIGINT) AS week_offset
      FROM events e JOIN f USING (user_id))
    SELECT cohort_week, week_offset, count(*) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by their first-activity week
    (week = Sunday-aligned day truncation, identical arithmetic both
    engines), counted once per (cohort, week-offset) they were active.
    Two aggregations + one broadcast-scale cohort join — the standard
    retention-triangle feed."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("first_day"))
    cohort = firsts.select(
        "user_id",
        # Spark dayofweek is 1-7 (Sun=1), DuckDB's is 0-6 (Sun=0):
        # subtract (dow-1) here to match the oracle's Sunday alignment
        F.date_sub(
            F.col("first_day"), F.dayofweek("first_day").cast("int") - 1
        ).alias("cohort_week"),
    )
    act = (
        ev.select("user_id", F.col("ts").cast("date").alias("d"))
        .join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                (
                    F.col("d").cast("timestamp").cast("long")
                    - F.col("cohort_week").cast("timestamp").cast("long")
                )
                / 604800
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )


@q(
    "mixture_temperature_sampling",
    """
    WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    b AS (
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(round(sqrt(n_docs) * 1000000) AS BIGINT) AS score
      FROM n),
    t AS (SELECT sum(score) AS s FROM b),
    q AS (
      SELECT source, n_docs, score,
             (score * 1000000) // (SELECT s FROM t) AS base,
             (score * 1000000) % (SELECT s FROM t) AS rem
      FROM b),
    tb AS (SELECT sum(base) AS sb FROM q),
    r AS (
      SELECT x.source, count(y.source) AS ahead
      FROM q x LEFT JOIN q y
        ON (y.rem > x.rem) OR (y.rem = x.rem AND y.source < x.source)
      GROUP BY x.source)
    SELECT q.source, q.n_docs, q.score AS w_micro,
           CAST(q.base + CASE WHEN r.ahead < (1000000 - tb.sb)
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM q JOIN r USING (source), tb
    """,
)
def mixture_temperature_sampling(spark, sf_dir):
    """Temperature-based mixture rebalancing (the mT5/XLM-R recipe,
    α = 0.5): per-source sampling mass ∝ n_docs^α, so small sources are
    upweighted relative to their raw share. α = 0.5 is computed via
    sqrt — IEEE-correctly-rounded on every engine, unlike pow/exp — and
    scores feed `largest_remainder_allocation(normalize=True)`: quota =
    score·budget div Σscore stays integer-exact with Σ alloc == budget
    (a 1e6-unit budget here, i.e. ppm sampling rates). One count agg +
    a sources-sized self-join; no window."""
    from .pipeline.curation import largest_remainder_allocation
    from .pipeline.dedup import _persist

    n = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    # persisted: the allocation's bounded collect and the n_docs join
    # below both read this source-cardinality frame — one corpus pass
    scored = _persist(
        n.select(
            "source",
            "n_docs",
            F.round(F.sqrt(F.col("n_docs")) * 1e6)
            .cast("long")
            .alias("w_micro"),
        )
    )
    out = largest_remainder_allocation(
        scored, budget=1_000_000, key_col="source", normalize=True
    )
    return out.join(scored.select("source", "n_docs"), "source").select(
        "source", "n_docs", "w_micro", "alloc"
    )




@q(
    "mixture_token_allocation",
    """
    WITH w AS (
      SELECT DISTINCT source,
             20000 + CAST(substr(source, 4) AS INT) * 3000
             + CASE WHEN source = 'src0' THEN 30000 ELSE 0 END AS w_micro
      FROM documents),
    b AS (
      SELECT source, w_micro,
             (CAST(w_micro AS BIGINT) * 1234567) // 1000000 AS base,
             (CAST(w_micro AS BIGINT) * 1234567) % 1000000 AS rem
      FROM w),
    t AS (SELECT sum(base) AS sb FROM b),
    r AS (
      SELECT x.source, count(y.source) AS ahead
      FROM b x LEFT JOIN b y
        ON (y.rem > x.rem) OR (y.rem = x.rem AND y.source < x.source)
      GROUP BY x.source)
    SELECT b.source,
           CAST(b.w_micro AS BIGINT) AS w_micro,
           CAST(b.base + CASE WHEN r.ahead < (1234567 - t.sb)
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM b JOIN r USING (source), t
    """,
)
def mixture_token_allocation(spark, sf_dir):
    """Mixture planning: allocate a 1,234,567-token budget across sources
    by largest remainder (weights 2-8.9% per source, summing to exactly
    1e6 micro). Integer arithmetic + join-based remainder rank → exact,
    window-free, Σ alloc == budget
    (pipeline/curation.py:largest_remainder_allocation)."""
    from .pipeline.curation import largest_remainder_allocation

    d = _t(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 10).cast("int")
    weights = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (
                20000
                + idx * 3000
                + F.when(F.col("source") == "src0", 30000).otherwise(0)
            ).alias("w_micro"),
        )
    )
    return largest_remainder_allocation(weights, budget=1_234_567)


@q(
    "token_drift_report",
    rf"""
    WITH ta AS (
      SELECT token, count(*) AS cnt_a FROM
        (SELECT unnest({_TOKENS_SQL}) AS token FROM documents
         WHERE doc_id % 2 = 0) GROUP BY token),
    tb AS (
      SELECT token, count(*) AS cnt_b FROM
        (SELECT unnest({_TOKENS_SQL}) AS token FROM documents
         WHERE doc_id % 2 = 1) GROUP BY token),
    v AS (
      SELECT coalesce(ta.token, tb.token) AS token,
             CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
             CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
      FROM ta FULL OUTER JOIN tb ON ta.token = tb.token),
    tot AS (SELECT sum(cnt_a) AS sa, sum(cnt_b) AS sb, count(*) AS nv FROM v)
    SELECT token, cnt_a, cnt_b,
           CAST(round(((cnt_a + 1.0) / (sa + nv))
                      * ln(((cnt_a + 1.0) / (sa + nv))
                           / ((cnt_b + 1.0) / (sb + nv))) * 1000000000)
                AS BIGINT) AS kl_nano
    FROM v, tot
    """,
)
def token_drift_report(spark, sf_dir):
    """Distribution-drift monitor between two corpus snapshots (even vs
    odd doc ids): per-token KL(A‖B) contribution in exact integer
    nano-nats (pipeline/drift.py:token_distribution_drift) — the
    'did this week's crawl shift?' report."""
    from .pipeline.drift import token_distribution_drift

    d = _t(spark, sf_dir, "documents")
    return token_distribution_drift(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)
    )


def _user_event_seq(ev):
    """Per-user first-letter event sequence in (ts, event_id) order — the
    shared reconstruction for funnel_stages and frequent_event_triples."""
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts",
                            "event_id",
                            F.substring("event_type", 1, 1).alias("c"),
                        )
                    )
                ),
                lambda x: x["c"],
            ),
            "",
        ).alias("seq")
    )


@q(
    "funnel_stages",
    """
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM events WHERE event_id % 31 = 0
      GROUP BY user_id
    )
    SELECT CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 3
                WHEN regexp_matches(seq, 'v.*c') THEN 2
                WHEN contains(seq, 'v') THEN 1
                ELSE 0 END AS stage,
           count(*) AS n_users
    FROM s GROUP BY 1
    """,
)
def funnel_stages(spark, sf_dir):
    """Conversion-funnel analysis: per user, the furthest
    view → click → purchase stage reached as an ordered SUBSEQUENCE of
    their event stream (sparse sample: every 31st event, so stages
    actually vary). Sequence assembly is the standard one-keyed-shuffle
    collect + array_sort reconstruction; stage detection is a regex over
    the per-user first-letter string — all codegen, state O(events/user)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 31 == 0)
    seq = _user_event_seq(ev)
    stage = (
        F.when(F.col("seq").rlike("v.*c.*p"), F.lit(3))
        .when(F.col("seq").rlike("v.*c"), F.lit(2))
        .when(F.col("seq").contains("v"), F.lit(1))
        .otherwise(F.lit(0))
    )
    return seq.groupBy(stage.alias("stage")).agg(F.count("*").alias("n_users"))


@q(
    "length_bucket_stats",
    rf"""
    WITH n AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len({_TOKENS_SQL}) END AS n_tokens
      FROM documents
    )
    SELECT CAST(n_tokens // 32 AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           round(1.0 - sum(n_tokens) / (count(*) * max(n_tokens)), 4)
             AS pad_waste_frac
    FROM n GROUP BY 1
    """,
)
def length_bucket_stats(spark, sf_dir):
    """Length-bucketed batching planner: docs grouped into 32-token
    buckets with the padding waste a pad-to-bucket-max batcher pays —
    the report that decides bucket boundaries for efficient training
    batches. One scan + a tiny bucket-keyed aggregate."""
    d = _t(spark, sf_dir, "documents")
    n = d.select(TXT.token_count(F.col("text")).alias("n_tokens"))
    return (
        n.groupBy(F.floor(F.col("n_tokens") / 32).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.round(
                1.0
                - F.sum("n_tokens") / (F.count("*") * F.max("n_tokens")),
                4,
            ).alias("pad_waste_frac"),
        )
    )


@q(
    "scd2_user_versions",
    """
    SELECT user_id, event_id,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WHERE event_id % 20 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_versions(spark, sf_dir):
    """SCD Type 2 dimension build from a change stream: every 20th event
    is a 'profile version'; validity intervals come from one
    key-partitioned lead window (operators/merge.py:scd2_from_changes)."""
    from .operators.merge import scd2_from_changes

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    out = scd2_from_changes(
        ev.select("user_id", "event_id", "ts"),
        key="user_id",
        tiebreak="event_id",
    )
    return out.select(
        "user_id", "event_id",
        "valid_from", "valid_to", "version", "is_current",
    )


@q(
    "scd2_asof_snapshot",
    """
    WITH v AS (
      SELECT user_id, event_id,
             ts AS valid_from,
             lead(ts) OVER w AS valid_to
      FROM events
      WHERE event_id % 20 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, valid_from
    FROM v
    WHERE valid_from <= TIMESTAMP '2024-01-16 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-16 00:00:00')
    """,
)
def scd2_asof_snapshot(spark, sf_dir):
    """TIME TRAVEL: reconstruct the dimension state AS OF 2024-01-16
    from the SCD2 validity intervals (operators/merge.py:asof_snapshot)
    — one row per user that had any version by then, zero extra shuffle
    (the interval filter composes onto the SCD2 window plan). The
    lakehouse `VERSION AS OF` read over interval columns."""
    from .operators.merge import asof_snapshot, scd2_from_changes

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    scd2 = scd2_from_changes(
        ev.select("user_id", "event_id", "ts"), key="user_id", tiebreak="event_id"
    )
    return asof_snapshot(scd2, "2024-01-16 00:00:00").select(
        "user_id", "event_id", "valid_from"
    )


@q(
    "pit_enrich_events",
    """
    WITH v AS (
      SELECT user_id, event_id AS version_event, ts AS valid_from,
             lead(ts) OVER w AS valid_to
      FROM events
      WHERE event_id % 20 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e.event_id, e.user_id, v.version_event
    FROM events e JOIN v
      ON e.user_id = v.user_id
     AND v.valid_from <= e.ts
     AND (v.valid_to IS NULL OR v.valid_to > e.ts)
    WHERE e.event_type = 'purchase'
    """,
)
def pit_enrich_events(spark, sf_dir):
    """POINT-IN-TIME enrichment (the feature-store join): every purchase
    event is joined to the dimension VERSION that was valid at the
    event's own timestamp — never a later one (no feature leakage), via
    the SCD2 validity intervals. Interval containment means at most one
    version matches per (user, ts), so the join is 1:≤1 by construction.
    Plan: the SCD2 side is dimension-sized → broadcast; the interval
    predicate evaluates on the build side with zero fact-side shuffle.
    At 100 TB with a fact-sized dimension the same query runs as the
    banded `range_join_point_interval` instead — the call site swaps,
    the semantics don't."""
    from .operators.merge import scd2_from_changes

    ev = _t(spark, sf_dir, "events")
    dim = scd2_from_changes(
        ev.filter(F.col("event_id") % 20 == 0).select(
            "user_id", F.col("event_id").alias("version_event"), "ts"
        ),
        key="user_id",
        tiebreak="version_event",
    ).select("user_id", "version_event", "valid_from", "valid_to")
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return fact.join(
        F.broadcast(dim),
        (fact.user_id == dim.user_id)
        & (dim.valid_from <= fact.ts)
        & (dim.valid_to.isNull() | (dim.valid_to > fact.ts)),
    ).select("event_id", fact.user_id.alias("user_id"), "version_event")


@q("ndv_daily_to_weekly")  # rows-only: HLL estimates have no SQL twin;
def ndv_daily_to_weekly(spark, sf_dir):  # merge==direct + error pinned in pytest
    """Continuous-aggregate pattern for DISTINCT counts: per-day HLL
    sketches of active users (`operators/sketches.py:ndv_partials`, the
    shuffle carries O(2^lg_k)-byte sketches) merged up to weeks with
    `ndv_rollup` — the corpus is never rescanned at the coarse grain,
    the re-aggregation property exact COUNT(DISTINCT) cannot have.
    Lossless-merge (rollup == direct weekly sketch) and the 5% error
    contract are pinned in pytest."""
    from .operators.sketches import ndv_partials, ndv_rollup

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("week", F.col("ts")).alias("week"),
        "user_id",
    )
    daily = ndv_partials(ev, ["week", "day"], "user_id")
    return (
        ndv_rollup(daily.drop("day"), "week")
        .select("week", "ndv_est", "n_rows")
        .orderBy("week")
    )


@q(
    "bigram_lm_table",
    f"""
    WITH {_BG_SQL},
    pc AS (SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2),
    cc AS (SELECT w1, count(*) AS ctx_cnt FROM bg GROUP BY w1)
    SELECT p.w1, p.w2,
           CAST(p.cnt AS BIGINT) AS cnt,
           CAST(c.ctx_cnt AS BIGINT) AS ctx_cnt,
           CAST(round(ln(p.cnt / c.ctx_cnt) * 1000000) AS BIGINT) AS logp_micro
    FROM pc p JOIN cc c USING (w1)
    """,
)
def bigram_lm_table(spark, sf_dir):
    """Distributed bigram LM training (pipeline/lm.py:bigram_lm): MLE
    conditional probabilities as exact integer micro-nats."""
    from .pipeline import lm as LM

    return LM.bigram_lm(_t(spark, sf_dir, "documents"))


@q(
    "doc_perplexity_lm",
    f"""
    WITH {_BG_SQL},
    pc AS (SELECT w1, w2, count(*) AS cnt FROM bg
           WHERE doc_id % 5 != 0 GROUP BY w1, w2),
    cc AS (SELECT w1, count(*) AS ctx_cnt FROM bg
           WHERE doc_id % 5 != 0 GROUP BY w1),
    lm AS (SELECT p.w1, p.w2,
                  CAST(round(ln(p.cnt / c.ctx_cnt) * 1000000) AS BIGINT) AS lp
           FROM pc p JOIN cc c USING (w1)),
    sc AS (SELECT b.doc_id, coalesce(l.lp, -13815511) AS lp
           FROM bg b LEFT JOIN lm l USING (w1, w2)
           WHERE b.doc_id % 5 = 0),
    a AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS micro
          FROM sc GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(-micro / 1000000.0 / n_bigrams, 6) AS avg_neg_logp,
           round(exp(round(-micro / 1000000.0 / n_bigrams, 6)), 3) AS ppl
    FROM a
    """,
)
def doc_perplexity_lm(spark, sf_dir):
    """CCNet-style LM quality signal: train the bigram LM on the corpus
    side (doc_id % 5 != 0), score the incoming shard (doc_id % 5 == 0)
    with exact integer micro-nat sums — no FP accumulation-order
    divergence (pipeline/lm.py:doc_perplexity)."""
    from .pipeline import lm as LM

    docs = _t(spark, sf_dir, "documents")
    lm = LM.bigram_lm(docs.filter(F.col("doc_id") % 5 != 0))
    return LM.doc_perplexity(docs.filter(F.col("doc_id") % 5 == 0), lm)


@q(
    "doc_chunks",
    rf"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, len(toks), 24)) AS start
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(start // 24 AS BIGINT) AS chunk_idx,
           CAST(least(32, n - start) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(toks[start + 1 : start + 32], ' ')) AS chunk_md5
    FROM s
    """,
)
def doc_chunks(spark, sf_dir):
    """Sliding-window chunking (32-token windows, stride 24 — overlap 8):
    the long-document → training-context splitter
    (pipeline/curation.py:chunk_documents). Map-only, no shuffle; chunk
    text is md5'd for the compare."""
    from .pipeline.curation import chunk_documents

    out = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )
    return out.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


@q(
    "bpe_merge_top20",
    rf"""
    SELECT pair, CAST(cnt AS BIGINT) AS cnt FROM (
      SELECT pair, count(*) AS cnt FROM (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substr(w, CAST(i AS INT), 2))) AS pair
        FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)
        WHERE length(w) >= 2)
      GROUP BY pair)
    ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def bpe_merge_top20(spark, sf_dir):
    """First BPE training iteration, distributed: adjacent character-pair
    counts over every word occurrence, top-20 merge candidates
    (functions/text.py:bpe_merge_candidates)."""
    return TXT.bpe_merge_candidates(_t(spark, sf_dir, "documents"), top_n=20)


# =====================================================================
# Z-order layout (sources/layout.py): Morton z-values for two-dimensional
# data skipping — Delta/Iceberg OPTIMIZE ZORDER on plain parquet
# =====================================================================

