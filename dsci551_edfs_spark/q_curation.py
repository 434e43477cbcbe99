"""Corpus curation: mixtures/splits/packing, benchmark decontamination, boilerplate removal, semantic dedup.

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import DD, F, MEMO, Window, _t, q
from .q_pipeline import (
    _CLUSTERS_ORACLE,
    _DOT_SQL,
    _NORM_SQL,
    _SHINGLES_SQL,
    _TOKENS_SQL,
    _ivf_cents_sql,
    _minhash_oracle_sql,
    dedup_clusters_star,
)
from .q_relational_ext import (
    _BP_DOC2_SQL,
    _BP_FOOTER,
    _BP_HEADER,
    _MD5_BUCKET_SQL,
)

def _md5_bucket_sql(col: str) -> str:
    """DuckDB restatement of curation.md5_bucket(col, 100) for any column:
    first 4 hex nibbles of md5(col-as-string) as an int, mod 100 (DuckDB
    lacks hex->int conversion, so the nibbles are rebuilt with strpos)."""
    m = f"md5(CAST({col} AS VARCHAR))"
    return f"""
    ((strpos('0123456789abcdef', substring({m}, 1, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substring({m}, 2, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substring({m}, 3, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substring({m}, 4, 1)) - 1)) % 100
"""




@q(
    "repetition_stats",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(toks) AS w,
             unnest(generate_series(1, len(toks))) AS i
      FROM t
    ), bg AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS bg
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), tg AS (
      SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS tg
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                 JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ), bstat AS (
      SELECT doc_id, max(c) AS maxc, sum(c) AS nbg FROM (
        SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
      ) GROUP BY doc_id
    ), tstat AS (
      SELECT doc_id, count(*) AS ntg, count(DISTINCT tg) AS ndtg
      FROM tg GROUP BY doc_id
    )
    SELECT d.doc_id,
           round(COALESCE(b.maxc / b.nbg, 0), 3) AS top_bigram_frac,
           round(COALESCE(1 - ts.ndtg / CAST(ts.ntg AS DOUBLE), 0), 3)
             AS dup_trigram_frac
    FROM documents d
    LEFT JOIN bstat b USING (doc_id)
    LEFT JOIN tstat ts USING (doc_id)
    """,
)
def repetition_stats(spark, sf_dir):
    """Gopher-family repetition metrics: most-frequent-bigram fraction and
    duplicate-trigram fraction per document. Trigram dedup fraction is a
    shuffle-free HOF projection; the bigram mode is one explode +
    two-level groupBy on (doc, bigram)."""
    from .pipeline import curation as CUR

    return CUR.repetition_stats(_t(spark, sf_dir, "documents"))


@q(
    "corpus_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_MD5_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_MD5_BUCKET_SQL} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def corpus_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by md5 bucket —
    stable under re-runs and re-partitioning, never rand()."""
    from .pipeline import curation as CUR

    return CUR.deterministic_split(_t(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )


@q(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    ),
    pairs AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                 AS jaccard
        FROM s a, s b WHERE a.doc_id < b.doc_id)
      WHERE jaccard >= 0.2
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT doc_id AS node, doc_id AS r FROM documents
      UNION
      SELECT e.u AS node, r.r FROM edges e JOIN reach r ON e.v = r.node
    ),
    comp AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CASE WHEN {_md5_bucket_sql("cluster_id")} < 80 THEN 'train'
                WHEN {_md5_bucket_sql("cluster_id")} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM comp
    """,
)
def leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/val/test split: md5 bucket of the CLUSTER id
    (3-gram Jaccard components, same clustering as `dedup_clusters`), so
    a test document's near-duplicates can never land in train — the
    eval-leakage failure mode a per-doc split has by construction. The
    oracle recomputes the components with a recursive CTE and re-buckets
    on the component label, verifying the transitive same-side property
    end-to-end (pipeline/curation.py:leakage_safe_split)."""
    from .pipeline import curation as CUR

    return CUR.leakage_safe_split(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2
    ).orderBy("doc_id")


@q(
    "corpus_sample_stratified",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_MD5_BUCKET_SQL} <
          CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 40
                      WHEN 'src2' THEN 20 ELSE 10 END
    """,
)
def corpus_sample_stratified(spark, sf_dir):
    """Deterministic per-source downsampling (mixture re-weighting): keep
    a row iff its md5 bucket clears its stratum's fraction. A single
    narrow filter — pipelines into the scan, shuffles nothing."""
    from .pipeline import curation as CUR

    return CUR.stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.8, "src1": 0.4, "src2": 0.2},
        default_fraction=0.1,
    ).select("doc_id", "source")


@q(
    "corpus_shuffle_order",
    """
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS shuffle_pos
    FROM documents
    """,
)
def corpus_shuffle_order(spark, sf_dir):
    """Deterministic global pretraining order: rank by md5(doc_id).
    Executes as a range-partitioned distributed sort."""
    from .pipeline import curation as CUR

    return CUR.global_shuffle_order(_t(spark, sf_dir, "documents"))


@q(
    "training_shard_manifest",
    """
    WITH o AS (
      SELECT doc_id, n_chars,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) - 1 AS pos
      FROM documents)
    SELECT CAST(pos // 64 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(min(pos) AS BIGINT) AS first_pos,
           CAST(max(pos) AS BIGINT) AS last_pos
    FROM o GROUP BY 1
    """,
)
def training_shard_manifest(spark, sf_dir):
    """Export planning: the deterministic global shuffle order
    (`corpus_shuffle_order`, two-phase bucketed rank — never a
    single-partition sort) cut into fixed-64-doc shards, with the
    per-shard doc/char totals and position range a shard writer records
    in its manifest. Contiguous rank ranges mean each shard is one
    `write.partitionBy(shard_id)` task's worth of SEQUENTIAL examples —
    the layout a dataloader streams without seeking. One rank pass + one
    shard-keyed agg."""
    from .pipeline import curation as CUR

    docs = _t(spark, sf_dir, "documents")
    order = CUR.global_shuffle_order(docs)
    j = order.join(docs.select("doc_id", "n_chars"), "doc_id").select(
        (F.col("shuffle_pos") - 1).alias("pos"), "n_chars"
    )
    return (
        j.groupBy(F.expr("pos div 64").cast("long").alias("shard_id"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
        )
    )


@q(
    "sequence_packing",
    r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+'))
             END AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT)
             AS pack_id
    FROM t
    """,
)
def sequence_packing(spark, sf_dir):
    """Concat-and-chunk packing into 512-token windows in deterministic
    shuffle order: pack_id = window holding the doc's first token.
    Bucketed two-phase prefix sum — never a single-partition window."""
    from .pipeline import curation as CUR

    return CUR.pack_sequences(_t(spark, sf_dir, "documents"), target_tokens=512)


@q(
    "batch_padding_report",
    r"""
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                  END AS BIGINT) AS n_tokens
      FROM documents),
    rb AS (SELECT n_tokens,
                  row_number() OVER (ORDER BY n_tokens // 64, k, doc_id)
                    AS rn
           FROM t),
    rs AS (SELECT n_tokens,
                  row_number() OVER (ORDER BY k, doc_id) AS rn
           FROM t),
    bb AS (SELECT (rn - 1) // 16 AS b, count(*) AS c,
                  max(n_tokens) AS mx, sum(n_tokens) AS sm
           FROM rb GROUP BY 1),
    bs AS (SELECT (rn - 1) // 16 AS b, count(*) AS c,
                  max(n_tokens) AS mx, sum(n_tokens) AS sm
           FROM rs GROUP BY 1)
    SELECT 'length_bucketed' AS strategy,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(c * mx) AS BIGINT) AS padded_tokens,
           CAST(sum(c * mx) - sum(sm) AS BIGINT) AS waste_tokens,
           CAST((sum(c * mx) - sum(sm)) * 1000000 // sum(c * mx)
                AS BIGINT) AS waste_ppm
    FROM bb
    UNION ALL
    SELECT 'shuffled',
           CAST(count(*) AS BIGINT),
           CAST(sum(c * mx) AS BIGINT),
           CAST(sum(c * mx) - sum(sm) AS BIGINT),
           CAST((sum(c * mx) - sum(sm)) * 1000000 // sum(c * mx)
                AS BIGINT)
    FROM bs
    """,
)
def batch_padding_report(spark, sf_dir):
    """Dynamic-padding batch waste, shuffled vs length-bucketed loader
    order (pipeline/curation.py:batch_padding_report): batches of 16 pad
    to their max member, and bucketing by ⌊n_tokens/64⌋ collapses the
    padding — the report quantifies by how much, in exact integers. Both
    global ranks are the 256-way two-phase prefix, never a
    single-partition sort."""
    from .pipeline import curation as CUR

    return CUR.batch_padding_report(
        _t(spark, sf_dir, "documents"), batch_size=16, bucket_width=64
    )


@q(
    "pii_redact",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g') AS redacted
    FROM documents
    """,
)
def pii_redact(spark, sf_dir):
    """Email/phone redaction — codegen regexp_replace, ASCII-anchored so
    Java regex and DuckDB's RE2 agree byte-for-byte."""
    from .pipeline import curation as CUR

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", CUR.redact_pii("text").alias("redacted"))


@q(
    "corpus_mixture_weighted",
    f"""
    WITH b AS (
      SELECT doc_id, source, {_MD5_BUCKET_SQL} AS bucket FROM documents
      WHERE source IN ('src0', 'src1')
    ), n AS (
      SELECT doc_id, source,
             CASE WHEN source = 'src0'
                  THEN 2 + CASE WHEN bucket < 30 THEN 1 ELSE 0 END
                  ELSE CASE WHEN bucket < 50 THEN 1 ELSE 0 END
             END AS n_copies
      FROM b
    )
    SELECT doc_id, source,
           unnest(generate_series(0, CAST(n_copies - 1 AS BIGINT))) AS copy
    FROM n WHERE n_copies > 0
    """,
)
def corpus_mixture_weighted(spark, sf_dir):
    """Mixture re-weighting, both directions at once: the high-quality
    source (src0) is epoch-upsampled 2.3x (every doc twice, a stable 30%
    thrice), the bulk source (src1) is downsampled to 0.5x — all md5-
    deterministic, no rand(), so the assembled corpus is identical on
    every re-run and every partitioning."""
    from .pipeline import curation as CUR

    docs = _t(spark, sf_dir, "documents")
    up = CUR.upsample_repeat(
        docs.filter(F.col("source") == "src0"), 2.3
    ).select("doc_id", "source", "copy")
    down = (
        CUR.stratified_sample(docs, {"src1": 0.5}, default_fraction=0.0)
        .select("doc_id", "source", F.lit(0).alias("copy"))
    )
    return up.unionByName(down)


@q(
    "duplicate_reweighting",
    _CLUSTERS_ORACLE.replace(
        "SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node",
        """, lab AS (
      SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           CAST(1000000 // count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS weight_ppm""",
    )
    + " FROM lab",
    memo=True,
)
def duplicate_reweighting(spark, sf_dir):
    """Soft dedup: instead of dropping near-duplicates, weight every doc
    by 1/|its near-dup cluster| (integer ppm) so each duplicate FAMILY
    contributes one doc-equivalent to the training mix — the
    reweighting alternative to hard removal that keeps rare phrasing
    variants while killing the over-representation. Rides the memoized
    star-CC labels (same clusters the dedup queries pin against the
    recursive-CTE oracle); the size count is one cluster-KEYED window
    over the label table — label-table-sized work, never corpus-sized."""
    labels = dedup_clusters_star(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    size = F.count("*").over(w)
    return labels.select(
        "doc_id",
        "cluster_id",
        size.cast("long").alias("cluster_size"),
        F.floor(F.lit(1000000) / size).cast("long").alias("weight_ppm"),
    )


@q("minhash_dedup_pairs_estimate", _minhash_oracle_sql(estimate=True))
def minhash_dedup_pairs_estimate(spark, sf_dir):
    """The 100 TB mode of MinHash dedup: Jaccard estimated from signature
    agreement — nothing larger than the 8*k-byte signatures is ever
    shuffled (exact_verify re-joins shingle arrays; this doesn't). Full
    oracle via the md5 hash family: DuckDB recomputes the signatures and
    the per-position agreement count exactly."""
    d = _t(spark, sf_dir, "documents")
    out = DD.minhash_dedup_pairs(
        d, threshold=0.5, exact_verify=False, hash_family="md5"
    )
    return out.select(
        "id_a", "id_b", F.round("jaccard", 3).alias("jaccard_est")
    )


@q(
    "stream_static_enrich",
    """
    SELECT e.event_id, e.user_id,
           CASE e.user_id % 3 WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                ELSE 'bronze' END AS tier
    FROM events e
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment (batch mode; the streaming run of the SAME
    function is pinned equal in tests/test_streaming.py): every event
    left-joins a broadcast user-tier dimension — zero stream state."""
    from .streaming.windows import static_enrich

    ev = _t(spark, sf_dir, "events")
    dim = ev.select("user_id").distinct().withColumn(
        "tier",
        F.when(F.col("user_id") % 3 == 0, "gold")
        .when(F.col("user_id") % 3 == 1, "silver")
        .otherwise("bronze"),
    )
    return static_enrich(ev, dim).select("event_id", "user_id", "tier")


@q(
    "hypertable_rollup_day",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           event_type AS key,
           count(*) AS n_events,
           round(sum(value), 3) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           round(round(sum(value), 3) / count(*), 3) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    memo=True,
)
def hypertable_rollup_day(spark, sf_dir):
    """Hypertable continuous aggregate: materialize an HOURLY rollup of
    events (mergeable partials only, Hive-partitioned by day), then
    re-aggregate the rollup to DAY grain without touching the raw table.
    The oracle states the day grain directly over raw events — equality
    proves the partials merge losslessly (avg derived from merged
    sum/count, never stored)."""
    from .operators import rollup_hypertable as HT

    # the hourly rollup is a continuous aggregate: materialized ONCE per
    # corpus version (memo store), queried many times — the timed region
    # measures the hypertable value proposition (re-aggregate the rollup),
    # not rebuilding it per call (r9 timed-region purity)
    dest = MEMO.layout_memo(
        "rollup_hour",
        sf_dir,
        ["events"],
        lambda tmp: HT.build_rollup(
            _t(spark, sf_dir, "events"), tmp, bucket="1 hour"
        ),
        markers=["_SUCCESS"],
    )
    day = HT.reaggregate(HT.read_rollup(spark, dest), grain="1 day")
    # avg restated from the ROUNDED sum on both sides: the merged-partial
    # sum and the oracle's single-pass sum can differ in the last double
    # bit, which flips round(.,3) at an x.xxx5 boundary — rounding first
    # pins both engines to the identical dividend.
    return day.select(
        "bucket_start",
        "key",
        "n_events",
        F.round("sum_value", 3).alias("sum_value"),
        "min_value",
        "max_value",
        F.round(F.round("sum_value", 3) / F.col("n_events"), 3).alias("avg_value"),
    )


# =====================================================================
# Benchmark decontamination (n-gram overlap vs a held-out eval set)
# =====================================================================

# Deterministic benchmark subset: md5 buckets 0-4 (5% of docs) play the
# held-out eval set; the remaining 95% are the training corpus.
_DECONTAM_CTES = f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    ),
    bench AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE {_MD5_BUCKET_SQL} < 5
    ),
    train AS (SELECT doc_id, sh FROM s WHERE {_MD5_BUCKET_SQL} >= 5),
    tg AS (SELECT doc_id, unnest(sh) AS g FROM train),
    hits AS (
      SELECT doc_id, count(*) AS overlap_ngrams
      FROM tg JOIN bench USING (g) GROUP BY doc_id
    )
"""


@q(
    "curation_pipeline_e2e",
    f"""
    WITH pool AS (
      SELECT * FROM documents WHERE {_MD5_BUCKET_SQL} >= 5),
    w AS (
      SELECT doc_id, text,
             regexp_extract_all(trim(text), '\\S+') AS words
      FROM pool),
    m AS (
      SELECT doc_id,
             len(words) AS nw,
             round(length(regexp_replace(text, '\\s+', '', 'g'))
                   / greatest(len(words), 1), 3) AS mwl,
             round(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                   / greatest(len(words), 1), 4) AS swr,
             round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                   / greatest(len(words), 1), 3) AS awf,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(words, s))) AS hits
      FROM w),
    quality AS (
      SELECT doc_id FROM m
      WHERE nw >= 50 AND nw <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
        AND swr <= 0.10 AND awf >= 0.80 AND hits >= 1),
    fp AS (
      SELECT p.doc_id,
             md5(regexp_replace(lower(trim(p.text)), '\\s+', ' ', 'g')) AS f
      FROM pool p JOIN quality q USING (doc_id)),
    canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)),
    bench AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE {_MD5_BUCKET_SQL} < 5),
    tg AS (SELECT s.doc_id, unnest(s.sh) AS g
           FROM s JOIN canon USING (doc_id)),
    dirty AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bench USING (g)),
    clean AS (SELECT doc_id FROM canon
              WHERE doc_id NOT IN (SELECT doc_id FROM dirty))
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS n_chars
    FROM documents d JOIN clean USING (doc_id)
    GROUP BY d.source
    """,
    memo=True,
)
def curation_pipeline_e2e(spark, sf_dir):
    """FLAGSHIP composition — the whole curation recipe as ONE lazy plan:
    quality gate (Gopher rules, scan-bound projection) → exact dedup
    (min-id canonical, fingerprint groupBy) → benchmark decontamination
    (3-gram overlap vs the md5-bucket<5 held-out set, bench side reduced
    to a broadcast hash set) → per-source survival report. Each stage
    narrows the corpus before the next pays for it (the deduped pool is
    the one pinned intermediate: decontam, the clean semi-join and the
    report all consume it) and every stage's semantics are individually
    oracle-pinned
    (gopher_quality_flags / dedup_exact_* / decontam_clean), so this row
    verifies their COMPOSITION end-to-end."""
    from .pipeline import decontam as DC
    from .pipeline import heuristics as HEU
    from .pipeline.curation import md5_bucket

    docs = _t(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", 100)
    pool = docs.filter(b >= 5)
    bench = docs.filter(b < 5)
    keep = (
        HEU.gopher_quality_flags(pool, min_stopword_hits=1)
        .filter("keep")
        .select("doc_id")
    )
    quality = pool.join(keep, "doc_id", "left_semi")
    # the deduped pool has 3+ consumers (decontam's n-gram pass, the
    # clean semi-join, the final agg) and its subtree re-runs the
    # quality gate + dedup joins per consumer — pin it once
    deduped = DD._persist(DD.exact_dedup(quality))
    # decontam sides from the per-corpus gram-hash layout (optimization
    # r14): the train posting is the settled layout semi-joined on the
    # deduped ids (shingling is per-row, so the id filter commutes) and
    # the bench gram set is an id-predicate filter of the same scan —
    # the decontam stage re-tokenizes NOTHING.
    from .sources.shared_text_layout import gram_posting

    gp = gram_posting(spark, sf_dir)
    flags = DC.ngram_overlap_contamination(
        deduped, bench, n=3, min_overlap=1,
        posting=gp.join(
            deduped.select(F.col("doc_id").alias("id")), "id", "left_semi"
        ),
        bench_grams=gp.filter(md5_bucket("id", 100) < 5)
        .select("gh")
        .distinct(),
    )
    clean = deduped.join(
        flags.filter(~F.col("contaminated")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return clean.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


@q(
    "decontam_overlap",
    _DECONTAM_CTES
    + """
    SELECT tr.doc_id,
           CAST(len(tr.sh) AS BIGINT) AS n_ngrams,
           CAST(coalesce(h.overlap_ngrams, 0) AS BIGINT) AS overlap_ngrams,
           round(coalesce(h.overlap_ngrams, 0)
                 / CAST(len(tr.sh) AS DOUBLE), 6) AS overlap_frac,
           coalesce(h.overlap_ngrams, 0) >= 1 AS contaminated
    FROM train tr LEFT JOIN hits h USING (doc_id)
    """,
    memo=True,
)
def decontam_overlap(spark, sf_dir):
    """GPT-3/PaLM-style benchmark decontamination stats: per training doc,
    how many distinct word 3-grams it shares with the held-out benchmark
    subset (md5 buckets 0-4). The benchmark side is reduced to its distinct
    8-byte n-gram hash set and broadcast — corpus text never shuffles.
    Both sides read the per-corpus gram-hash layout
    (shared_text_layout.gram_posting — optimization r14): the md5-bucket
    split is an id predicate, so filtering the settled posting equals
    shingling the filtered docs, and the query pays ZERO tokenize scans."""
    from .pipeline import decontam as DC
    from .pipeline.curation import md5_bucket
    from .sources.shared_text_layout import gram_posting

    docs = _t(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", 100)
    gp = gram_posting(spark, sf_dir)
    gb = md5_bucket("id", 100)
    return DC.ngram_overlap_contamination(
        docs.filter(b >= 5), docs.filter(b < 5), n=3, min_overlap=1,
        posting=gp.filter(gb >= 5),
        bench_grams=gp.filter(gb < 5).select("gh").distinct(),
    )


@q(
    "decontam_clean",
    _DECONTAM_CTES
    + """
    SELECT d.doc_id, d.n_chars FROM documents d
    JOIN train tr ON d.doc_id = tr.doc_id
    WHERE d.doc_id NOT IN
          (SELECT doc_id FROM hits WHERE overlap_ngrams >= 2)
    """,
)
def decontam_clean(spark, sf_dir):
    """Decontaminated training corpus at min_overlap=2 (anti-join on the
    flagged id set; rows pass through untouched). The flagged-id
    computation reads the per-corpus gram-hash layout on both sides
    (same commuting-filter argument as `decontam_overlap` —
    optimization r14); only the final anti-join touches the raw rows."""
    from .pipeline import decontam as DC
    from .pipeline.curation import md5_bucket
    from .sources.shared_text_layout import gram_posting

    docs = _t(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", 100)
    gp = gram_posting(spark, sf_dir)
    gb = md5_bucket("id", 100)
    return DC.decontaminate(
        docs.filter(b >= 5), docs.filter(b < 5), n=3, min_overlap=2,
        posting=gp.filter(gb >= 5),
        bench_grams=gp.filter(gb < 5).select("gh").distinct(),
    ).select("doc_id", "n_chars")


@q(
    "semantic_decontam",
    f"""
    WITH b AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 20 = 0),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
    s AS (
      SELECT c.vec_id,
             round({_DOT_SQL.format(a="c.embedding", b="b.embedding")}
                   / ({_NORM_SQL.format(a="c.embedding")}
                      * {_NORM_SQL.format(a="b.embedding")}), 4) AS c4
      FROM c, b)
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits,
           max(c4) AS max_cosine
    FROM s WHERE c4 >= 0.4 GROUP BY vec_id
    """,
)
def semantic_decontam_report(spark, sf_dir):
    """Embedding-space contamination report — catches paraphrased
    benchmark leakage that shares no surface n-grams with the eval set
    (the case `decontam_overlap` is blind to). The %20==0 shard plays
    the benchmark; for each corpus vector colliding at cosine ≥ 0.4 the
    report gives its hit count and strongest collision. Only the bounded
    benchmark matrix is broadcast; the corpus streams through one Arrow
    matmul scan, no corpus-side shuffle before the flagged-rows agg
    (pipeline/decontam.py:semantic_decontam)."""
    from .pipeline import decontam as DC

    emb = _t(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return DC.semantic_decontam(corpus, bench, threshold=0.4).orderBy(
        "vec_id"
    )


# =====================================================================
# Boilerplate line removal (corpus-frequency line dedup, CCNet-style)
# =====================================================================

# The fixture corpus has no newlines, so the query plants them: a footer
# on every doc_id % 7 == 0 and a header on every doc_id % 11 == 0 —
# deterministic, restated identically in the oracle. The operator then has
# real multi-line docs with genuinely corpus-frequent lines to find.


def _bp_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t1 = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit(_BP_HEADER + "\n"), F.col("text")),
    ).otherwise(F.col("text"))
    t2 = F.when(
        F.col("doc_id") % 7 == 0, F.concat(t1, F.lit("\n" + _BP_FOOTER))
    ).otherwise(t1)
    return d.select("doc_id", t2.alias("text"))


@q(
    "boilerplate_lines",
    f"""
    WITH {_BP_DOC2_SQL},
    segs AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS seg
      FROM doc2
    )
    SELECT md5(regexp_replace(trim(lower(seg)), '\\s+', ' ', 'g')) AS h,
           count(DISTINCT doc_id) AS ndocs,
           min(seg) AS example
    FROM segs
    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
    """,
)
def boilerplate_lines(spark, sf_dir):
    """Corpus-frequent line inventory: normalized lines appearing in >= 3
    distinct docs (the planted header/footer, here)."""
    from .pipeline import curation as CUR

    return CUR.boilerplate_line_stats(_bp_corpus(spark, sf_dir), min_docs=3)


@q(
    "boilerplate_removal",
    f"""
    WITH {_BP_DOC2_SQL},
    lists AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM doc2),
    segs AS (
      SELECT doc_id, unnest(l) AS seg,
             unnest(range(1, len(l) + 1)) AS pos
      FROM lists
    ),
    hs AS (
      SELECT doc_id, pos, seg,
             md5(regexp_replace(trim(lower(seg)), '\\s+', ' ', 'g')) AS h
      FROM segs
    ),
    freq AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM hs GROUP BY h),
    kept AS (SELECT doc_id, pos, seg
             FROM hs JOIN freq USING (h) WHERE ndocs < 3),
    ka AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(seg, chr(10) ORDER BY pos)) AS cleaned_md5
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_segments FROM hs GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(tt.n_segments AS BIGINT) AS n_segments,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.cleaned_md5, md5('')) AS cleaned_md5
    FROM doc2 d
    JOIN tot tt USING (doc_id)
    LEFT JOIN ka k USING (doc_id)
    """,
)
def boilerplate_removal(spark, sf_dir):
    """CCNet-style boilerplate strip over the planted corpus: lines in
    >= 3 distinct docs are dropped, survivors rejoin in original order.
    cleaned_md5 hashes the reassembled text so the oracle verifies exact
    reconstruction without shipping full documents through the compare."""
    from .pipeline import curation as CUR

    out = CUR.remove_boilerplate_lines(_bp_corpus(spark, sf_dir), min_docs=3)
    return out.select(
        "doc_id", "n_segments", "n_kept", F.md5("cleaned_text").alias("cleaned_md5")
    )


@q(
    "paragraph_dedup",
    f"""
    WITH {_BP_DOC2_SQL},
    lists AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM doc2),
    segs AS (
      SELECT doc_id, unnest(l) AS seg,
             unnest(range(1, len(l) + 1)) AS pos
      FROM lists
    ),
    hs AS (
      SELECT doc_id, pos, seg,
             md5(regexp_replace(trim(lower(seg)), '\\s+', ' ', 'g')) AS h
      FROM segs
    ),
    ranked AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      FROM hs
    ),
    kept AS (SELECT doc_id, pos, seg FROM ranked WHERE rn = 1),
    ka AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(seg, chr(10) ORDER BY pos)) AS cleaned_md5
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_segments FROM hs GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_segments AS BIGINT) AS n_segments,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.cleaned_md5, md5('')) AS cleaned_md5
    FROM tot t LEFT JOIN ka k USING (doc_id)
    """,
)
def paragraph_dedup(spark, sf_dir):
    """Corpus-wide keep-first paragraph dedup over the planted corpus:
    the header/footer lines (and any cross-doc duplicate lines in the
    underlying fixture) survive only in their lowest-(doc_id, pos)
    occurrence; every doc is reassembled from its surviving lines.
    cleaned_md5 hashes the reassembly so the oracle checks exact
    reconstruction without shipping text through the compare."""
    from .pipeline import curation as CUR

    out = CUR.dedup_paragraphs(_bp_corpus(spark, sf_dir))
    return out.select(
        "doc_id", "n_segments", "n_kept", F.md5("cleaned_text").alias("cleaned_md5")
    )


# =====================================================================
# Semantic dedup (SemDeDup-style cluster + cosine prune)
# =====================================================================

@q(
    "semantic_dedup",
    f"""
    WITH p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                  / ({_NORM_SQL.format(a="a.embedding")}
                     * {_NORM_SQL.format(a="b.embedding")}), 4) >= 0.4
    ),
    d AS (SELECT id_b AS vec_id, min(id_a) AS rep FROM p GROUP BY id_b)
    SELECT e.vec_id, e.label AS cluster_id,
           d.rep IS NOT NULL AS is_dup,
           coalesce(d.rep, e.vec_id) AS rep_id
    FROM embeddings e LEFT JOIN d USING (vec_id)
    """,
)
def semantic_dedup(spark, sf_dir):
    """SemDeDup over the fixture's label clusters: within-cluster pairs at
    cosine ≥ 0.4 (round-4, same FP-parity trick as embedding_dup_pairs)
    mark the higher id a dup of its minimum lower-id neighbor. The oracle
    restates the full greedy min-id rule in SQL."""
    return DD.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        cluster_col="label",
        threshold=0.4,
        cosine_round=4,
    )


def _semantic_kmeans_oracle_sql(iters: int = 2) -> str:
    """Unrolled spherical k-means in SQL (the PageRank precedent applied
    to Lloyd): seeded init centroids as literals, then per iteration —
    argmax-cosine assignment, per-(cluster, dim) mean, renormalize,
    empty clusters keep their previous direction — exactly
    `similarity.kmeans_centroids`. The final assignment feeds the same
    greedy min-id SemDeDup rule the label-clustered variant already
    oracles. Twins come from the cyclic-perturbation planter
    (`dedup.plant_embedding_twins_cyclic`), a pure column expression."""
    ldot = (
        "list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
    )
    lnorm = "sqrt(list_sum(list_transform({a}, x -> x * x)))"
    iter_ctes = []
    prev = "c0"
    for i in range(1, iters + 1):
        iter_ctes.append(f"""
    a{i} AS (
      SELECT vec_id, c FROM (
        SELECT w.vec_id, {prev}.c,
               row_number() OVER (PARTITION BY w.vec_id
                                  ORDER BY {ldot.format(a="w.wv", b=prev + ".cv")} DESC,
                                           {prev}.c) AS rn
        FROM w, {prev}) WHERE rn = 1
    ),
    m{i} AS (
      SELECT a{i}.c, j.j, avg(w.wv[j.j]) AS m
      FROM a{i} JOIN w USING (vec_id),
           (SELECT unnest(range(1, 65)) AS j) j
      GROUP BY 1, 2
    ),
    mv{i} AS (SELECT c, list(m ORDER BY j) AS mv FROM m{i} GROUP BY c),
    c{i} AS (
      SELECT {prev}.c,
             CASE WHEN mv{i}.c IS NOT NULL
                       AND {lnorm.format(a=f"mv{i}.mv")} > 0
                  THEN list_transform(mv{i}.mv,
                         x -> x / {lnorm.format(a=f"mv{i}.mv")})
                  ELSE {prev}.cv END AS cv
      FROM {prev} LEFT JOIN mv{i} ON mv{i}.c = {prev}.c
    )""")
        prev = f"c{i}"
    return f"""
    WITH raw AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / {_NORM_SQL.format(a="embedding")})
               AS v
      FROM embeddings
    ),
    inflated AS (
      SELECT vec_id, v FROM raw
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(pv,
               x -> x / sqrt(list_sum(list_transform(pv, y -> y * y))))
      FROM (
        SELECT vec_id,
               list_transform(list_zip(v, v[2:64] || v[1:1]),
                              z -> z[1] + 0.0125 * z[2]) AS pv
        FROM raw)
    ),
    w AS (
      SELECT vec_id,
             list_transform(v,
               x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
               AS wv
      FROM inflated
    ),
    c0(c, cv) AS (VALUES
        {_ivf_cents_sql(n_centroids=16, dim=64, seed=42)}),
    {",".join(iter_ctes)},
    final AS (
      SELECT vec_id, c FROM (
        SELECT w.vec_id, {prev}.c,
               row_number() OVER (PARTITION BY w.vec_id
                                  ORDER BY {ldot.format(a="w.wv", b=prev + ".cv")} DESC,
                                           {prev}.c) AS rn
        FROM w, {prev}) WHERE rn = 1
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM final a JOIN final b
        ON a.c = b.c AND a.vec_id < b.vec_id
    ),
    dups AS (
      SELECT id_b AS id, min(id_a) AS rep FROM (
        SELECT cand.id_a, cand.id_b,
               round({ldot.format(a="wa.wv", b="wb.wv")}, 4) AS cr
        FROM cand
        JOIN w wa ON wa.vec_id = cand.id_a
        JOIN w wb ON wb.vec_id = cand.id_b)
      WHERE cr >= 0.95 GROUP BY 1
    )
    SELECT f.vec_id, f.c AS cluster_id, TRUE AS is_dup, d.rep AS rep_id
    FROM final f JOIN dups d ON d.id = f.vec_id
    ORDER BY f.vec_id
    """


@q("semantic_dedup_kmeans", _semantic_kmeans_oracle_sql())
def semantic_dedup_kmeans(spark, sf_dir):
    """The self-clustering path: spherical k-means (16 centroids, 2 Lloyd
    iterations, seeded) + within-cluster cosine prune at 0.95 over the
    twin-planted corpus (cyclic-perturbation planter, cos ≈ 0.9999
    pairs). Recall contract pinned in tests/test_pipeline.py: every
    planted twin whose pair lands in the same cluster is marked is_dup
    with rep_id = its original — misses are bounded by cluster-boundary
    splits, the documented SemDeDup trade-off. Full oracle (was
    rows-only): fixed-seed fixed-iteration Lloyd unrolls in SQL — init
    literals, two assignment/mean/renormalize rounds, then the greedy
    min-id rule, all replayed by DuckDB."""
    inflated = DD.plant_embedding_twins_cyclic(_t(spark, sf_dir, "embeddings"))
    return (
        DD.semantic_dedup(
            inflated,
            n_clusters=16,
            kmeans_iters=2,
            threshold=0.95,
            cosine_round=4,
        )
        .filter(F.col("is_dup"))
        .orderBy("vec_id")
    )


# =====================================================================
# Embedding int8 quantization
# =====================================================================

