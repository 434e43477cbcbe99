"""Z-order layout plus round-5 ops: exact-substring spans, tokenizer economics, graph ops, format roundtrips.

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import DD, F, MEMO, MM, TXT, Window, _scratch_dir, _t, os, q
from .q_pipeline import _TOKENS_SQL
from .q_relational_ext import _MD5_BUCKET_SQL
from .q_curation import _DECONTAM_CTES

@q(
    "zorder_zvalues",
    """
    WITH b AS (
      SELECT o_orderkey, o_custkey % 256 AS ab,
             CAST(floor(o_totalprice) AS BIGINT) % 256 AS bb
      FROM orders
    ),
    s1 AS (SELECT o_orderkey,
                  (ab | (ab << 8)) & 16711935 AS xa,
                  (bb | (bb << 8)) & 16711935 AS xb FROM b),
    s2 AS (SELECT o_orderkey,
                  (xa | (xa << 4)) & 252645135 AS xa,
                  (xb | (xb << 4)) & 252645135 AS xb FROM s1),
    s3 AS (SELECT o_orderkey,
                  (xa | (xa << 2)) & 858993459 AS xa,
                  (xb | (xb << 2)) & 858993459 AS xb FROM s2),
    s4 AS (SELECT o_orderkey,
                  (xa | (xa << 1)) & 1431655765 AS xa,
                  (xb | (xb << 1)) & 1431655765 AS xb FROM s3)
    SELECT o_orderkey, CAST(xa | (xb << 1) AS BIGINT) AS zval FROM s4
    """,
)
def zorder_zvalues(spark, sf_dir):
    """Morton z-value per order row over integer-exact bucket ids
    (o_custkey % 256, bigint(o_totalprice) % 256 — deterministic on both
    engines). The oracle restates the 4-step magic-mask spread
    bit-for-bit."""
    from .sources.layout import zvalue16

    o = _t(spark, sf_dir, "orders")
    ab = (F.col("o_custkey") % 256).cast("long")
    # floor, not cast: CAST(double AS BIGINT) truncates in Spark but
    # ROUNDS in DuckDB — floor() agrees everywhere
    bb = (F.floor("o_totalprice") % 256).cast("long")
    return o.select(
        "o_orderkey", zvalue16(ab, bb).cast("long").alias("zval")
    )


@q(
    "streaming_merge_upsert",
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
           round(coalesce(s.o_totalprice, t.o_totalprice), 2) AS price
    FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    """,
)
def streaming_merge_upsert(spark, sf_dir):
    """RUNS a real Structured Streaming CDC apply (streaming/cdc.py): the
    same change feed as merge_upsert_orders — doubled prices for every
    7th order, new rows for every 97th — lands as parquet files and
    replays batch-by-batch (maxFilesPerTrigger=1) through foreachBatch
    MERGE into versioned table snapshots. Feed keys are unique, so the
    final version must equal ONE single-shot MERGE of the whole feed —
    which is exactly what the oracle states (batch/stream equivalence)."""
    from .streaming.cdc import apply_changes_stream

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
    base = _scratch_dir("cdc")
    feed = os.path.join(base, "feed")
    # three feed files -> three micro-batches at maxFilesPerTrigger=1
    updates.repartition(2).write.mode("overwrite").parquet(feed)
    inserts.repartition(1).write.mode("append").parquet(feed)
    target = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    final = apply_changes_stream(
        spark, target, feed, base, key="o_orderkey",
        update_cols=["o_totalprice", "o_orderstatus"],
    )
    return final.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )


@q(
    "compaction_plan",
    """
    WITH f AS (
      SELECT event_type || '/' || strftime(ts, '%Y-%m-%d') AS file_id,
             sum(strlen(props) + 64) AS bytes
      FROM events GROUP BY 1),
    c AS (
      SELECT file_id, bytes,
             sum(bytes) OVER (ORDER BY bytes DESC, file_id
                              ROWS UNBOUNDED PRECEDING) - bytes AS before
      FROM f)
    SELECT file_id, CAST(bytes AS BIGINT) AS bytes,
           CAST(before // 32000 AS BIGINT) AS out_group
    FROM c
    """,
)
def compaction_plan(spark, sf_dir):
    """OPTIMIZE-style small-file compaction planning
    (sources/compaction.py): the per-(event_type, day) micro-batch
    directories a streaming sink would leave behind become the file
    manifest (bytes = payload + 64B object overhead), packed toward
    32 KB output files under the greedy size-descending rule. The oracle
    restates the packing as one window cumsum; the engine computes the
    same sum two-phase (range-partition + per-partition offsets) so no
    single-partition window appears in the plan."""
    from .sources.compaction import plan_compaction

    ev = _t(spark, sf_dir, "events")
    files = ev.groupBy(
        F.concat(
            "event_type", F.lit("/"), F.date_format("ts", "yyyy-MM-dd")
        ).alias("file_id")
    ).agg(
        F.sum(F.octet_length("props") + F.lit(64)).cast("long").alias("bytes")
    )
    plan = plan_compaction(files, target_bytes=32_000)
    return plan.select("file_id", "bytes", "out_group")


# =====================================================================
# Round-5 pipeline additions: exact-substring spans, tokenizer economics,
# entropy quality, multi-n decontamination, schema evolution, cross-source
# duplication audit, exact per-source length percentiles
# =====================================================================


@q(
    "shared_span_pairs",
    r"""
    WITH tt AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
                FROM documents),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(t[i:i+3], ' ') AS ng
      FROM tt, LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 3, 0))) AS i)
    ),
    keep AS (SELECT ng FROM g GROUP BY ng HAVING count(*) BETWEEN 2 AND 1000),
    gk AS (SELECT g.* FROM g JOIN keep USING (ng)),
    m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa,
                 b.pos - a.pos AS d
          FROM gk a JOIN gk b USING (ng) WHERE a.doc_id < b.doc_id),
    runs AS (SELECT id_a, id_b, d, pa,
                    pa - row_number() OVER (PARTITION BY id_a, id_b, d
                                            ORDER BY pa) AS isl
             FROM m),
    spans AS (SELECT id_a, id_b, count(*) + 3 AS span_tokens
              FROM runs GROUP BY id_a, id_b, d, isl)
    SELECT id_a, id_b, CAST(max(span_tokens) AS BIGINT) AS longest_span
    FROM spans GROUP BY 1, 2 HAVING max(span_tokens) >= 6
    """,
)
def shared_span_pairs_q(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2021 semantics): document pairs
    sharing a verbatim run of >= 6 consecutive tokens, with the longest
    shared span per pair — positional 4-gram fingerprints + gaps-and-
    islands run stitching, windows partitioned by pair key only."""
    return DD.shared_span_pairs(
        _t(spark, sf_dir, "documents"), n=4, min_span=6, max_occ=1000
    ).orderBy("id_a", "id_b")


@q(
    "tokenizer_fertility",
    r"""
    WITH d AS (
      SELECT source,
             octet_length(encode(text)) AS n_bytes,
             length(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
               AS ws_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               AS bpe_tokens
      FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           round(sum(n_chars) / CAST(sum(ws_tokens) AS DOUBLE), 4)
             AS chars_per_ws_token,
           round(sum(n_bytes) / CAST(sum(bpe_tokens) AS DOUBLE), 4)
             AS bytes_per_bpe_token,
           round(sum(bpe_tokens) / CAST(sum(ws_tokens) AS DOUBLE), 4)
             AS fertility
    FROM d GROUP BY source
    """,
)
def tokenizer_fertility(spark, sf_dir):
    """Tokenizer economics per source: whitespace-token vs BPE-ish-token
    totals, chars-per-token, bytes-per-token, and fertility (BPE tokens
    per word) — the report that prices a corpus in training tokens and
    flags sources a tokenizer fragments badly. One codegen projection +
    one small groupBy; at 100 TB this is scan-bound."""
    d = _t(spark, sf_dir, "documents")
    proj = d.select(
        "source",
        F.octet_length("text").alias("n_bytes"),
        F.length("text").alias("n_chars"),
        TXT.token_count(F.col("text")).alias("ws_tokens"),
        TXT.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )
    return proj.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_ws_tokens"),
        F.sum("bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.round(F.sum("n_chars") / F.sum("ws_tokens").cast("double"), 4).alias(
            "chars_per_ws_token"
        ),
        F.round(F.sum("n_bytes") / F.sum("bpe_tokens").cast("double"), 4).alias(
            "bytes_per_bpe_token"
        ),
        F.round(F.sum("bpe_tokens") / F.sum("ws_tokens").cast("double"), 4).alias(
            "fertility"
        ),
    )


@q(
    "char_entropy_quality",
    """
    WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                FROM documents WHERE length(text) > 0),
    cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(ln(CAST(sum(k) AS DOUBLE))
                 - sum(k * ln(CAST(k AS DOUBLE))) / sum(k), 6)
             AS char_entropy,
           ln(CAST(sum(k) AS DOUBLE))
             - sum(k * ln(CAST(k AS DOUBLE))) / sum(k) < 2.0 AS low_entropy
    FROM cc GROUP BY 1
    """,
)
def char_entropy_quality(spark, sf_dir):
    """Character-entropy quality signal: Shannon entropy (nats) of each
    document's character distribution — near-zero entropy = padding /
    repeated-char spam, the cheap gibberish detector quality pipelines
    run before any model scoring. Explode to (doc, char) → two keyed
    aggregations on the SAME doc_id exchange, no join: the identity
    H = ln n − (Σ k·ln k)/n needs only Σk and Σ k·ln k, both plain sums
    over the per-(doc, char) counts. Entropy rounded to micro-nats on
    both engines so the cross-engine hash is stable."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ch = d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c"))
    cc = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    h = F.log(F.sum("k").cast("double")) - F.sum(
        F.col("k") * F.log(F.col("k").cast("double"))
    ) / F.sum("k")
    ent = cc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_distinct_chars"),
        h.alias("_h"),
    )
    return ent.select(
        "doc_id",
        "n_distinct_chars",
        F.round("_h", 6).alias("char_entropy"),
        (F.col("_h") < 2.0).alias("low_entropy"),
    )


@q(
    "decontam_multi_n",
    _DECONTAM_CTES
    + f"""
    , s5 AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 5
                  THEN list_distinct(list_transform(generate_series(1, len(t) - 4),
                                     i -> array_to_string(t[i:i+4], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    ),
    bench5 AS (
      SELECT DISTINCT unnest(sh) AS g FROM s5 WHERE {_MD5_BUCKET_SQL} < 5
    ),
    train5 AS (SELECT doc_id, sh FROM s5 WHERE {_MD5_BUCKET_SQL} >= 5),
    tg5 AS (SELECT doc_id, unnest(sh) AS g FROM train5),
    hits5 AS (SELECT doc_id, count(*) AS o5 FROM tg5 JOIN bench5 USING (g)
              GROUP BY doc_id)
    SELECT tr.doc_id,
           CAST(coalesce(h.overlap_ngrams, 0) AS BIGINT) AS overlap_3,
           CAST(coalesce(h5.o5, 0) AS BIGINT) AS overlap_5,
           coalesce(h.overlap_ngrams, 0) >= 1 AS contaminated_loose,
           coalesce(h5.o5, 0) >= 1 AS contaminated_strict
    FROM train tr
    LEFT JOIN hits h USING (doc_id)
    LEFT JOIN hits5 h5 USING (doc_id)
    """,
    memo=True,
)
def decontam_multi_n(spark, sf_dir):
    """Multi-n decontamination report (the GPT-3 appendix-C recipe runs
    several n's): per training doc, benchmark-overlapping distinct 3-grams
    (loose) AND 5-grams (strict). SINGLE tokenize pass per side
    (decontam.multi_n_overlap): both gram families are emitted from one
    tagged posting scan and resolved by one (n, gh) broadcast join — at
    100 TB that halves the dominant corpus-scan cost vs the previous
    per-n passes. A doc is strict-contaminated only when a full 5-token
    run leaks."""
    from .pipeline import decontam as DC
    from .pipeline.curation import md5_bucket
    from .sources.shared_text_layout import multi_gram_posting

    docs = _t(spark, sf_dir, "documents")
    b = md5_bucket("doc_id", 100)
    train, bench = docs.filter(b >= 5), docs.filter(b < 5)
    # both gram sides from the per-corpus (id, n, gh) layout union
    # (optimization r14; the md5-bucket split is an id predicate, so it
    # commutes with per-row shingling): zero tokenize scans per query
    mg = multi_gram_posting(spark, sf_dir)
    gb = md5_bucket("id", 100)
    out = DC.multi_n_overlap(
        train, bench, ns=(3, 5),
        posting=mg.filter(gb >= 5),
        bench_grams=mg.filter(gb < 5),
    )
    return out.select(
        "doc_id",
        F.col("overlap_3").cast("long").alias("overlap_3"),
        F.col("overlap_5").cast("long").alias("overlap_5"),
        (F.col("overlap_3") >= 1).alias("contaminated_loose"),
        (F.col("overlap_5") >= 1).alias("contaminated_strict"),
    )


@q(
    "schema_evolution_union",
    """
    SELECT * FROM (
      SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 0
      UNION ALL BY NAME
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             'v2' AS schema_rev
      FROM documents WHERE doc_id % 2 = 1)
    """,
)
def schema_evolution_union(spark, sf_dir):
    """Schema-evolution read: two snapshots of the same logical table with
    drifted schemas (v1 carries `lang`, v2 dropped it and added
    `schema_rev` + `n_chars`) union by COLUMN NAME with null-fill — the
    `unionByName(allowMissingColumns=True)` contract every long-lived
    ingest pipeline needs (parquet mergeSchema reads compose the same
    way). Pure metadata alignment: zero shuffle, two scans."""
    d = _t(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "source")
    v2 = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.lit("v2").alias("schema_rev"),
        )
    )
    return v1.unionByName(v2, allowMissingColumns=True)


@q(
    "cross_source_dup_audit",
    r"""
    SELECT md5(array_to_string(
             (string_split_regex(trim(lower(text)), '\s+'))[1:8], ' ')) AS fp,
           count(*) AS n_copies,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS keep_id,
           count(DISTINCT source) > 1 AS cross_source
    FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
)
def cross_source_dup_audit(spark, sf_dir):
    """Cross-source duplication audit on opening-prefix fingerprints (md5
    of the first 8 tokens — the template/boilerplate-opening detector):
    groups with copy count and how many distinct sources they span. A
    one-source group is an upstream crawler double-fetch; a cross-source
    group is syndication, with license/mixture-weighting implications.
    One fingerprint groupBy, map-side combinable."""
    d = _t(spark, sf_dir, "documents")
    pre = F.md5(F.concat_ws(" ", F.slice(TXT.tokens(F.col("text")), 1, 8)))
    return (
        d.groupBy(pre.alias("fp"))
        .agg(
            F.count("*").alias("n_copies"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("keep_id"),
            (F.count_distinct("source") > 1).alias("cross_source"),
        )
        .filter(F.col("n_copies") > 1)
    )


@q(
    "source_length_percentiles",
    """
    SELECT source,
           count(*) AS n_docs,
           round(quantile_cont(n_chars, 0.25), 4) AS p25,
           round(quantile_cont(n_chars, 0.50), 4) AS p50,
           round(quantile_cont(n_chars, 0.75), 4) AS p75,
           round(quantile_cont(n_chars, 0.95), 4) AS p95
    FROM documents GROUP BY source
    """,
)
def source_length_percentiles(spark, sf_dir):
    """Exact per-source length percentiles (linear interpolation — the
    percentile_cont definition): the data-card numbers a mixture designer
    reads. Spark's exact `percentile` aggregates a per-group value-count
    map — memory scales with DISTINCT lengths per source, not rows, so
    per-source groups stay bounded at any corpus size; for a truly
    unbounded-domain column the GK-sketch `profile_quantiles` entry is
    the declared scale path."""
    d = _t(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.25, 0.50, 0.75, 0.95))")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p75"),
        F.round(pct[3], 4).alias("p95"),
    )


@q(
    "gap_fill_locf",
    """
    WITH o AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                      round(avg(value), 4) AS v FROM events GROUP BY 1, 2),
    g AS (SELECT event_type,
                 unnest(generate_series(min(bucket_ts), max(bucket_ts),
                                        INTERVAL 1 HOUR)) AS bucket_ts
          FROM o GROUP BY event_type),
    j AS (SELECT g.event_type, g.bucket_ts, o.v
          FROM g LEFT JOIN o USING (event_type, bucket_ts))
    SELECT event_type, bucket_ts, v IS NULL AS filled,
           last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
             ORDER BY bucket_ts ROWS UNBOUNDED PRECEDING) AS value
    FROM j
    """,
)
def gap_fill_locf_q(spark, sf_dir):
    """Time-series gap filling (TimescaleDB time_bucket_gapfill + locf):
    hourly per-type value averages land on each series' dense hour grid,
    missing buckets synthesized and filled with the last observation
    carried forward (operators/temporal.py gap_fill_locf). Grid explode +
    left join + fill window all partition on the series key — one
    exchange. The observed average is rounded BEFORE the fill so the
    carried value is byte-identical on both engines."""
    from .operators.temporal import gap_fill_locf

    ev = _t(spark, sf_dir, "events")
    observed = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.round(F.avg("value"), 4).alias("value"))
    return gap_fill_locf(
        observed, key_col="event_type", ts_col="bucket_ts",
        value_cols=("value",), step="1 hour",
    )


@q(
    "csv_roundtrip",
    "SELECT doc_id, lang, n_chars FROM documents",
)
def csv_roundtrip(spark, sf_dir):
    """documents -> headered CSV -> schema-explicit read-back — the
    reference's native interchange format (`combined_flask.py:343`
    ingests CSV exclusively) on the engine's format surface. Explicit
    schema on read: no inference pass, values survive the text roundtrip
    exactly."""
    from .sources.formats import read_csv, write_csv

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    dest = _scratch_dir("csv")
    write_csv(docs, dest)
    return read_csv(
        spark, dest, schema="doc_id long, lang string, n_chars long"
    )


def _phash_pairs_oracle_sql(max_hamming: int = 6) -> str:
    """media_phash_pairs restated exactly (r9 — was rows-only): the
    payload is attach_media's utf-8 text bytes (uint8 view via the
    hex-nibble trick), np.array_split's 72-segment pooling is the
    first-(L%72)-segments-get-one-extra rule, and the segment MEANS
    compare exactly across engines — integer byte sums are exact in
    float64 and the division is correctly rounded IEEE on both sides,
    so the dHash bit pattern is bit-identical, not approximately so.
    Bit 63 lands as the signed min-long addend (two's complement);
    banding/verify mirror `_simhash_oracle_sql` at 64//7 = 9-bit
    chunks."""
    chunks = max_hamming + 1
    width = 64 // chunks
    mask = (1 << width) - 1
    band_rows = "\n      UNION ALL ".join(
        f"SELECT id, {c} AS chunk, (sig >> {c * width}) & {mask} AS cv FROM s"
        for c in range(chunks)
    )
    bits_sql = "\n         + ".join(
        f"(CASE WHEN c{r * 9 + c} > c{r * 9 + c + 1} THEN "
        + (
            "CAST(-9223372036854775808 AS BIGINT)"
            if r * 8 + c == 63
            else f"(CAST(1 AS BIGINT) << {r * 8 + c})"
        )
        + " ELSE 0 END)"
        for r in range(8)
        for c in range(8)
    )
    cell_cols = ", ".join(
        f"coalesce(max(CASE WHEN seg = {i} THEN m END), 0.0) AS c{i}"
        for i in range(72)
    )
    return f"""
    WITH pay AS MATERIALIZED (
      SELECT doc_id AS id, hex(encode(text)) AS hx,
             greatest(octet_length(encode(text)), 1) AS n
      FROM documents
    ), bytes AS MATERIALIZED (
      SELECT id, n, pos - 1 AS p,
             CASE WHEN length(hx) >= 2*pos THEN
               (strpos('0123456789ABCDEF', substring(hx, 2*pos - 1, 1)) - 1)
                 * 16
             + (strpos('0123456789ABCDEF', substring(hx, 2*pos, 1)) - 1)
             ELSE 0 END AS v
      FROM pay, unnest(range(1, n + 1)) AS t(pos)
    ), seg AS (
      SELECT id,
             CASE WHEN p < (n % 72) * (n // 72 + 1)
                  THEN p // (n // 72 + 1)
                  ELSE (n % 72) + (p - (n % 72) * (n // 72 + 1)) // (n // 72)
             END AS seg, v
      FROM bytes WHERE n // 72 > 0 OR p < (n % 72)
    ), means AS (
      SELECT id, seg, avg(CAST(v AS DOUBLE)) AS m FROM seg GROUP BY id, seg
    ), cells AS (
      SELECT id, {cell_cols} FROM means GROUP BY id
    ), s AS (
      SELECT id, {bits_sql} AS sig FROM cells
    ), bands AS (
      {band_rows}
    ), pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.chunk = b.chunk AND a.cv = b.cv AND a.id < b.id
    )
    SELECT p.id_a, p.id_b,
           CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
    FROM pairs p JOIN s sa ON p.id_a = sa.id JOIN s sb ON p.id_b = sb.id
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}
    ORDER BY id_a, id_b
    """


@q("media_phash_pairs", _phash_pairs_oracle_sql())
# the identical/near/far contract is additionally pinned in tests/test_round5.py
def media_phash_pairs(spark, sf_dir):
    """Near-duplicate MEDIA detection: perceptual dHash over the decoded
    payload (Arrow-batched mapInPandas, pipeline/multimodal.py
    media_phash), then the SAME pigeonhole Hamming-banding pair generator
    the text SimHash path uses — one banding engine, two modalities.
    Returns (id_a, id_b, hamming) pairs with Hamming <= 6. Full oracle
    since r9 (`_phash_pairs_oracle_sql` — exact segment means, exact
    dHash bits)."""
    docs = _t(spark, sf_dir, "documents")
    media = MM.attach_media(docs)
    sigs = MM.media_phash(media).select(
        "id", F.col("phash").alias("simhash")
    )
    return DD.simhash_pairs(sigs, max_hamming=6).orderBy("id_a", "id_b")


@q(
    "rolling_7d_avg_by_type",
    """
    WITH d AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                      CAST(date_diff('day', DATE '1970-01-01',
                                     date_trunc('day', ts)) AS BIGINT) AS day_num,
                      round(sum(value), 4) AS day_sum, count(*) AS day_n
               FROM events GROUP BY 1, 2, 3)
    SELECT event_type, day,
           CAST(sum(day_n) OVER w AS BIGINT) AS n_7d,
           round(sum(day_sum) OVER w / sum(day_n) OVER w, 4) AS avg_7d
    FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                        RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7d_avg_by_type(spark, sf_dir):
    """Trailing-7-day rolling average per event type — the moving-window
    time-series smoother, as a RANGE frame over PRE-AGGREGATED days:
    the window input is (types x days) rows however large the raw corpus,
    so the keyed sort is trivially bounded. Per-day sums are rounded
    BEFORE the rolling sum so both engines accumulate identical values;
    the range frame is keyed by event_type (never unpartitioned)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.datediff(F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_num"),
    ).agg(
        F.round(F.sum("value"), 4).alias("day_sum"),
        F.count("*").alias("day_n"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return d.select(
        "event_type",
        "day",
        F.sum("day_n").over(w).cast("long").alias("n_7d"),
        F.round(F.sum("day_sum").over(w) / F.sum("day_n").over(w), 4).alias(
            "avg_7d"
        ),
    )


@q(
    "dq_orders_report",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_distinct_keys,
           count(*) - count(DISTINCT o_orderkey) AS dup_key_rows,
           count(*) - count(o_custkey) AS null_custkey,
           CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS orphan_orders,
           CAST(coalesce(sum(CASE WHEN o_totalprice <= 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS nonpositive_price
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def dq_orders_report(spark, sf_dir):
    """Data-quality assertion report for the orders table: key
    uniqueness, null foreign keys, referential integrity against the
    customer dimension (broadcast left join — the dim is the small
    side), and a domain rule (positive price). One scan + one broadcast
    join; each violation count is a map-side-combinable aggregate. The
    planted-violation contract (every counter actually fires) is pinned
    in pytest."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    return j.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_distinct_keys"),
        (F.count("*") - F.count_distinct("o_orderkey")).alias("dup_key_rows"),
        (F.count("*") - F.count("o_custkey")).alias("null_custkey"),
        F.coalesce(
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("orphan_orders"),
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("nonpositive_price"),
    )


@q(
    "daily_new_users_cumulative",
    """
    WITH fu AS (SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE))
                         AS day
                FROM events GROUP BY 1),
    nd AS (SELECT day, count(*) AS new_users FROM fu GROUP BY 1)
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cumulative_users
    FROM nd
    """,
)
def daily_new_users_cumulative(spark, sf_dir):
    """User-acquisition curve: first-seen day per user, new users per
    day, and the cumulative total — the growth chart every event product
    tracks. The cumulative sum runs through `operators/cumulative.py
    running_total` (range partition + broadcast per-partition offsets),
    so the plan has NO single-partition window even though the series is
    globally ordered; the oracle restates it as a plain window cumsum."""
    from .operators.cumulative import running_total

    ev = _t(spark, sf_dir, "events")
    fu = ev.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("day")
    )
    nd = fu.groupBy("day").agg(F.count("*").alias("new_users"))
    return running_total(
        nd, ["day"], "new_users", out_col="cumulative_users"
    )


@q(
    "event_transition_matrix",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst_type
      FROM events),
    p AS (SELECT event_type AS src_type, dst_type, count(*) AS cnt
          FROM s WHERE dst_type IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT src_type, sum(cnt) AS tot FROM p GROUP BY 1)
    SELECT p.src_type, p.dst_type, CAST(p.cnt AS BIGINT) AS cnt,
           CAST((p.cnt * 1000000) // m.tot AS BIGINT) AS prob_ppm
    FROM p JOIN m USING (src_type)
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix of user behavior: for each
    user's event stream in (ts, event_id) order, count src→dst
    event-type transitions and normalize per source into integer ppm
    (floor division — FP-order-free). The sequence window is KEYED by
    user_id (never a global window); the transition table is
    |types|²-sized, so the per-source margin join is broadcast-scale.
    At 100 TB the only big shuffle is the user_id keyed sort — the same
    shape sessionize_events already pays."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(w).alias("dst_type"),
    ).filter(F.col("dst_type").isNotNull())
    p = s.groupBy("src_type", "dst_type").agg(F.count("*").alias("cnt"))
    m = p.groupBy("src_type").agg(F.sum("cnt").alias("tot"))
    return p.join(F.broadcast(m), "src_type").select(
        "src_type",
        "dst_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("(cnt * CAST(1000000 AS BIGINT)) div tot")
        .cast("long")
        .alias("prob_ppm"),
    )


@q(
    "key_skew_report",
    """
    WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
    t AS (SELECT count(*) AS total FROM events),
    n AS (SELECT count(*) AS ndv FROM c)
    SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
           CAST((cnt * 1000000) // t.total AS BIGINT) AS share_ppm,
           CAST((cnt * n.ndv * 100) // t.total AS BIGINT) AS x_avg_pct
    FROM c, t, n
    ORDER BY cnt DESC, user_id LIMIT 20
    """,
)
def key_skew_report(spark, sf_dir):
    """Shuffle-skew diagnosis for a join/groupBy key: top-20 heaviest
    keys with their row count, corpus share (integer ppm) and multiple
    of the average key load (integer percent) — the report that decides
    whether a key needs salting (`operators/skew.py`) before a 100 TB
    join. One groupBy on the key plus two scalar aggregates joined as
    broadcast scalars; the top-20 is a global TakeOrdered, never a
    window."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    t = ev.agg(F.count("*").alias("total"))
    n = c.agg(F.count("*").alias("ndv"))
    return (
        c.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(n))
        .select(
            "user_id",
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("(cnt * CAST(1000000 AS BIGINT)) div total")
            .cast("long")
            .alias("share_ppm"),
            F.expr("(cnt * ndv * CAST(100 AS BIGINT)) div total")
            .cast("long")
            .alias("x_avg_pct"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(20)
    )


@q(
    "equi_depth_histogram",
    """
    WITH r AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk
      FROM orders),
    n AS (SELECT count(*) AS total FROM orders)
    SELECT CAST(((rnk - 1) * 10) // n.total AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
             AS sum_price
    FROM r, n GROUP BY 1
    """,
)
def equi_depth_histogram(spark, sf_dir):
    """Equi-depth (equal-frequency) 10-bucket histogram of order value —
    the optimizer-statistics primitive equi-WIDTH histograms miss on
    skewed money columns. Exact global rank comes from the two-phase
    `running_total` (range partition + broadcast offsets), so the plan
    has NO single-partition window; bucket = (rank-1)·10 div N with
    integer floor division, identical on both engines. Sums accumulate
    as DECIMAL(18,2) (prices carry 2 decimals) so the bucket totals are
    FP-order-free."""
    from .operators.cumulative import running_total

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n = o.agg(F.count("*").alias("total"))
    r = running_total(
        o.withColumn("_one", F.lit(1)),
        [F.col("o_totalprice"), F.col("o_orderkey")],
        "_one",
        out_col="rnk",
    )
    return (
        r.crossJoin(F.broadcast(n))
        .select(
            F.expr("((rnk - 1) * CAST(10 AS BIGINT)) div total")
            .cast("long")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@q(
    "events_late_data_audit",
    """
    WITH s AS (SELECT event_id, event_type,
                      md5(CAST(event_id AS VARCHAR)) AS arr,
                      CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
               FROM events),
    w AS (SELECT event_type,
                 max(ts_s) OVER (ORDER BY arr, event_id
                                 ROWS UNBOUNDED PRECEDING) - ts_s AS late_s
          FROM s)
    SELECT event_type, count(*) AS n_late,
           CAST(max(late_s) AS BIGINT) AS max_late_s,
           CAST(sum(late_s) AS BIGINT) AS sum_late_s
    FROM w WHERE late_s > 604800 GROUP BY 1
    """,
)
def events_late_data_audit(spark, sf_dir):
    """Watermark-policy STRESS audit for the streaming pipeline: replay
    the batch table in a deterministic md5-permuted arrival order (a
    worst-case out-of-order stream — the fixture's natural event_id
    order is perfectly sorted, which would make the audit vacuous),
    track the running max event time — exactly Structured Streaming's
    watermark clock before the delay subtraction — and report, per
    event type, how many rows arrive >7 days behind it and how far
    behind. This measures what `withWatermark` would drop under a given
    delay budget (`streaming/windows.py`). The running max is the
    two-phase `running_max` (range partition + broadcast prefix-max
    offsets) — no single-partition window even though the clock is
    globally ordered."""
    from .operators.cumulative import running_max

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.md5(F.col("event_id").cast("string")).alias("arr"),
        F.col("ts").cast("long").alias("ts_s"),
    )
    wm = running_max(ev, ["arr", "event_id"], "ts_s", out_col="max_seen")
    return (
        wm.select(
            "event_type", (F.col("max_seen") - F.col("ts_s")).alias("late_s")
        )
        .filter(F.col("late_s") > 604800)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_late"),
            F.max("late_s").cast("long").alias("max_late_s"),
            F.sum("late_s").cast("long").alias("sum_late_s"),
        )
    )


@q(
    "copurchase_triangles",
    """
    WITH i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (SELECT a.p AS x, b.p AS y, count(*) AS sup
           FROM i a JOIN i b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
    e AS (SELECT x, y FROM e0 WHERE sup >= 2)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.y = e2.x
              JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    """,
    memo=True,
)
def copurchase_triangles(spark, sf_dir):
    """Triangle count of the STRONG part co-purchase graph (parts
    co-occurring in ≥2 orders are connected — the same support floor as
    `copurchase_lift`, pruning coincidental single co-occurrences): the
    classic graph-density / community cohesion statistic. Edge
    generation is basket-bounded (baskets have ≤7 items, so pair
    expansion is constant work per order); counting runs through
    `operators/graph.py triangle_count` — degree-ORDERED orientation,
    so the wedge join is bounded m^1.5 even when one hub part appears
    in every basket, where the oracle's naive triple join would go
    quadratic on the hub. Edge generation is the shared per-corpus memo
    (`_strong_copurchase_edges`); the count itself is two edge-keyed
    shuffles over the settled edge parquet, nothing collected.

    First-call accounting (round-11 memo probe): ~1.8 s of a fresh
    session's first call is driver-side Catalyst plan→RDD conversion
    for the orientation checkpoint — measured to be load-bearing
    (removing it: steady state 1.14 → 1.77 s and first-call total
    WORSE, since the oriented frame recomputes per consumer), so the
    checkpoint stays; assume_packable=True trims the pack-probe bounds
    job (TPC-H part keys are < 2^31 by schema)."""
    from .operators.graph import triangle_count

    return triangle_count(
        _strong_copurchase_edges(spark, sf_dir),
        "pa",
        "pb",
        assume_packable=True,
    )


@q(
    "tfidf_doc_pairs",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
               AS token
      FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * CAST(round(ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                                    / dfr.df) * 1000) AS BIGINT) AS w
      FROM tf JOIN dfr USING (token)
      WHERE dfr.df >= 2
        AND dfr.df <= least(greatest(100, (SELECT n_docs FROM n) // 5),
                            1000)),
    nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
    dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT d.doc_a, d.doc_b, CAST(d.dot AS BIGINT) AS dot_w,
           CAST(na.n2 AS BIGINT) AS na2, CAST(nb.n2 AS BIGINT) AS nb2
    FROM dot d JOIN nrm na ON na.doc_id = d.doc_a
               JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE 4 * CAST(d.dot AS HUGEINT) * d.dot >= CAST(na.n2 AS HUGEINT) * nb.n2
      AND d.dot > 0
    """,
    memo=True,
)
def tfidf_doc_pairs(spark, sf_dir):
    """Sparse TF-IDF cosine similarity pairs (cos ≥ 0.5) via an inverted
    index — the lexical complement to `embedding_dup_pairs`: documents
    never meet unless they share an informative token. Weights are
    exact integers (tf · milli-nat idf); the DF prune
    (2 ≤ df ≤ min(max(100, N div 5), 1000)) drops both pair-less
    hapaxes and boilerplate tokens — the ABSOLUTE 1000 ceiling (added
    after the round-11 real-5× run caught the relative N/5 bound going
    quadratic) keeps total pair work linear in corpus size, the same
    skew cap discipline as `ngram_jaccard_pairs`. The cosine threshold
    is evaluated EXACTLY in
    integer arithmetic (4·dot² ≥ ‖a‖²·‖b‖², valid since weights are
    non-negative) — no FP division anywhere, so the result is
    engine- and partitioning-independent. Output carries the exact
    integer dot and norms; cosine itself is one driver-side sqrt away.
    The (doc_id, token, tf) frame reads the token-bucketed per-corpus
    layout (shared_text_layout.token_tf, optimization r14): DF
    aggregate, tf⨝df join and the pair stage's token repartition all
    ride the bucketed scan's partitioning."""
    from .sources.shared_text_layout import token_tf

    d = _t(spark, sf_dir, "documents")
    return DD.tfidf_cosine_pairs(d, tf=token_tf(spark, sf_dir))


@q(
    "fuzzy_name_pairs",
    """
    WITH n AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY 1),
    b AS (SELECT p_name, n_parts, split_part(p_name, ' ', 1) AS blk FROM n)
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
           CAST(a.n_parts AS BIGINT) AS n_a, CAST(c.n_parts AS BIGINT) AS n_b
    FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 3
    """,
)
def fuzzy_name_pairs(spark, sf_dir):
    """Blocked fuzzy record linkage on entity names: candidate duplicate
    part names within edit distance 3, with how many rows each spelling
    covers. The scale discipline is the record-linkage classic — edit
    distance only WITHIN blocks (shared first token), never all-pairs,
    and the self-join runs on the DISTINCT-name table (entity-
    vocabulary-sized, orders of magnitude below row count at 100 TB).
    `levenshtein` is JVM codegen on both engines — no UDF."""
    p = _t(spark, sf_dir, "part")
    n = p.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    b = n.select(
        "p_name", "n_parts", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a = b.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_a"), "blk"
    )
    c = b.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_b"), "blk"
    )
    # banded levenshtein (optimization r14): length prune is lossless
    # (an edit moves length by ≤1) and the threshold form runs the
    # O(threshold·n) early-exit DP, returning the true distance for
    # every surviving (≤3) pair — identical rows, cheaper per pair.
    return (
        a.join(c, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= 3)
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b", 3).cast("long")
        )
        .filter(F.col("dist") >= 0)
        .select(
            "name_a",
            "name_b",
            "dist",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )


def _bpe_train_oracle_sql(n_merges: int = 40, max_vocab: int = 50000) -> str:
    """The 40-iteration BPE merge loop UNROLLED as one DuckDB statement
    (r9 — was rows-only): each round recomputes adjacent-pair counts
    from the current symbolization state, takes the argmax with the
    (count desc, pair asc) tie-break, and applies the merge. Two tricks
    make it SQL-expressible:

    - each word's symbol sequence is encoded as a SENTINEL STRING
      (chr(1)||sym||chr(2) concatenated), so the greedy left-to-right
      non-overlapping merge is exactly SQL `replace()` — boundary-safe
      because a pair key chr(1)a chr(2)chr(1)b chr(2) can never match
      inside a longer symbol;
    - every CTE is MATERIALIZED: state{k} is referenced ~4x per round
      (pair scan + 3 scalar best{k} lookups), and DuckDB's default
      inlining makes that 4^k plan growth — materialization keeps it
      linear (40 rounds run in ~1 s at sf0.01).

    The incremental posting-list updates the Spark-side driver loop does
    (functions/text.py bpe_train_merges) are an optimization of exactly
    this recompute-from-state semantics, so the outputs are identical
    row-for-row."""
    sy = (
        "list_transform(list_filter(string_split(enc, chr(2)), "
        "s -> s <> ''), s -> s[2:])"
    )
    parts = [
        f"""WITH words AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({_TOKENS_SQL}) AS w FROM documents)
      WHERE length(w) >= 2 GROUP BY w
      ORDER BY cnt DESC, w LIMIT {max_vocab}
    ), state0 AS MATERIALIZED (
      SELECT w, cnt,
             array_to_string(list_transform(string_split(w, ''),
                             c -> chr(1) || c || chr(2)), '') AS enc
      FROM words
    )"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", best{k} AS MATERIALIZED (
      SELECT pr[1] AS a, pr[2] AS b, sum(cnt) AS c
      FROM (SELECT cnt, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT cnt, {sy} AS sy FROM state{k}))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
      ORDER BY c DESC, a, b LIMIT 1
    )"""
        )
        if k < n_merges - 1:
            parts.append(
                f""", state{k + 1} AS MATERIALIZED (
      SELECT w, cnt,
             replace(enc,
                     chr(1) || (SELECT a FROM best{k}) || chr(2)
                       || chr(1) || (SELECT b FROM best{k}) || chr(2),
                     chr(1) || (SELECT a || b FROM best{k}) || chr(2))
               AS enc
      FROM state{k}
    )"""
            )
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS rank, a AS left, b AS right, a || b AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM best{k}"
        for k in range(n_merges)
    )
    return "".join(parts) + "\n" + union + "\nORDER BY rank"


@q("bpe_train_merges", _bpe_train_oracle_sql())
def bpe_train_merges_q(spark, sf_dir):
    """FULL BPE tokenizer TRAINING (Sennrich 2016) — completes the
    train→apply loop whose apply half is `bpe_segment_docs`: one
    distributed corpus pass builds the word-frequency table, then the
    merge loop runs over the vocab-sized dict with an inverted
    pair→words index (each merge touches its posting list, not the whole
    vocab). Deterministic tie-break (count desc, pair asc), so the merge
    table is engine- and partitioning-independent. Full oracle since r9:
    the 40-round loop unrolls into materialized DuckDB CTEs
    (`_bpe_train_oracle_sql`); also pinned in pytest against a naive
    full-recount reference (functions/text.py bpe_train_merges)."""
    return TXT.bpe_train_merges(
        _t(spark, sf_dir, "documents"), num_merges=40
    ).orderBy("rank")


def _bpe_segment_oracle_sql(top_n: int = 20) -> str:
    """Greedy BPE APPLY restated in DuckDB (r9 — was rows-only): the
    one-occurrence-at-a-time lowest-rank-first loop in
    `bpe_segment_vocab` is EXACTLY equivalent to applying the merges in
    rank order with left-to-right replace-all — because every merge here
    is a SINGLE-CHARACTER pair (first-iteration candidates), applying a
    later merge can only create 2-char units, never a new single-char
    adjacency, so earlier merges stay exhausted. Same sentinel-string
    encoding as `_bpe_train_oracle_sql`; each merge is a data-driven
    scalar subquery (coalesce to a never-matching chr(3) needle if the
    corpus has fewer than top_n pairs). n_pieces = count of chr(1)
    sentinels in the final encoding."""
    parts = [
        f"""WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
    ), tf AS MATERIALIZED (
      SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
    ), mranked AS MATERIALIZED (
      SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair) - 1 AS rk
      FROM (
        SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_transform(range(1, length(token)),
                            i -> token[i:i+1])) AS pair
              FROM toks WHERE length(token) >= 2)
        GROUP BY pair)
      ORDER BY cnt DESC, pair LIMIT {top_n}
    ), seg0 AS MATERIALIZED (
      SELECT token,
             array_to_string(list_transform(string_split(token, ''),
                             c -> chr(1) || c || chr(2)), '') AS enc
      FROM (SELECT DISTINCT token FROM tf)
    )"""
    ]
    for k in range(top_n):
        m = f"(SELECT pair FROM mranked WHERE rk = {k})"
        parts.append(
            f""", seg{k + 1} AS MATERIALIZED (
      SELECT token,
             replace(enc,
                     chr(1) || substring(coalesce({m}, chr(3) || chr(3)),
                                         1, 1) || chr(2)
                       || chr(1) || substring(coalesce({m},
                                              chr(3) || chr(3)),
                                              2, 1) || chr(2),
                     chr(1) || coalesce({m}, chr(3)) || chr(2)) AS enc
      FROM seg{k})"""
        )
    parts.append(
        f"""
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf.tf * (length(s.enc)
                             - length(replace(s.enc, chr(1), ''))))
                AS BIGINT) AS n_pieces
    FROM tf JOIN seg{top_n} s USING (token)
    GROUP BY tf.doc_id"""
    )
    return "".join(parts)


@q("bpe_segment_docs", _bpe_segment_oracle_sql())
def bpe_segment_docs(spark, sf_dir):
    """End-to-end BPE tokenizer application: learn the first-iteration
    merge table from the corpus (`bpe_merge_candidates`, top 20), apply
    it greedily to the DISTINCT-token vocabulary
    (`bpe_segment_vocab` — the only Python, Arrow-batched, vocab-sized),
    then roll subword counts up to documents through a broadcast-scale
    join onto the (doc, token, tf) stream. Output: per-doc whitespace
    token count vs post-BPE piece count — the fertility input a
    tokenizer-budget planner needs. The corpus is scanned twice (merge
    count + tf count) and never leaves the JVM. Full oracle since r9
    (`_bpe_segment_oracle_sql` — rank-ordered replace-all equals the
    greedy loop for single-char merge tables)."""
    d = _t(spark, sf_dir, "documents")
    merges = [
        r["pair"]
        for r in TXT.bpe_merge_candidates(d, "text", top_n=20).collect()
    ]
    toks = d.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    vocab = tf.select("token").distinct()
    seg = TXT.bpe_segment_vocab(vocab, merges)
    from .plans.hints import broadcast_if_small

    return (
        tf.join(broadcast_if_small(seg.select("token", "n_pieces")), "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("n_pieces")).cast("long").alias("n_pieces"),
        )
    )


_STRONG_EDGES_SQL = """
    i AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (SELECT a.p AS x, b.p AS y, count(*) AS sup
           FROM i a JOIN i b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
    e AS (SELECT x, y FROM e0 WHERE sup >= 2)
"""


def _strong_copurchase_edges(spark, sf_dir):
    """Shared edge generator: the support-≥2 part co-purchase graph,
    served from the per-corpus memo store. The expensive half of every
    co-purchase graph statistic is identical — ONE shuffle to baskets
    (collect_set dedups in-order), pair expansion in pure codegen
    (cheaper than the two-sided self-join's 3 exchanges while baskets
    are bounded, which they are: ≤7 items), a map-side-combinable
    support groupBy — so it runs once per corpus version and triangles /
    clustering coefficient / communities each start from the settled
    (pa, pb) parquet."""

    def _build():
        li = _t(spark, sf_dir, "lineitem")
        basket = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        return (
            basket.select(
                F.explode(
                    F.flatten(
                        F.expr(
                            "transform(ps, (x, i) -> transform("
                            "slice(ps, i + 2, size(ps) - i - 1), "
                            "y -> struct(x AS pa, y AS pb)))"
                        )
                    )
                ).alias("e")
            )
            .groupBy("e.pa", "e.pb")
            .agg(F.count("*").alias("sup"))
            .filter(F.col("sup") >= 2)
            .select("pa", "pb")
        )

    return MEMO.dataframe_memo(
        spark, "copurchase_strong_edges", sf_dir, ["lineitem"], _build
    )


@q(
    "copurchase_clustering_coeff",
    f"""
    WITH {_STRONG_EDGES_SQL},
    d AS (SELECT node, count(*) AS deg FROM
            (SELECT x AS node FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
    wd AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
           FROM d),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM e e1 JOIN e e2 ON e1.y = e2.x
                    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
    SELECT n_wedges, n_triangles,
           CAST(CASE WHEN n_wedges = 0 THEN 0
                     ELSE (3 * n_triangles * 1000000) // n_wedges END
                AS BIGINT) AS gcc_ppm
    FROM wd, t
    """,
    memo=True,
)
def copurchase_clustering_coeff(spark, sf_dir):
    """Global clustering coefficient of the strong co-purchase graph —
    3·triangles/wedges as an exact integer-ppm row. Wedge total is one
    degree aggregation; triangles reuse the degree-ordered
    `triangle_count`, so the whole statistic stays skew-bounded."""
    from .operators.graph import clustering_coefficient

    return clustering_coefficient(
        _strong_copurchase_edges(spark, sf_dir), "pa", "pb"
    )


@q(
    "copurchase_communities",
    f"""
    WITH {_STRONG_EDGES_SQL},
    bidir AS (SELECT x AS src, y AS dst FROM e
              UNION ALL SELECT y, x FROM e),
    c1 AS (SELECT dst AS node, src AS label, count(*) AS c
           FROM bidir GROUP BY 1, 2),
    l1 AS (SELECT node, label FROM (
             SELECT node, label,
                    row_number() OVER (PARTITION BY node
                                       ORDER BY c DESC, label) AS rn
             FROM c1) WHERE rn = 1),
    c2 AS (SELECT b.dst AS node, l.label, count(*) AS c
           FROM bidir b JOIN l1 l ON b.src = l.node GROUP BY 1, 2),
    l2 AS (SELECT node, label FROM (
             SELECT node, label,
                    row_number() OVER (PARTITION BY node
                                       ORDER BY c DESC, label) AS rn
             FROM c2) WHERE rn = 1)
    SELECT node, CAST(label AS BIGINT) AS label FROM l2
    """,
    memo=True,
)
def copurchase_communities(spark, sf_dir):
    """Community detection on the strong co-purchase graph: 2 rounds of
    synchronous label propagation (`operators/graph.py
    label_propagation`) — deterministic by construction (most-frequent
    neighbor label, ties to the smallest), which is why a 2-round
    unrolled SQL oracle can restate it exactly. Per round: one
    edge-keyed message join + one (node, label) count + a node-KEYED
    argmax window — the Pregel shape, nothing global."""
    from .operators.graph import label_propagation

    return label_propagation(
        _strong_copurchase_edges(spark, sf_dir), iterations=2,
        a_col="pa", b_col="pb",
    )


@q(
    "attribution_last_click",
    """
    WITH s AS (SELECT event_id, user_id, event_type, ts,
                      CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
               FROM events),
    w AS (SELECT event_id, user_id, event_type, ts_s,
                 last_value(CASE WHEN event_type = 'click'
                                 THEN event_id END IGNORE NULLS)
                   OVER uw AS last_click_id,
                 last_value(CASE WHEN event_type = 'click'
                                 THEN ts_s END IGNORE NULLS)
                   OVER uw AS click_ts
          FROM s
          WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING))
    SELECT event_id AS purchase_id, user_id, last_click_id,
           ts_s - click_ts AS gap_s
    FROM w WHERE event_type = 'purchase'
    """,
)
def attribution_last_click(spark, sf_dir):
    """Last-touch attribution: for every purchase, the user's most
    recent preceding click and the seconds between them (null when the
    purchase was never preceded by a click) — the bread-and-butter
    marketing attribution join, expressed as a single user-KEYED
    ordered window with `last(..., ignorenulls)` instead of a range
    self-join: one shuffle on user_id, no pair blowup, late events
    handled by event-time ordering."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.col("ts").cast("long").alias("ts_s"),
    )
    uw = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    w = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_s",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(uw)
        .alias("last_click_id"),
        F.last(F.when(is_click, F.col("ts_s")), ignorenulls=True)
        .over(uw)
        .alias("click_ts"),
    )
    return w.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "last_click_id",
        (F.col("ts_s") - F.col("click_ts")).alias("gap_s"),
    )


# =====================================================================
# §2.5 ext: distributed PCA + retrieval evaluation
# =====================================================================

