"""Training-data-pipeline operators: dedup families, decontamination, similarity search entry points (north star).

Split from the original monolithic queries.py (round 13) —
verbatim section move, zero behavior change; registration
still lands in the shared QUERIES/ORACLES dicts via @q.
"""

from __future__ import annotations

from .queries_base import DD, F, MEMO, SIM, TXT, Window, _t, q

_FP_SQL = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"
_TOKENS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"


@q(
    "dedup_exact_groups",
    f"""
    SELECT {_FP_SQL} AS fp, min(doc_id) AS keep_id, count(*) AS group_size
    FROM documents GROUP BY 1
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup: hash-groupBy on the normalized md5 fingerprint."""
    return DD.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@q(
    "dedup_exact_rows",
    f"""
    SELECT doc_id FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY {_FP_SQL})
    """,
)
def dedup_exact_rows(spark, sf_dir):
    return DD.exact_dedup(_t(spark, sf_dir, "documents")).select("doc_id")


_SHINGLES_SQL = f"""
    CASE WHEN len(t) >= 3
         THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         ELSE [array_to_string(t, ' ')] END
"""


@q(
    "ngram_jaccard_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
      FROM s a, s b WHERE a.doc_id < b.doc_id)
    WHERE jaccard >= 0.2
    """,
    memo=True,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """EXACT 3-gram Jaccard near-dup pairs via inverted-index join — the
    ground truth the MinHash path approximates. Reads the per-corpus
    shash-bucketed posting layout (shared_text_layout.shingle_posting,
    optimization r14): the DF aggregate, prune semi-join and candidate
    self-join plan exchange-free off the bucketed scan."""
    from .sources.shared_text_layout import shingle_posting

    return DD.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2,
        posting=shingle_posting(spark, sf_dir),
    ).orderBy("id_a", "id_b")


@q(
    "containment_dup_pairs",
    f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    )
    SELECT id_a, id_b, containment FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / least(len(a.sh), len(b.sh)) AS containment
      FROM s a, s b WHERE a.doc_id < b.doc_id)
    WHERE containment >= 0.5
    """,
    memo=True,
)
def containment_dup_pairs(spark, sf_dir):
    """Doc-inside-doc detection: |∩| / min(|A|,|B|) ≥ 0.5 — Broder's
    CONTAINMENT measure, the crawl-processing complement to Jaccard
    dedup (a short article quoted inside a long aggregator page has
    near-zero Jaccard but containment ~1). Same inverted-index join and
    DF-cap machinery as `ngram_jaccard_pairs`
    (dedup._pair_intersections), different denominator. Same bucketed
    posting layout as `ngram_jaccard_pairs` (optimization r14)."""
    from .sources.shared_text_layout import shingle_posting

    return DD.containment_dup_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5,
        posting=shingle_posting(spark, sf_dir),
    ).orderBy("id_a", "id_b")


# recursive-CTE ground truth shared by BOTH cluster queries: recomputes
# the same 3-gram Jaccard components from scratch, so transitive chains
# (A~B~C with A≁C) are verified, not just pairwise hits
_CLUSTERS_ORACLE = f"""
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
    )
    SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
    """


@q("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark, sf_dir):
    """Corpus-level dedup endgame: exact 3-gram Jaccard edges →
    connected components → every doc labeled with its component's min id
    (singletons label themselves). The DuckDB oracle recomputes the SAME
    components via a recursive CTE, so transitive chains (A~B~C with A≁C)
    are verified, not just pairwise hits. Retention = doc_id == cluster_id.
    Pair stage reads the per-corpus bucketed posting layout
    (optimization r14)."""
    from .sources.shared_text_layout import shingle_posting

    return DD.dedup_clusters(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2,
        posting=shingle_posting(spark, sf_dir),
    ).orderBy("doc_id")


@q("dedup_clusters_star", _CLUSTERS_ORACLE, memo=True)
def dedup_clusters_star(spark, sf_dir):
    """Same cluster assignment as `dedup_clusters`, served from a
    per-corpus memo: the components come from the same
    `operators.graph.connected_components`, whose distributed path is
    the large-star/small-star loop (Kiveris et al. 2014, O(log d) rounds
    whatever the component diameter, so chain-shaped near-dup graphs —
    serial plagiarism, quote threads — stay cheap). Shares
    `dedup_clusters`' recursive-CTE oracle verbatim; both must
    hash-match the same ground truth.

    Cluster labels are a per-corpus-version artifact (the same contract
    as the single-linkage labels): the shingle→pair→CC pipeline
    runs once, the settled (doc, cluster) table serves every caller."""
    from .sources.shared_text_layout import shingle_posting

    labels = MEMO.dataframe_memo(
        spark,
        "dedup_clusters_star",
        sf_dir,
        ["documents"],
        # pair stage from the bucketed posting layout (optimization
        # r14): the build's dominant cost was the private tokenize+
        # shingle scan the layout already paid once per corpus
        lambda: DD.dedup_clusters(
            _t(spark, sf_dir, "documents"), n=3, threshold=0.2,
            posting=shingle_posting(spark, sf_dir),
        ),
    )
    return labels.orderBy("doc_id")


@q(
    "doc_novelty_scores",
    f"""
    WITH g AS (
      SELECT doc_id, unnest(sh) AS gram FROM (
        SELECT doc_id, {_SHINGLES_SQL} AS sh
        FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents))),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen,
           CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS seen_ppm
    FROM g JOIN firsts f USING (gram)
    GROUP BY g.doc_id
    """,
    memo=True,
)
def doc_novelty_scores(spark, sf_dir):
    """Memorization-risk / novelty audit: per document, the share of its
    distinct 3-gram shingles that already occur in an EARLIER document
    (ingest order = doc_id) — high seen_ppm flags near-copies and
    templated boilerplate BEFORE pair generation, and is the per-doc
    overlap profile a dedup-threshold choice should be based on.
    Plan: one shingle explode feeds both the gram→first-doc aggregate
    and the join back (persisted once); counts are integer-exact ppm.
    Everything shuffles on the 8-byte gram key — no pair blowup at any
    scale (contrast `ngram_jaccard_pairs`, which this pre-screens)."""
    # shingle arrays from the per-corpus layout (optimization r14): no
    # tokenize scan per query; grams stay STRINGS (the first-doc rule
    # below is defined on gram values, not hashes)
    from .sources.shared_text_layout import shingle_sets

    sh = shingle_sets(spark, sf_dir)
    g = DD._persist(
        sh.select(F.col("id").alias("doc_id"), F.explode("shingles").alias("gram"))
    )
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen",
            F.expr("n_seen * 1000000 div n_grams").cast("long").alias("seen_ppm"),
        )
    )


@q(
    "dedup_cluster_keep_best",
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
    cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
    SELECT cluster_id, doc_id AS keep_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(csize AS BIGINT) AS cluster_size
    FROM (
      SELECT cl.cluster_id, cl.doc_id, d.n_chars,
             count(*) OVER (PARTITION BY cl.cluster_id) AS csize,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY d.n_chars DESC, cl.doc_id) AS rn
      FROM cl JOIN documents d USING (doc_id))
    WHERE rn = 1
    """,
)
def dedup_cluster_keep_best(spark, sf_dir):
    """NEAR-dup cluster canonicalization: the corpus-level counterpart of
    exact keep-best — within each Jaccard connected component keep the
    LONGEST copy (ties → min id), the 'fullest version wins' retention
    policy crawl dedup actually wants (min-id keeps whichever copy was
    crawled first, including truncated ones). Reuses `dedup_clusters`'
    components; the per-cluster argmax is a cluster-KEYED window over
    cluster-sized groups."""
    from .sources.shared_text_layout import shingle_posting

    cl = DD.dedup_clusters(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.2,
        posting=shingle_posting(spark, sf_dir),
    )
    meta = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = cl.join(meta, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    wc = Window.partitionBy("cluster_id")
    return (
        j.withColumn("cluster_size", F.count("*").over(wc).cast("long"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            "cluster_size",
        )
    )


def _minhash_base_ctes(src: str = "documents") -> str:
    """The shared md5-family MinHash CTE chain (shingle → affine 32-bit
    minima → 16 band keys) over any (doc_id, text) relation ``src``,
    reused by every LSH oracle. The family is
    `dedup.minhash_affine_params`: h0 = CAST('0x' || substring(md5(sh),
    1, 8) AS BIGINT) — 8 nibbles, 32 bits (the 12-nibble/48-bit prefix
    is the HLL family's) — the same hex→int trick that minted the
    `ann_topk_int8` and `cms_token_counts` oracles — then h_i = (a_i·h0
    + b_i) mod MINHASH_PRIME, exact int64 arithmetic on both engines."""
    k, bands, seed = 64, 16, 42
    r = k // bands
    params = DD.minhash_affine_params(k, seed)
    prime = DD.MINHASH_PRIME
    mins = ",\n             ".join(
        f"min((h0 * {a} + {b}) % {prime}) AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT id, {b} AS band, md5({key}) AS bh FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(h{b * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    return f"""
    sh AS (
      SELECT doc_id AS id, {_SHINGLES_SQL} AS shingles
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM {src})
    ),
    ex AS (SELECT id,
                  CAST('0x' || substring(md5(unnest(shingles)), 1, 8)
                       AS BIGINT) AS h0
           FROM sh),
    sig AS (
      SELECT id, {mins}
      FROM ex GROUP BY id
    ),
    bands AS (
      {band_rows}
    )"""


def _minhash_oracle_sql(estimate: bool = False) -> str:
    """Full DuckDB restatement of the md5-family MinHash+LSH pipeline
    (64 hashes, 16 bands of 4): `_minhash_base_ctes` → band-bucket
    self-join → verify (exact shingle Jaccard, or signature agreement
    for the estimate mode)."""
    k = 64
    if estimate:
        matches = " + ".join(
            f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(k)
        )
        verify = f"""
    SELECT id_a, id_b, round(({matches}) / {k}, 3) AS jaccard_est
    FROM cands
    JOIN sig sa ON sa.id = cands.id_a
    JOIN sig sb ON sb.id = cands.id_b
    WHERE ({matches}) / {k} >= 0.5"""
    else:
        verify = """
    SELECT id_a, id_b,
           len(list_intersect(sa.shingles, sb.shingles))
             / len(list_distinct(sa.shingles || sb.shingles)) AS jaccard
    FROM cands
    JOIN sh sa ON sa.id = cands.id_a
    JOIN sh sb ON sb.id = cands.id_b
    WHERE len(list_intersect(sa.shingles, sb.shingles))
            / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5"""
    return f"""
    WITH {_minhash_base_ctes()},
    cands AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
    )
    {verify}
    """


@q("minhash_dedup_pairs", _minhash_oracle_sql(), memo=True)
def minhash_dedup_pairs(spark, sf_dir):
    """MinHash(64)+LSH(16 bands) near-dup pairs, exact-verified at
    jaccard ≥ 0.5. Full oracle (was rows-only): the registered demo runs
    the md5-derived 32-bit hash family (`dedup._md5_base_hash`), which
    DuckDB restates exactly — banding, bucket self-join and the exact
    Jaccard verify are all replayed in SQL. The production default stays
    xxhash64 (JVM-side, no string round-trip); recall vs
    `ngram_jaccard_pairs` ground truth is pinned in pytest for BOTH
    families. The shingle arrays come from the per-corpus
    `shared_text_layout.shingle_sets` memo (optimization r14): the
    tokenize+gram scan runs once per corpus, not once per query."""
    from .sources.shared_text_layout import shingle_sets

    return DD.minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, hash_family="md5",
        shingled=shingle_sets(spark, sf_dir),
    ).orderBy("id_a", "id_b")


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB restatement of the md5-family SimHash: 60-bit token hash
    (15 md5 nibbles), per-bit majority vote (positive iff 2*count > n,
    ties → 0 — dedup.simhash's SWAR semantics exactly), pigeonhole
    16-bit chunks, bit_count(xor) verify."""
    chunks = max_hamming + 1
    cnts = ",\n             ".join(
        f"sum((h >> {b}) & 1) AS c{b}" for b in range(60)
    )
    sig_bits = "\n           + ".join(
        f"CASE WHEN 2 * c{b} > n THEN (CAST(1 AS BIGINT) << {b}) "
        f"ELSE 0 END"
        for b in range(60)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT id, {c} AS chunk, (sig >> {c * 16}) & 65535 AS cv FROM s"
        for c in range(chunks)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest({_TOKENS_SQL}) AS t FROM documents
    ),
    th AS (
      SELECT id,
             CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
      FROM tok
    ),
    votes AS (
      SELECT id, count(*) AS n,
             {cnts}
      FROM th GROUP BY id
    ),
    s AS (
      SELECT id,
             {sig_bits} AS sig
      FROM votes
    ),
    bands AS (
      {band_rows}
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.chunk = b.chunk AND a.cv = b.cv AND a.id < b.id
    )
    SELECT id_a, id_b,
           bit_count(xor(sa.sig, sb.sig)) AS hamming
    FROM pairs
    JOIN s sa ON sa.id = pairs.id_a
    JOIN s sb ON sb.id = pairs.id_b
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}
    """


@q("simhash_pairs", _simhash_oracle_sql(max_hamming=3))
def simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 3 via pigeonhole banding.
    Full oracle (was rows-only): the demo runs the md5 hash family — a
    60-bit token hash DuckDB computes bit-identically — so the vote,
    banding and verify all replay in SQL; the SWAR aggregation and the
    chunk join are the production (xxhash64) code paths, unchanged."""
    sims = DD.simhash(_t(spark, sf_dir, "documents"), hash_family="md5")
    return DD.simhash_pairs(sims, max_hamming=3).orderBy("id_a", "id_b")


_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@q(
    "embedding_dup_pairs",
    f"""
    SELECT id_a, id_b, round(cosine, 4) AS cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
               / ({_NORM_SQL.format(a="a.embedding")}
                  * {_NORM_SQL.format(a="b.embedding")}) AS cosine
      FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
    WHERE round(cosine, 4) >= 0.4
    """,
)
def embedding_dup_pairs(spark, sf_dir):
    """Embedding near-dup pairs (cosine ≥ 0.4), exact pairwise baseline;
    the RP-LSH variant is the scale path (tested separately).

    The inner threshold is a strict superset of round(·,4) ≥ 0.4 (any x
    rounding up to 0.4 satisfies x ≥ 0.3999), so the O(N²) candidate mask
    is applied INSIDE the numpy matmul — only near-dups cross Arrow, not
    all N²/2 pairs."""
    out = DD.embedding_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3999, use_lsh=False
    )
    return (
        out.select(
            "id_a", "id_b", F.round(F.col("cosine"), 4).alias("cosine")
        )
        .filter(F.col("cosine") >= 0.4)
    )


@q(
    "ann_brute_force_topk",
    f"""
    WITH uq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS id,
             {_DOT_SQL.format(a="e.embedding", b="q.embedding")}
               / ({_NORM_SQL.format(a="e.embedding")}
                  * {_NORM_SQL.format(a="q.embedding")}) AS score
      FROM embeddings e, uq q WHERE e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, rnk, round(score, 4) AS score FROM (
      SELECT query_id, id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, id) AS rnk,
             score
      FROM scored) WHERE rnk <= 5
    """,
)
def ann_brute_force_topk(spark, sf_dir):
    """Exact cosine top-5 for 10 query vectors: broadcast queries, one
    corpus scan, per-query top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = SIM.brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rnk"),
        F.round(F.col("score"), 4).alias("score"),
    )


@q(
    "knn_label_vote",
    f"""
    WITH uq AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS id, e.label,
             {_DOT_SQL.format(a="e.embedding", b="q.embedding")}
               / ({_NORM_SQL.format(a="e.embedding")}
                  * {_NORM_SQL.format(a="q.embedding")}) AS score
      FROM embeddings e, uq q
      WHERE e.vec_id <> q.vec_id AND e.vec_id % 50 <> 0),
    top AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, id) AS rnk
        FROM scored) WHERE rnk <= 5),
    v AS (SELECT query_id, label, count(*) AS votes
          FROM top GROUP BY 1, 2)
    SELECT query_id, CAST(label AS BIGINT) AS pred_label,
           CAST(votes AS BIGINT) AS votes FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label) AS rn
      FROM v) WHERE rn = 1
    """,
)
def knn_label_vote(spark, sf_dir):
    """k-NN majority-vote labeling: every 50th vector plays the unlabeled
    query set, classified by its 5 exact-cosine nearest labeled
    neighbors (pipeline/similarity.py:knn_classify — broadcast queries,
    one corpus scan, query-keyed vote argmax). Deterministic ties
    (votes desc, label asc) make the whole prediction SQL-oracle-able."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return SIM.knn_classify(corpus, queries, k=5).orderBy("query_id")


def _ivf_cents_sql(n_centroids: int = 8, dim: int = 64, seed: int = 42) -> str:
    """The IVF coarse centroids as SQL literals: build_ivf_index's exact
    init (seeded standard normal, unit-normalized) rendered with repr()
    — the shortest round-trip decimal, so DuckDB parses the identical
    float64 bits. The centroids are algorithm PARAMETERS (a pure function
    of the seed, independent of the data); the oracle still independently
    verifies assignment, probing, scoring and ranking."""
    import numpy as np

    rng = np.random.RandomState(seed)
    c = rng.standard_normal((n_centroids, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return ",\n        ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in row))
        for i, row in enumerate(c)
    )



def _knn_ivf_oracle_sql() -> str:
    """The IVF variant of the `knn_label_vote` oracle: same seeded
    coarse-centroid literals and assignment/probe CTEs as
    `_ivf_oracle_sql`, candidates restricted to labeled (non-query)
    vectors in the probed buckets, then the identical vote argmax."""
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
      SELECT vec_id AS query_id, c FROM asn
      WHERE rn <= 4 AND vec_id % 50 = 0
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS id, e.label,
             {_DOT_SQL.format(a="e.embedding", b="q.embedding")}
               / ({_NORM_SQL.format(a="e.embedding")}
                  * {_NORM_SQL.format(a="q.embedding")}) AS score
      FROM buckets b
      JOIN probes p ON b.c = p.c AND b.vec_id <> p.query_id
      JOIN embeddings e ON e.vec_id = b.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE b.vec_id % 50 <> 0
    ),
    top AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, id) AS rnk
        FROM scored) WHERE rnk <= 5),
    v AS (SELECT query_id, label, count(*) AS votes
          FROM top GROUP BY 1, 2)
    SELECT query_id, CAST(label AS BIGINT) AS pred_label,
           CAST(votes AS BIGINT) AS votes FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label) AS rn
      FROM v) WHERE rn = 1
    """


@q("knn_label_vote_ivf", _knn_ivf_oracle_sql(), memo=True)
def knn_label_vote_ivf(spark, sf_dir):
    """The documented 100 TB swap, demonstrated at the registered-query
    level: the SAME majority vote as `knn_label_vote`, but the neighbor
    top-k comes from the PERSISTED IVF layout (memoized `ivf_idx`, the
    one `ann_ivf_persisted` builds) probed with an explicit partition
    filter — the scan touches only the 4 probed bucket directories per
    query, never the full corpus. The vote composes over any top-k
    backend (similarity.knn_classify's `topk` injection point). Full
    oracle: seeded centroid literals + assignment/probe/score/vote all
    replayed in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)

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
    loaded, cents = SIM.load_ivf_index(spark, path)
    labeled = loaded.filter(F.col("id") % 50 != 0)
    top = SIM.ivf_topk_pruned(labeled, cents, queries, k=5, n_probe=4)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    return SIM.knn_classify(corpus, queries, k=5, topk=top).orderBy(
        "query_id"
    )


@q(
    "label_outlier_report",
    """
    WITH x AS (
      SELECT vec_id, label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS xm
      FROM embeddings),
    c AS (
      SELECT label, dim,
             CAST(sum(xm) AS BIGINT) // count(*) AS cm
      FROM x GROUP BY 1, 2),
    d AS (
      SELECT x.vec_id, x.label,
             CAST(sum((x.xm - c.cm) * (x.xm - c.cm)) AS BIGINT) AS dist2
      FROM x JOIN c ON x.label = c.label AND x.dim = c.dim
      GROUP BY 1, 2)
    SELECT vec_id, label, dist2 FROM (
      SELECT vec_id, label, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS rn
      FROM d) WHERE rn <= 3
    """,
)
def label_outlier_report(spark, sf_dir):
    """Mislabeled-data detector: per label, the 3 vectors farthest from
    their OWN label's centroid. Exactness discipline: coordinates are
    integer micro-units, the centroid is an integer floor-mean (sum div
    count), and the distance is an exact integer sum of squares — so the
    ranking is bit-identical on any engine (FP centroid averaging would
    be summation-order-dependent). Shuffles: one (label, dim) agg reused
    by the join back, one per-vector agg, one label-KEYED window."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        # DuckDB's unnest ordinality is 1-based; align
        (F.col("dim") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("xm"),
    )
    x = DD._persist(x)  # two consumers: the centroid agg + the join back
    cent = x.groupBy("label", "dim").agg(
        F.expr("sum(xm) div count(*)").alias("cm")
    )
    d = (
        x.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("xm") - F.col("cm")) * (F.col("xm") - F.col("cm")))
            .cast("long")
            .alias("dist2")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_id", "label", "dist2")
    )


@q(
    "hard_negatives",
    f"""
    WITH uq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS id,
             {{dot}} / ({{norm_e}} * {{norm_q}}) AS score
      FROM embeddings e, uq q WHERE e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, rnk, round(score, 4) AS score FROM (
      SELECT query_id, id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, id) AS rnk,
             score
      FROM scored) WHERE rnk BETWEEN 6 AND 20
    """.format(
        dot=_DOT_SQL.format(a="e.embedding", b="q.embedding"),
        norm_e=_NORM_SQL.format(a="e.embedding"),
        norm_q=_NORM_SQL.format(a="q.embedding"),
    ),
)
def hard_negatives(spark, sf_dir):
    """Contrastive-training hard-negative mining: per anchor, the
    near-but-not-nearest neighbors (exact-cosine ranks 6-20) — similar
    enough to be informative negatives, far enough to not be latent
    positives. Same broadcast-scan + per-query-rank shape as the top-k
    retrieval; a production pass feeds the IVF/PQ shortlist instead of
    the exact scan."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = SIM.brute_force_topk(emb, queries, k=20).filter(F.col("rank") > 5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rnk"),
        F.round(F.col("score"), 4).alias("score"),
    )


def _ivf_oracle_sql(
    query_pred: str,
    k: int = 5,
    n_probe: int = 4,
    exclude: str = "FALSE",
) -> str:
    """DuckDB restatement of the full IVF search: nearest-centroid
    assignment (argmax dot — scale-invariant, so the raw vectors serve),
    top-n_probe probes per query, exact cosine inside probed buckets,
    per-query rank. Shared by the in-memory and persisted-layout demos:
    both produce the same top-k by construction (the layout is storage,
    not semantics). ``exclude`` is a candidate-side tombstone predicate
    (on ``b.vec_id``) for the delete-maintenance demo; the default
    FALSE excludes nothing."""
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
      SELECT vec_id AS query_id, c FROM asn
      WHERE rn <= {n_probe} AND {query_pred}
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS id,
             {_DOT_SQL.format(a="e.embedding", b="q.embedding")}
               / ({_NORM_SQL.format(a="e.embedding")}
                  * {_NORM_SQL.format(a="q.embedding")}) AS score
      FROM buckets b
      JOIN probes p ON b.c = p.c AND b.vec_id <> p.query_id
      JOIN embeddings e ON e.vec_id = b.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE NOT ({exclude})
    )
    SELECT query_id, neighbor_id, rnk, round(score, 4) AS score FROM (
      SELECT query_id, id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, id) AS rnk,
             score
      FROM scored) WHERE rnk <= {k}
    """


@q("ann_ivf_incremental", _ivf_oracle_sql("vec_id < 10"))
def ann_ivf_incremental(spark, sf_dir):
    """Index maintenance demo: the IVF index is built on the vec_id<400
    base corpus, then the remaining shard is APPENDED via
    `similarity.append_to_ivf_index` — one assignment pass over the
    shard, no rebuild. Probing the appended index returns EXACTLY what
    probing a full build returns (same centroids ⇒ same per-row
    assignment), so this query shares `ann_ivf_topk`'s full oracle: the
    hash match is the maintenance-is-exact proof, and pytest pins
    bucket-table equality directly."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    queries = emb.filter(F.col("vec_id") < 10)
    bucketed, cents = SIM.build_ivf_index(base, n_centroids=8)
    appended = SIM.append_to_ivf_index(bucketed, cents, delta)
    out = SIM.ivf_topk(appended, cents, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rnk"),
        F.round(F.col("score"), 4).alias("score"),
    )


@q("ann_ivf_topk", _ivf_oracle_sql("vec_id < 10"))
def ann_ivf_topk(spark, sf_dir):
    """IVF-pruned ANN: corpus bucketed by nearest of 8 centroids, queries
    probe 4 buckets. Tested for recall against the brute-force truth.
    Full oracle (was rows-only): the seeded centroid init is embedded as
    SQL literals and DuckDB independently replays assignment, probing,
    in-bucket scoring and ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    bucketed, cents = SIM.build_ivf_index(emb, n_centroids=8)
    out = SIM.ivf_topk(bucketed, cents, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rnk"),
        F.round(F.col("score"), 4).alias("score"),
    )


@q(
    "text_stats",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
                AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_bpe_tokens,
           round(length(text) / greatest(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(lower(text)), '\s+')) END, 1), 3)
             AS avg_token_len,
           round(len(regexp_extract_all(text, '[^\w\s]'))
                 / greatest(length(text), 1), 3) AS punct_ratio,
           round(len(regexp_extract_all(text, '[A-Z]'))
                 / greatest(length(text), 1), 3) AS upper_ratio,
           round(len(regexp_extract_all(text, '[0-9]'))
                 / greatest(length(text), 1), 3) AS digit_ratio
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    """Quality-scoring features, one codegen'd projection per document."""
    return TXT.text_stats(_t(spark, sf_dir, "documents"))


def _lang_score_sql(lang: str, words: list[str]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return (
        f"len(list_filter({_TOKENS_SQL}, t -> list_contains({lst}, t)))"
    )


_LANG_CASE = " ".join(
    f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'"
    for lang in sorted(TXT.LANG_STOPWORDS)
)


@q(
    "lang_id",
    f"""
    SELECT doc_id,
           CASE {_LANG_CASE} ELSE 'und' END AS lang_pred,
           CAST(best AS BIGINT) AS lang_score
    FROM (
      SELECT doc_id,
             {", ".join(f"{_lang_score_sql(lang, sw)} AS s_{lang}" for lang, sw in sorted(TXT.LANG_STOPWORDS.items()))},
             greatest({", ".join(f"{_lang_score_sql(lang, sw)}" for lang, sw in sorted(TXT.LANG_STOPWORDS.items()))}) AS best
      FROM documents)
    """,
)
def lang_id(spark, sf_dir):
    """Stopword-overlap language ID (SQL-reproducible heuristic)."""
    return TXT.lang_id(_t(spark, sf_dir, "documents"))


@q(
    "doc_fingerprint",
    f"SELECT doc_id, {_FP_SQL} AS fp FROM documents",
)
def doc_fingerprint(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", TXT.fingerprint("text").alias("fp")
    )


@q(
    "token_frequencies",
    rf"""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
    GROUP BY token ORDER BY cnt DESC, token LIMIT 20
    """,
)
def token_frequencies(spark, sf_dir):
    """Corpus token histogram: explode → count → top-k. The groupBy key is
    the token (heavy-hitter skew at corpus scale → AQE skew handling; the
    top-k tail is a 20-row merge)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(TXT.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


_VOCAB_SQL = rf"""
    vocab AS (
      SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
               AS token_id,
             CAST(cnt AS BIGINT) AS cnt
      FROM (SELECT token, count(*) AS cnt FROM
              (SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
            GROUP BY token)
      QUALIFY token_id <= 200
    )
"""


@q(
    "vocab_top200",
    f"WITH {_VOCAB_SQL} SELECT token, token_id, cnt FROM vocab",
)
def vocab_top200(spark, sf_dir):
    """Dense-id vocabulary (top 200 by count desc, token asc). A bounded
    top_n ranks lazily over the TakeOrdered result (<= top_n rows by
    construction); unbounded vocabularies take the two-phase
    range-partition + offset shape (functions/text.py:build_vocab) —
    never a single-partition window over corpus-sized data."""
    return TXT.build_vocab(_t(spark, sf_dir, "documents"), top_n=200)


@q(
    "encode_docs_vocab",
    rf"""
    WITH {_VOCAB_SQL},
    toks AS (
      SELECT doc_id, unnest(t) AS token,
             unnest(range(1, len(t) + 1)) AS pos
      FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
    ),
    j AS (
      SELECT t.doc_id, t.pos, coalesce(v.token_id, 0) AS tid
      FROM toks t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
    FROM j GROUP BY doc_id
    """,
)
def encode_docs_vocab(spark, sf_dir):
    """Token-id encoding of every document against the top-200 vocabulary
    (OOV → 0): broadcast dictionary join + in-order sequence reassembly
    (functions/text.py:encode_docs). The id sequence is md5'd for the
    compare so full arrays never cross the driver."""
    docs = _t(spark, sf_dir, "documents")
    vocab = TXT.build_vocab(docs, top_n=200)
    enc = TXT.encode_docs(docs, vocab)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.md5(
            F.array_join(
                F.transform(F.col("token_ids"), lambda x: x.cast("string")), ","
            )
        ).alias("ids_md5"),
    )


# =====================================================================
# Streaming-window semantics in batch mode (streaming/windows.py shares
# the same functions; batch run == oracle for the streaming run)
# =====================================================================

