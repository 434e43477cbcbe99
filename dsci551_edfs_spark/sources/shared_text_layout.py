"""Shared once-per-corpus TEXT layouts: tokenize/shingle the corpus one
time, serve every consumer from the settled artifact (r13 verdict item
3; guide §6.3/§2.4).

The token-shuffle query family — hashed TF-IDF kNN, the n-gram
Jaccard/containment pair queries, the MinHash legs, the TF-IDF cosine
pairs, the LR featurizer's train path — all start from one of exactly
two intermediates over the SAME documents table:

- ``token_tf``:        (id, token, tf)   word-level term frequencies
- ``shingle_sets``:    (id, shingles)    distinct 3-gram shingle arrays
- ``shingle_posting``: (id, n_sh, shash) the exploded xxhash64 posting
                       rows of ``shingle_sets``

Before this layout each query re-ran the tokenize/gram scan privately
and re-shuffled the result onto its join key. Now the scan runs ONCE
per corpus version (priced by the bench's cold-start memo accounting,
bench.py), and the two join-keyed artifacts are written BUCKETED on
their key (``bucketBy`` + catalog re-declaration over the settled memo
path, the `sessionize_events_bucketed` pattern): a bucketed scan
reports hashpartitioning(key), so the DF-count aggregates, the
posting self-join and the tf⨝df joins that consume them plan with NO
Exchange — the keyed shuffle is paid once at write, exactly the
bucketing contract sources/bucketing.py documents.

Bucket count: ``_N_BUCKETS`` (16). At production scale size it to
~(artifact bytes / 128 MiB) — a property of the corpus, not the local
core count; 16 keeps test-scale artifacts at a sane handful of files
while still giving the local bench 16-way scan parallelism.

The memo tag embeds the bucket count and the memo path the corpus
fingerprint, so regenerated data or a re-sized layout never serves
stale buckets. The catalog entry is session-scoped: it is declared over
the settled location on first use and again whenever the layout's
``_SUCCESS`` changes (a wiped-and-rebuilt layout), through
``memo.session_cached``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import memo as MEMO
from ..functions.text import tokens

__all__ = [
    "token_tf",
    "token_doc_stats",
    "shingle_sets",
    "shingle_posting",
    "gram_posting",
    "gram5_posting",
    "multi_gram_posting",
]

_N_BUCKETS = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.hints import spread_small
    from .registry import load_table

    return spread_small(load_table(spark, sf_dir, "documents"))


def _serve_bucketed(
    spark: SparkSession,
    path: str,
    stem: str,
    cols_ddl: str,
    key: str,
) -> DataFrame:
    """Session-scoped catalog declaration of a settled bucketed layout
    (bucket metadata lives in the catalog, not the files — a bare
    ``spark.read.parquet`` would lose the partitioning)."""
    def declare() -> str:
        tname = f"{stem}_{re.sub(r'[^A-Za-z0-9_]', '_', path.rsplit('/', 1)[-1])}"
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        spark.sql(
            f"CREATE TABLE {tname} ({cols_ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {_N_BUCKETS} BUCKETS LOCATION '{path}'"
        )
        return tname

    return spark.table(
        MEMO.session_cached(
            spark, ("_serve_bucketed", path), MEMO.success_stamp(path), declare
        )
    )


def _build_bucketed(df: DataFrame, key: str, tmp: str) -> None:
    from .bucketing import write_bucketed

    scratch_name = f"_shared_text_build_{abs(hash(tmp)) % 10**8}"
    write_bucketed(df, scratch_name, key, _N_BUCKETS, tmp)
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {scratch_name}")


def token_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, token, tf) — word term frequencies of the documents table,
    bucketed by ``token``: groupBy(token) document-frequency aggregates
    and tf⨝df joins read it exchange-free. Identical arithmetic to the
    inline ``explode(tokens) → groupBy(id, token) count`` every
    consumer previously ran."""
    def build(tmp: str) -> None:
        d = _docs(spark, sf_dir)
        tf = (
            d.select(
                F.col("doc_id").alias("id"),
                F.explode(tokens(F.col("text"))).alias("token"),
            )
            .groupBy("id", "token")
            .agg(F.count("*").cast("long").alias("tf"))
        )
        _build_bucketed(tf, "token", tmp)

    path = MEMO.layout_memo(
        f"tok_tf_b{_N_BUCKETS}", sf_dir, ["documents"], build, markers=["_SUCCESS"]
    )
    return _serve_bucketed(
        spark, path, "tok_tf", "id bigint, token string, tf bigint",
        "token",
    )


def token_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, dl) — total token count per document (dl = Σ tf), built FROM
    the settled `token_tf` layout (one aggregate, no tokenize). The BM25
    family's document-length side: a query-time join against this
    doc-cardinality frame replaces both a per-query tokenize scan AND a
    per-query full-layout groupBy(id) (the first layout wiring paid the
    latter and measured SLOWER at sf0.1 — the agg over token-level rows
    cost more than the tokenize it saved; this statistics artifact is
    the standard fix, same idea as a table-level ANALYZE). Docs with
    zero tokens have no row (they can never match a query term); corpus
    N therefore still comes from the raw table count."""

    def build() -> DataFrame:
        return (
            token_tf(spark, sf_dir)
            .groupBy("id")
            .agg(F.sum("tf").cast("long").alias("dl"))
        )

    return MEMO.dataframe_memo(
        spark, f"tok_doc_stats_b{_N_BUCKETS}", sf_dir,
        ["documents"], build,
    )


def shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, shingles) — distinct word-3-gram shingle arrays per doc
    (`dedup.shingle_df` semantics, computed once per corpus). Serves
    the signature-building legs (MinHash, LSH sweeps) that need the
    ARRAY form."""

    def build() -> DataFrame:
        from ..pipeline.dedup import shingle_df

        return shingle_df(_docs(spark, sf_dir), "text", "doc_id", 3)

    return MEMO.dataframe_memo(
        spark, "shingle3_sets", sf_dir, ["documents"], build
    )


def shingle_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, n_sh, shash) — the exploded xxhash64 shingle posting table,
    bucketed by ``shash``: the inverted-index pair machinery
    (`dedup._pair_intersections`) reads its DF-count aggregate, its
    DF-prune semi-join and its candidate self-join all exchange-free.
    Row set identical to the inline explode of `shingle_sets`."""
    def build(tmp: str) -> None:
        sized = shingle_sets(spark, sf_dir).select(
            "id", F.size("shingles").alias("n_sh"), "shingles"
        )
        posting = sized.select(
            "id",
            F.col("n_sh").cast("int").alias("n_sh"),
            F.explode("shingles").alias("shingle"),
        ).select("id", "n_sh", F.xxhash64("shingle").alias("shash"))
        _build_bucketed(posting, "shash", tmp)

    path = MEMO.layout_memo(
        f"shingle3_posting_b{_N_BUCKETS}",
        sf_dir,
        ["documents"],
        build,
        markers=["_SUCCESS"],
    )
    return _serve_bucketed(
        spark, path, "shingle3_posting", "id bigint, n_sh int, shash bigint",
        "shash",
    )


def gram5_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, gh) — distinct word-5-gram xxhash64 posting rows, the strict
    family of the multi-n decontamination recipe. Plain parquet memo (no
    bucketing: its consumers broadcast-join on (n, gh) and aggregate by
    id, so a keyed layout buys nothing here — the win is skipping the
    tokenize scan)."""

    def build() -> DataFrame:
        from ..pipeline.dedup import shingle_df

        return (
            shingle_df(_docs(spark, sf_dir), "text", "doc_id", 5)
            .select("id", F.explode("shingles").alias("sh"))
            .select("id", F.xxhash64("sh").alias("gh"))
        )

    return MEMO.dataframe_memo(
        spark, "gram5_posting", sf_dir, ["documents"], build
    )


def multi_gram_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, n, gh) for n ∈ {3, 5} — `decontam._multi_n_posting`'s frame
    served from the settled layouts: the 3-gram family is
    `shingle_posting` re-tagged (shash IS the xxhash64 gram hash) and
    the 5-gram family is `gram5_posting`; a union of two parquet scans,
    ZERO tokenize passes (optimization r14). `shingle_expr` dedups grams
    per doc for every n identically, so rows match the inline build."""
    g3 = shingle_posting(spark, sf_dir).select(
        "id", F.lit(3).cast("int").alias("n"), F.col("shash").alias("gh")
    )
    g5 = gram5_posting(spark, sf_dir).select(
        "id", F.lit(5).cast("int").alias("n"), "gh"
    )
    return g3.unionByName(g5)


def gram_posting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, gh) — `shingle_posting` under decontam's column naming:
    ``gh`` IS ``shash`` (both are xxhash64 over the same distinct word
    3-grams — `decontam._posting` and the layout build share
    `dedup.shingle_df`), so the decontamination family's train posting
    and bench gram set are id-predicate filters over this one settled
    scan instead of two private tokenize passes per query
    (optimization r14)."""
    return shingle_posting(spark, sf_dir).select(
        "id", F.col("shash").alias("gh")
    )
