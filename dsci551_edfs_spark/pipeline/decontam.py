"""Benchmark decontamination for training corpora.

The reference (`Aman04jdsj/dsci551_EDFS`) has no analogue — it is an EDFS +
partition-map-reduce system (`combined_flask.py`) with no corpus hygiene
layer; this module is part of the beyond-reference training-data-pipeline
surface the engine is required to provide.

Semantics follow the published GPT-3/PaLM-style recipe: a training document
is *contaminated* if it shares at least ``min_overlap`` distinct word
n-grams with any document in a held-out benchmark/eval set. Removal is an
anti-join on the flagged ids.

Scale shape (100 TB corpus vs MB–GB benchmark):

- The benchmark side is reduced to its DISTINCT n-gram hash set (8-byte
  xxhash64 keys, no text) and **broadcast** by default — benchmark suites
  are orders of magnitude smaller than the corpus, so the corpus-side scan
  joins against an in-memory hash set with zero shuffle of corpus data.
- The corpus side ships only ``(id, ngram_hash)`` posting rows into the
  join; document text never crosses the wire.
- With ``broadcast_bench=False`` the same plan degrades gracefully to a
  shuffle hash join on the 8-byte key for pathological benchmark sizes.
- Overlap counting is a map-side-combinable ``groupBy(id).count()``; the
  final stats frame is one row per corpus doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _persist, _spread, shingle_df, shingle_expr
from ..functions.text import tokens

__all__ = [
    "ngram_overlap_contamination",
    "multi_n_overlap",
    "decontaminate",
    "semantic_decontam",
]


def _posting(train: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gh): one exploded 8-byte gram-hash row per distinct doc gram."""
    return (
        shingle_df(train, text_col, id_col, n)
        .select("id", F.explode("shingles").alias("sh"))
        .select("id", F.xxhash64("sh").alias("gh"))
    )


def _overlap_hits(
    posting: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    broadcast_bench: bool,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """(id, overlap_ngrams) for train docs with >= 1 shared n-gram.
    ``posting`` is an (id, gh) gram-hash posting frame (from ``_posting``).
    Shingles are distinct per doc (shingle_df array_distinct), so a plain
    count after the join is the distinct-overlap count. ``bench_grams``
    injects a prebuilt distinct (gh) frame (e.g. derived from the
    per-corpus `shared_text_layout.shingle_posting` — same xxhash64 over
    the same distinct shingles), skipping the bench-side tokenize scan."""
    if bench_grams is None:
        bench_grams = (
            shingle_df(bench, text_col, id_col, n)
            .select(F.explode("shingles").alias("sh"))
            .select(F.xxhash64("sh").alias("gh"))
            .distinct()
        )
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)

    return (
        posting.join(bench_grams, "gh")
        .groupBy("id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )


def _multi_n_posting(
    df: DataFrame, ns: tuple[int, ...], text_col: str, id_col: str
) -> DataFrame:
    """(id, n, gh): every requested gram family from ONE tokenize pass —
    the token array is materialized once per row and each family's
    zip_with chain reads it in the same projection, so the corpus is
    scanned once however many n's are requested (vs one full
    tokenize+explode scan per n when calling `_posting` repeatedly)."""
    toks = tokens(F.col(text_col))

    def fam(n: int):
        # NOTE: the lambda must take exactly ONE parameter — F.transform
        # treats a second parameter as the element INDEX, which would
        # silently shadow a `n=n` default-capture
        return F.transform(
            shingle_expr(toks, n),
            lambda s: F.struct(F.lit(n).alias("n"), F.xxhash64(s).alias("gh")),
        )

    fams = [fam(n) for n in ns]
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.concat(*fams)).alias("e")
    ).select("id", "e.n", "e.gh")


def multi_n_overlap(
    train: DataFrame,
    bench: DataFrame,
    ns: tuple[int, ...] = (3, 5),
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
    posting: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-training-doc benchmark overlap for SEVERAL n-gram sizes in one
    pass per side (the GPT-3 appendix-C recipe runs multiple n's): one
    tagged posting scan of train, one of bench, one (n, gh) join. Returns
    one row per train doc with an ``overlap_{n}`` column per family
    (0-filled). At 100 TB this halves (for two n's) the dominant cost —
    the corpus tokenize scan — vs calling `ngram_overlap_contamination`
    per n. ``posting`` / ``bench_grams`` inject prebuilt (id, n, gh) /
    distinct (n, gh) frames (the per-corpus
    `shared_text_layout.multi_gram_posting` — optimization r14), which
    removes BOTH remaining tokenize scans."""
    # single-consumer posting: no persist needed (and none wanted — the
    # exploded gram frame is the biggest thing in this plan; caching it
    # costs more than the column-pruned id re-scan below)
    # parallelize single-row-group inputs before the per-token work
    # (see plans.hints.spread_small; no-op at scale)
    if posting is None:
        posting = _multi_n_posting(_spread(train), ns, text_col, id_col)
    if bench_grams is None:
        bench_grams = _multi_n_posting(
            _spread(bench), ns, text_col, id_col
        ).select("n", "gh").distinct()
    else:
        bench_grams = bench_grams.select("n", "gh").distinct()
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    wide = (
        posting.join(bench_grams, ["n", "gh"])
        .groupBy("id")
        .agg(
            *[
                F.count(F.when(F.col("n") == n, F.lit(1))).alias(
                    f"overlap_{n}"
                )
                for n in ns
            ]
        )
    )
    # every train doc reports, 0-filled: ids come from a column-pruned
    # scan of the raw table (cheap at any scale), not the gram frame
    ids = train.select(F.col(id_col).alias("id")).distinct()
    return ids.join(wide, "id", "left").select(
        F.col("id").alias(id_col),
        *[
            F.coalesce(F.col(f"overlap_{n}"), F.lit(0)).alias(f"overlap_{n}")
            for n in ns
        ],
    )


def ngram_overlap_contamination(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
    broadcast_bench: bool = True,
    posting: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-training-doc benchmark-overlap stats.

    Returns ``(id_col, n_ngrams, overlap_ngrams, overlap_frac,
    contaminated)`` — one row per ``train`` doc. ``n_ngrams`` is the doc's
    distinct n-gram count, ``overlap_ngrams`` how many of those also occur
    anywhere in ``bench``, ``contaminated`` whether that count reaches
    ``min_overlap``.

    ``posting`` injects a prebuilt (id, gh) gram-hash frame for the
    train side and ``bench_grams`` a prebuilt distinct (gh) frame for
    the bench side (optimization r14): both derive from the per-corpus
    ``shared_text_layout.shingle_posting`` layout — the same xxhash64
    over the same distinct word n-grams, filtered by the caller's
    id-predicate (shingling is per-row, so the filter commutes) — which
    removes BOTH tokenize scans from the per-query cost.
    """
    # One shingle pass: the persisted (id, gh) posting frame feeds BOTH
    # the per-doc distinct-gram count (shingles are distinct, so a plain
    # map-side-combinable count == size(shingles)) and the overlap join —
    # without it, sizes and hits would each re-run tokenize+ngram+explode
    # over the full corpus. Registered for dedup.release_cached().
    if posting is None:
        posting = _posting(_spread(train), text_col, id_col, n)
    posting = _persist(posting)
    sizes = posting.groupBy("id").agg(F.count("*").alias("n_ngrams"))
    hits = _overlap_hits(
        posting, bench, text_col, id_col, n, broadcast_bench,
        bench_grams=bench_grams,
    )
    return (
        sizes.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_ngrams",
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            F.round(
                F.coalesce("overlap_ngrams", F.lit(0))
                / F.col("n_ngrams").cast("double"),
                6,
            ).alias("overlap_frac"),
            (F.coalesce("overlap_ngrams", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
    broadcast_bench: bool = True,
    posting: DataFrame | None = None,
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Drop contaminated docs from ``train``; rows pass through otherwise
    untouched (anti-join on the flagged id set, no text shuffled).

    Only the hit counts are computed — not the full per-doc stats frame —
    so the removal path skips the shingle-size projection and its join.
    ``posting`` / ``bench_grams`` inject prebuilt gram-hash frames (see
    `ngram_overlap_contamination` — optimization r14)."""
    flagged = (
        _overlap_hits(
            _posting(train, text_col, id_col, n) if posting is None
            else posting,
            bench,
            text_col,
            id_col,
            n,
            broadcast_bench,
            bench_grams=bench_grams,
        )
        .filter(F.col("overlap_ngrams") >= min_overlap)
        .select(F.col("id").alias(id_col))
    )
    return train.join(flagged, id_col, "left_anti")


def semantic_decontam(
    corpus: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of the
    n-gram recipe above: a corpus item is contaminated if its cosine
    similarity to ANY benchmark item clears ``threshold``, which catches
    paraphrased/translated benchmark leakage that shares no surface
    n-grams (the failure mode n-gram decontam is blind to).

    Returns one row per contaminated corpus item:
    ``(vec_id, n_hits, max_cosine)`` — how many benchmark items it
    collides with and the strongest collision (both over ROUNDED cosines,
    so the report is engine-exact; see the rounding note below).

    Scale shape (100 TB corpus vs bounded benchmark): only the BENCHMARK
    side is collected and broadcast — eval suites are thousands-to-
    millions of items by construction, the same boundedness contract as
    the n-gram path's broadcast gram set — while the corpus streams
    through ONE Arrow `mapInPandas` scan doing a single BLAS matmul per
    batch. No shuffle touches corpus vectors; the only shuffle is the
    final per-id aggregation over already-flagged rows (a tiny subset by
    construction: flagged ≈ contamination rate × N). For a benchmark too
    big to broadcast, swap the scan for the banded RP-LSH cross-join
    (`dedup.embedding_dup_pairs` use_lsh machinery) — same verify
    contract, shuffle keyed on (table, bucket).

    Rounding discipline: the in-matmul mask keeps cosine ≥ threshold−1e-4
    (a strict superset of round(·,4) ≥ threshold), full-precision scores
    cross Arrow only for flagged rows, and the JVM side applies
    round(·,4) before the count/max — so both aggregates are over the
    same rounded values the DuckDB oracle computes, making the whole
    report hash-matchable despite float summation-order differences
    between BLAS and SQL folds."""
    import numpy as np
    import pandas as pd

    from ..functions.vectors import as_double, normalize

    unit = corpus.select(
        F.col(id_col).alias("id"), normalize(as_double(vec_col)).alias("v")
    )
    bench_unit = bench.select(
        F.col(id_col).alias("id"), normalize(as_double(vec_col)).alias("v")
    )
    spark = corpus.sparkSession
    # broadcast-side collect: the benchmark is bounded by construction
    # (this is the same collect a broadcast join performs); rows are
    # sorted by id so executor-side behavior is deterministic
    rows = sorted(bench_unit.collect(), key=lambda r: r["id"])
    if not rows:
        return spark.createDataFrame(
            [], f"{id_col} long, n_hits long, max_cosine double"
        )
    bench_mat = np.array([r["v"] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast(bench_mat)
    inner = threshold - 1e-4  # strict superset of round(.,4) >= threshold

    def score(batches):
        bmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_p = pdf["id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            scores = m @ bmat.T  # (batch, bench)
            mask = scores >= inner
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame({"id": ids_p[ii], "cosine": scores[ii, jj]})

    id_type = unit.schema["id"].dataType.simpleString()
    hits = unit.mapInPandas(score, f"id {id_type}, cosine double")
    c4 = F.round(F.col("cosine"), 4)
    return (
        hits.select("id", c4.alias("c4"))
        .filter(F.col("c4") >= threshold)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.max("c4").alias("max_cosine"),
        )
    )
