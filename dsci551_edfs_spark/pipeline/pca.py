"""Distributed PCA over the embedding corpus: exact integer Gram matrix
via map-side partial sums, driver-side eigendecomposition, codegen
projection.

The standard large-scale PCA recipe (the one MLlib's RowMatrix
computePrincipalComponents uses, re-expressed over DataFrames): the only
corpus-sized work is ONE pass that reduces each partition to a d×d
partial Gram matrix, so the shuffle carries P·d(d+1)/2 rows regardless
of corpus size — at d=64 that is 2 080 longs per partition, at d=1024
~4 MB, never row-count-proportional. The d×d eigenproblem is driver-side
numpy (microseconds), and the projection back over the corpus is pure
whole-stage-codegen `zip_with`/`aggregate` against literal component
arrays — no Python in either corpus-sized pass.

Numeric contract (house micro-int style): embeddings are quantized to
round(x·scale) int64 BEFORE accumulation, so the Gram entries are exact
integers — order-free, overflow-guarded by a DECIMAL(38,0) reduce on the
Spark side (the float32→double promotion and the away-from-zero round are
IEEE-identical in Spark, numpy, and DuckDB, which is what lets the
`embedding_gram_matrix` oracle hash-match). Eigenvectors inherit a
deterministic sign convention (largest-|entry| component positive), so
the projection query is reproducible run-to-run even though
eigendecomposition itself is only defined up to sign.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double

__all__ = ["gram_matrix", "pca_components", "pca_project"]


def _round_away(x: np.ndarray) -> np.ndarray:
    """Round half away from zero — matches Spark's HALF_UP and DuckDB's
    round(), NOT numpy's default banker's rounding (np.rint)."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def _dim(df: DataFrame, vec_col: str) -> int:
    # bounded collect: a single LIMIT 1 row to probe the vector width
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if not row:
        raise ValueError("empty embedding frame")
    return int(row[0]["d"])


def gram_matrix(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", scale: int = 1000
) -> DataFrame:
    """Upper-triangle Gram matrix of the quantized corpus:
    ``(i, j, sxy_q)`` for 1 ≤ i ≤ j ≤ d with
    ``sxy_q = Σ_rows round(xᵢ·scale) · round(xⱼ·scale)`` (exact int64).

    One `mapInPandas` pass reduces every partition to its d(d+1)/2
    partial (an int64 ``qᵀq`` matmul per Arrow batch), then a tiny
    groupBy-sum merges partials. The reduce is DECIMAL(38,0) so a
    100 TB corpus (P ~ 1e6 partitions × ~1e12 per-partition magnitudes)
    cannot wrap the long range Spark-side; the final value is cast back
    to long for the sf-scale contract.
    """
    d = _dim(df, vec_col)

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        total = np.zeros((d, d), dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            arr = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            q = _round_away(arr * scale).astype(np.int64)
            total += q.T @ q
        if seen:
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": (iu + 1).astype(np.int32), "j": (ju + 1).astype(np.int32),
                 "sxy_q": total[iu, ju]}
            )

    partials = df.select(as_double(vec_col).alias("_v")).mapInPandas(
        part, "i int, j int, sxy_q long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("sxy_q").cast("decimal(38,0)")).cast("long").alias("sxy_q")
    )


def _moments(
    df: DataFrame, vec_col: str, scale: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """(gram, per-dim sums, n) of the quantized corpus — gram from the
    distributed pass above (d² bounded collect), sums/n from one codegen
    aggregation (d-bounded collect)."""
    d = _dim(df, vec_col)
    g = np.zeros((d, d), dtype=np.float64)
    for r in gram_matrix(df, vec_col=vec_col, scale=scale).collect():  # d² rows
        g[r["i"] - 1, r["j"] - 1] = r["sxy_q"]
        g[r["j"] - 1, r["i"] - 1] = r["sxy_q"]
    qvec = F.transform(
        as_double(vec_col),
        lambda x: F.round(x * scale).cast("long"),
    )
    agg = df.select(qvec.alias("_q")).agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.element_at("_q", i + 1).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s{i}")
            for i in range(d)
        ],
    ).collect()[0]  # bounded: one row, d+1 cols
    sums = np.array([agg[f"s{i}"] for i in range(d)])
    return g, sums, int(agg["n"])


def pca_components(
    df: DataFrame, k: int = 2, vec_col: str = "embedding", scale: int = 1000
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Top-k principal components of the (quantized) embedding corpus.

    Returns ``(eigvals, components, mean)`` in ORIGINAL units: the d×d
    covariance is assembled driver-side from the exact integer moments
    (cov = G/n − μμᵀ, all over scale²), eigendecomposed with
    ``numpy.linalg.eigh`` (symmetric, d×d — trivial at any corpus size),
    and each component's sign is fixed so its largest-|entry| is
    positive (eigenvectors are defined only up to sign; the convention
    makes every downstream projection deterministic).
    """
    g, sums, n = _moments(df, vec_col, scale)
    mean_q = sums / n
    cov = (g / n - np.outer(mean_q, mean_q)) / (scale * scale)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, d)
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1
    return vals[order], comps, mean_q / scale


def pca_project(
    df: DataFrame,
    comps: np.ndarray,
    mean: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, pc1_micro … pck_micro): every embedding projected onto the
    k fitted components ``comps`` (k×d, from `pca_components`) about
    ``mean``, micro-int rounded.

    The corpus-sized pass is pure codegen: the k components and the mean
    are broadcast as LITERAL arrays (k·d doubles — bytes, not a join)
    and the centered dot products run inside whole-stage codegen via
    ``zip_with``/``aggregate``. Deterministic end-to-end thanks to the
    sign convention in `pca_components`, but not ANSI-SQL-expressible
    (eigendecomposition), so the registry entry is rows-only with pytest
    contracts (orthonormality, variance ordering, numpy parity) instead
    of a DuckDB oracle.
    """
    centered = F.zip_with(
        as_double(vec_col),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x - m,
    )
    cols = [F.col(id_col)]
    for ci, comp in enumerate(comps, start=1):
        proj = F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(w)) for w in comp]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(proj * 1e6).cast("long").alias(f"pc{ci}_micro"))
    return df.select(*cols)
