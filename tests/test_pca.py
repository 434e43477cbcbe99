"""Contracts for pipeline/pca.py and the retrieval evaluation metrics.

The PCA projection is registered rows-only (eigendecomposition isn't
ANSI SQL), so its correctness lives here: the distributed moments must
equal a direct numpy computation on the collected corpus, the components
must be orthonormal with descending explained variance, and the codegen
projection must match the numpy projection to micro precision.
"""

import numpy as np
import pytest

from tests.conftest import SF_SMOKE


def _load_np(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, x


def _quant(x, scale=1000):
    y = x * scale
    return np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)).astype(np.int64)


def test_gram_matrix_matches_numpy(spark):
    from dsci551_edfs_spark.pipeline.pca import gram_matrix

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    _, x = _load_np(spark, SF_SMOKE)
    q = _quant(x)
    expect = q.T @ q
    got = {(r["i"], r["j"]): r["sxy_q"] for r in gram_matrix(df).collect()}
    d = x.shape[1]
    assert len(got) == d * (d + 1) // 2
    for i in range(d):
        for j in range(i, d):
            assert got[(i + 1, j + 1)] == expect[i, j]


def test_pca_components_orthonormal_desc(spark):
    from dsci551_edfs_spark.pipeline.pca import pca_components

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    vals, comps, mean = pca_components(df, k=3)
    assert vals[0] >= vals[1] >= vals[2] >= 0
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    # sign convention: largest-|entry| of each component is positive
    for c in comps:
        assert c[np.argmax(np.abs(c))] > 0
    # mean is the quantized corpus mean back in original units
    _, x = _load_np(spark, SF_SMOKE)
    np.testing.assert_allclose(mean, _quant(x).mean(axis=0) / 1000, atol=1e-12)


def test_pca_project_matches_numpy(spark):
    from dsci551_edfs_spark.pipeline.pca import pca_components, pca_project

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    ids, x = _load_np(spark, SF_SMOKE)
    _, comps, mean = pca_components(df, k=2)
    expect = (x - mean) @ comps.T  # numpy reference projection
    got = {
        r["vec_id"]: (r["pc1_micro"], r["pc2_micro"])
        for r in pca_project(df, comps, mean).collect()
    }
    assert len(got) == len(ids)
    for idx, vid in enumerate(ids):
        for c in range(2):
            # codegen left-fold vs numpy dot differ only in FP
            # accumulation order: micro-rounded values agree within 1
            assert abs(got[vid][c] - round(expect[idx, c] * 1e6)) <= 1


def test_pca_pc1_captures_more_variance_than_pc2(spark):
    from dsci551_edfs_spark.pipeline.pca import pca_components, pca_project

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    _, comps, mean = pca_components(df, k=2)
    proj = np.array(
        [(r["pc1_micro"], r["pc2_micro"])
         for r in pca_project(df, comps, mean).collect()],
        dtype=np.float64,
    )
    assert proj[:, 0].var() >= proj[:, 1].var()


def test_pca_project_query_fits_each_table(spark, tmp_path):
    """Two parquet tables of the same schema get their own components:
    `embedding_pca_project` on the second must not serve the first's
    fit (a cache keyed by the logical-plan string did, since every
    parquet path prints the same unresolved plan)."""
    from dsci551_edfs_spark.pipeline.pca import pca_components
    from dsci551_edfs_spark.queries import QUERIES

    # the two tables' largest variance lies on different axes
    for name, spread in (("a", [5.0, 2.0, 1.0, 0.5]), ("b", [0.5, 1.0, 2.0, 5.0])):
        x = np.random.default_rng(0).normal(size=(50, 4)) * spread
        sf = tmp_path / name
        sf.mkdir()
        df = spark.createDataFrame(
            [(i, [float(v) for v in row]) for i, row in enumerate(x)],
            "vec_id long, embedding array<float>",
        )
        df.write.parquet(str(sf / "embeddings.parquet"))
        out = {
            r["vec_id"]: (r["pc1_micro"], r["pc2_micro"])
            for r in QUERIES["embedding_pca_project"](spark, str(sf)).collect()
        }
        table = spark.read.parquet(str(sf / "embeddings.parquet"))
        ids, xs = _load_np(spark, str(sf))
        _, comps, mean = pca_components(table, k=2)
        expect = (xs - mean) @ comps.T
        for idx, vid in enumerate(ids):
            for c in range(2):
                assert abs(out[vid][c] - round(expect[idx, c] * 1e6)) <= 1


def test_retrieval_eval_metric_bounds(spark):
    from dsci551_edfs_spark.pipeline.retrieval import bm25_eval_metrics

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = bm25_eval_metrics(df, ["dup", "hash", "scan"], k=10, min_tf=1).collect()
    assert {r["term"] for r in rows} <= {"dup", "hash", "scan"}
    for r in rows:
        assert 0 <= r["hits"] <= min(10, r["n_rel"])
        assert 0 <= r["prec_micro"] <= 1_000_000
        assert 0 <= r["recall_micro"] <= 1_000_000
        assert 0 <= r["rr_micro"] <= 1_000_000
        assert 0 <= r["ap_micro"] <= 1_000_000
        # with min_tf=1 the qrels are a superset of any tf-ranked hit,
        # so a non-empty ranking must find a relevant doc at rank 1
        if r["n_rel"] > 0 and r["hits"] > 0:
            assert r["rr_micro"] == 1_000_000


def test_retrieval_eval_perfect_ranking_is_ap_1(spark):
    """A corpus where every match has tf ≥ min_tf makes every ranked doc
    relevant → precision at every cut is 1 → AP = recall = RR = 1."""
    from dsci551_edfs_spark.pipeline.retrieval import bm25_eval_metrics

    df = spark.createDataFrame(
        [(i, "zebra zebra filler") for i in range(5)]
        + [(99, "nothing here")],
        "doc_id long, text string",
    )
    rows = bm25_eval_metrics(df, ["zebra"], k=10, min_tf=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_rel"] == 5 and r["hits"] == 5
    assert r["ap_micro"] == 1_000_000
    assert r["recall_micro"] == 1_000_000
    assert r["rr_micro"] == 1_000_000
    assert r["prec_micro"] == 500_000  # 5 of k=10 slots filled


def test_gram_partials_merge_equals_direct(spark):
    """The PCA moment pass is a mergeable sketch like the NDV/quantile
    partials: Gram(shard A) + Gram(shard B) == Gram(A ∪ B) exactly
    (integer sums), so a 100 TB corpus can accumulate its moments
    shard-by-shard and never rescan — and an incremental-PCA refresh is
    one small-table add + re-eigh."""
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.pipeline.pca import gram_matrix

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = df.filter(F.col("vec_id") % 2 == 0)
    b = df.filter(F.col("vec_id") % 2 == 1)
    merged = (
        gram_matrix(a)
        .unionByName(gram_matrix(b))
        .groupBy("i", "j")
        .agg(F.sum("sxy_q").alias("sxy_q"))
    )
    direct = {(r["i"], r["j"]): r["sxy_q"] for r in gram_matrix(df).collect()}
    got = {(r["i"], r["j"]): r["sxy_q"] for r in merged.collect()}
    assert got == direct


def test_gram_matrix_empty_frame_raises(spark):
    from dsci551_edfs_spark.pipeline.pca import gram_matrix

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        gram_matrix(empty)


def test_quantile_hist_rejects_nonpositive_silently_documented(spark):
    """Log bins require v > 0: zero/negative values produce NULL bins
    (one NULL-bin group), never a crash — callers filter or treat the
    NULL bin as the out-of-domain bucket."""
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.operators.sketches import quantile_hist_partials

    df = spark.createDataFrame(
        [("g", 10.0), ("g", 0.0), ("g", -3.0)], "grp string, v double"
    )
    rows = quantile_hist_partials(df, "grp", "v").collect()
    bins = {r["bin"]: r["cnt"] for r in rows}
    assert bins.get(None) == 2          # 0 and -3 land in the NULL bin
    assert sum(v for k, v in bins.items() if k is not None) == 1
