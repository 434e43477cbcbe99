"""Dedup / similarity / text-analysis operator tests."""

import pytest
from pyspark.sql import functions as F

from dsci551_edfs_spark.functions import text as TXT
from dsci551_edfs_spark.pipeline import dedup as DD
from dsci551_edfs_spark.pipeline import similarity as SIM
from dsci551_edfs_spark.sources.registry import load_table


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "THE  QUICK BROWN fox jumps over the lazy dog"),  # exact after norm
        (4, "completely different text about spark engines"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = DD.exact_dedup_groups(docs).collect()
    sizes = sorted(g["group_size"] for g in groups)
    assert sizes == [1, 1, 1, 2]  # docs 1+3 collapse
    kept = DD.exact_dedup(docs).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 2, 4, 5]


def test_minhash_finds_near_dups(docs):
    pairs = DD.minhash_dedup_pairs(docs.filter("doc_id <= 4"), threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found and (1, 3) in found and (2, 3) in found
    assert all(4 not in p for p in found)


def test_minhash_pins_are_released(docs):
    """Every frame the MinHash pipeline pins is released by
    `release_cached`, including an injected `shingled` frame: a pin left
    behind stays cached for the session and later plans match it."""
    from pyspark import StorageLevel

    shingled = DD.shingle_df(docs.filter("doc_id <= 4"))
    DD.minhash_dedup_pairs(
        docs.filter("doc_id <= 4"), threshold=0.5, shingled=shingled
    ).collect()
    assert shingled.storageLevel != StorageLevel.NONE
    DD.release_cached()
    assert shingled.storageLevel == StorageLevel.NONE


def test_minhash_recall_vs_exact(spark, sf_dir):
    """On real documents, LSH candidates must recover the exact-Jaccard
    ground truth at threshold 0.5."""
    d = load_table(spark, sf_dir, "documents")
    truth = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_dedup_pairs(d, threshold=0.5).collect()
    }
    assert truth, "fixture should contain near-dups"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.95
    assert got <= truth  # exact verification ⇒ no false positives


def test_minhash_md5_family_recall(spark, sf_dir):
    """The oracle-restatable md5 hash family must meet the same recall
    contract as the production xxhash64 family — the registered demo
    queries run it, so its LSH quality is load-bearing."""
    d = load_table(spark, sf_dir, "documents")
    truth = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_dedup_pairs(
            d, threshold=0.5, hash_family="md5"
        ).collect()
    }
    assert truth
    assert len(truth & got) / len(truth) >= 0.95
    assert got <= truth


def test_minhash_estimate_mode(docs):
    pairs = DD.minhash_dedup_pairs(
        docs.filter("doc_id <= 4"), threshold=0.5, exact_verify=False
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(1, 3)}


def test_simhash_near_dups(docs):
    sims = DD.simhash(docs.filter("doc_id <= 4"))
    # identical normalized text ⇒ identical simhash
    vals = {r["id"]: r["simhash"] for r in sims.collect()}
    assert vals[1] == vals[3]
    pairs = DD.simhash_pairs(sims, max_hamming=3).collect()
    assert (1, 3) in {(r["id_a"], r["id_b"]) for r in pairs}


def test_simhash_md5_family(docs):
    """md5 family: identical docs still collide, 60-bit sigs keep the top
    4 bits zero (so the unchanged 16-bit pigeonhole chunks stay valid)."""
    sims = DD.simhash(docs.filter("doc_id <= 4"), hash_family="md5")
    vals = {r["id"]: r["simhash"] for r in sims.collect()}
    assert vals[1] == vals[3]
    assert all(0 <= v < (1 << 60) for v in vals.values())
    pairs = DD.simhash_pairs(sims, max_hamming=3).collect()
    assert (1, 3) in {(r["id_a"], r["id_b"]) for r in pairs}


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs.filter("doc_id <= 4"), threshold=0.1).collect()
    }
    assert pairs[(1, 3)] == pytest.approx(1.0)
    # 9-token sentences, 7 shingles each, differing in last word → 6 shared
    assert pairs[(1, 2)] == pytest.approx(6 / 8)


def test_embedding_dup_pairs_lsh_agrees(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs(emb, threshold=0.35, use_lsh=False).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs(
            emb, threshold=0.35, use_lsh=True, n_planes=4, n_tables=8
        ).collect()
    }
    assert lsh <= exact  # same verification ⇒ no false positives
    if exact:
        # 8 tables × 4 bits at cosine≥0.35: P(candidate) ≈ 1-(1-0.615⁴)⁸ ≈ 0.71
        assert len(lsh & exact) / len(exact) >= 0.5


def test_single_linkage_lsh_refines_exact(spark, sf_dir):
    """The 0.4-threshold agreement contract behind the
    embedding_single_linkage_lsh query: LSH edges are a subset of exact
    edges (same verifier), so LSH components must REFINE the exact
    partition — any two nodes the LSH path co-clusters are co-clustered
    by the exact path — and co-cluster recall stays above the 16-table
    amplification bound (per-pair P ≈ 1-(1-0.631⁴)¹⁶ ≈ 0.94, and
    transitivity within components only helps)."""
    from collections import defaultdict

    emb = load_table(spark, sf_dir, "embeddings")
    exact_lab = {
        r["node"]: r["label"]
        for r in DD.connected_components(
            DD.embedding_dup_pairs(emb, threshold=0.4, use_lsh=False).select(
                "id_a", "id_b"
            )
        ).collect()
    }
    lsh_lab = {
        r["node"]: r["label"]
        for r in DD.connected_components(
            DD.embedding_dup_pairs(
                emb, threshold=0.4, use_lsh=True, n_planes=4, n_tables=16
            ).select("id_a", "id_b")
        ).collect()
    }
    groups = defaultdict(list)
    for node, lab in lsh_lab.items():
        groups[lab].append(node)
    for members in groups.values():
        assert len({exact_lab.get(m, m) for m in members}) == 1

    def co_pairs(lab):
        g = defaultdict(list)
        for node, l in lab.items():
            g[l].append(node)
        return {
            (a, b)
            for mem in g.values()
            for a in mem
            for b in mem
            if a < b
        }

    exact_pairs, lsh_pairs = co_pairs(exact_lab), co_pairs(lsh_lab)
    if exact_pairs:
        assert len(lsh_pairs & exact_pairs) / len(exact_pairs) >= 0.6


def test_planted_twins_recovered_exactly(spark, sf_dir):
    """The self-certifying recall contract behind the
    embedding_dup_pairs_lsh query: on the twin-inflated corpus the
    detector must return exactly the planted (id, id+1e6) pairs —
    nothing missed (recall), nothing extra (precision)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    inflated = DD.plant_embedding_twins(emb)
    assert inflated.count() == 2 * n
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_dup_pairs(
            inflated, threshold=0.95, use_lsh=True, n_planes=12, n_tables=20
        ).collect()
    }
    want = {
        (r["vec_id"], r["vec_id"] + 1_000_000)
        for r in emb.select("vec_id").collect()
    }
    assert got == want


def test_brute_force_topk_tiny(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.brute_force_topk(df, df.filter("vec_id = 1"), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.collect()]
    assert got == [(2, 1), (3, 2)]


def test_ivf_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, q, k=5).collect()
    }
    bucketed, cents = SIM.build_ivf_index(emb, n_centroids=8)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(bucketed, cents, q, k=5, n_probe=4).collect()
    }
    # random-direction centroids, 4/8 probes — kmeans-fit centroids (round 2)
    # will tighten this bound
    assert len(truth & got) / len(truth) >= 0.5


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "Hello, World 42!")], "doc_id long, text string")
    r = TXT.text_stats(df).collect()[0]
    assert r["n_chars"] == 16
    assert r["n_tokens"] == 3
    assert r["n_bpe_tokens"] == 5  # Hello | , | World | 42 | !
    assert r["punct_ratio"] == pytest.approx(round(2 / 16, 3))


def test_lang_id(spark):
    rows = [
        (1, "the cat and the dog of a house"),
        (2, "le chat est pour le chien de la maison"),
        (3, "qqq zzz xxx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in TXT.lang_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    fps = [r[0] for r in df.select(TXT.fingerprint("text")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_kmeans_ivf_recall_beats_or_matches_random(spark, sf_dir):
    """Data-adaptive centroids must not hurt recall at equal probe budget
    (and typically help: buckets follow the data's cluster structure)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 20")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, q, k=5).collect()
    }

    def recall(centroids=None):
        bucketed, cents = SIM.build_ivf_index(emb, n_centroids=8, centroids=centroids)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.ivf_topk(bucketed, cents, q, k=5, n_probe=2).collect()
        }
        return len(got & truth) / len(truth)

    km = SIM.kmeans_centroids(emb, n_centroids=8, iters=3)
    r_random, r_kmeans = recall(), recall(km)
    assert r_kmeans >= r_random - 0.05  # never materially worse
    assert r_kmeans >= 0.4  # sane absolute floor at n_probe=2 of 8


def test_connected_components_chain_and_islands(spark):
    """A 5-node path (needs >1 HashMin round to settle), a 2-clique, and an
    implicit singleton: labels must be the component minimum."""
    from dsci551_edfs_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10)],
        ["id_a", "id_b"],
    )
    got = {
        r["node"]: r["label"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_deep_chain_lineage_bounded(spark, monkeypatch):
    """A 40-edge path graph on the distributed loop: the per-round
    localCheckpoint keeps the plan tree from embedding one extra join
    per iteration, so a diameter-40 run settles in bounded time with the
    correct single component. The driver fold is DISABLED here so the
    distributed loop itself stays under test."""
    import time

    from dsci551_edfs_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(G, "_DRIVER_FOLD_EDGES", 0)
    t0 = time.monotonic()
    got = {
        r["node"]: r["label"]
        for r in G.connected_components(edges).collect()
    }
    assert time.monotonic() - t0 < 120
    assert got == {i: 0 for i in range(41)}


def _random_multigraph(spark, seed, nodes, n_edges):
    import random

    rng = random.Random(seed)
    return spark.createDataFrame(
        [(rng.randrange(nodes), rng.randrange(nodes)) for _ in range(n_edges)],
        ["id_a", "id_b"],
    ).filter("id_a != id_b")


def _cc_rows(edges):
    from dsci551_edfs_spark.operators.graph import connected_components

    return sorted(
        (r["node"], r["label"]) for r in connected_components(edges).collect()
    )


def test_cc_collect_fallback_matches_distributed(spark, monkeypatch):
    """Under the default cap the driver union-find must produce EXACTLY
    the distributed star-loop fixpoint — same (node, min-id-label) rows —
    on random multigraphs (stars, cliques, chains, singletons), and the
    cap must route big-enough edge sets back to the distributed loop
    (a tiny cap forces the loop, the default takes the fold)."""
    from dsci551_edfs_spark.operators import graph as G

    for edges in (
        _random_multigraph(spark, 13, 200, 180),
        _random_multigraph(spark, 7, 300, 250),
    ):
        fast = _cc_rows(edges)
        with monkeypatch.context() as m:
            m.setattr(G, "_DRIVER_FOLD_EDGES", 1)
            slow = _cc_rows(edges)
        assert fast == slow and len(fast) > 0


def test_cc_answer_is_independent_of_the_fold_cap(spark, monkeypatch):
    """Knob invariance: a random multigraph with duplicate edges, a
    self-loop-only node (999) and a 60-edge path (deeper than any old
    round cap) gets the same rows from the driver fold and from the
    distributed loop, with every node that appears in an edge labelled."""
    import random

    from dsci551_edfs_spark.operators import graph as G

    rng = random.Random(41)
    e = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    e += e[:30]  # duplicate edges
    e += [(999, 999), (999, 999)]  # a node seen only in a self-loop
    e += [(1000 + i, 1001 + i) for i in range(60)]
    edges = spark.createDataFrame(e, ["id_a", "id_b"])
    fold = _cc_rows(edges)
    monkeypatch.setattr(G, "_DRIVER_FOLD_EDGES", 0)
    loop = _cc_rows(edges)
    assert fold == loop
    got = dict(fold)
    assert set(got) == {x for t in e for x in t}
    assert got[999] == 999
    assert all(got[1000 + i] == 1000 for i in range(61))


def test_bfs_collect_fallback_matches_distributed(spark, monkeypatch):
    """The driver-BFS fallback must equal the distributed BSP frontier
    relaxation — same (node, hops) rows, reachable nodes only — on a
    random graph with an unreachable island; same cap as the CC fold."""
    import random

    from dsci551_edfs_spark.operators import graph as G

    rng = random.Random(29)
    e = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    e += [(100 + rng.randrange(10), 100 + rng.randrange(10)) for _ in range(8)]
    edges = spark.createDataFrame(e, ["a", "b"]).filter("a != b")
    src = min(x for t in e for x in t)
    fast = sorted(
        (r["node"], r["hops"]) for r in G.bfs_hops(edges, src).collect()
    )
    monkeypatch.setattr(G, "_DRIVER_FOLD_EDGES", 1)
    slow = sorted(
        (r["node"], r["hops"]) for r in G.bfs_hops(edges, src).collect()
    )
    assert fast == slow and len(fast) > 0
    # the island (nodes 100+) must be absent from both
    assert all(n < 100 for n, _ in fast)


def test_bfs_answer_is_independent_of_the_fold_cap(spark, monkeypatch):
    """Knob invariance on a 45-edge path, deeper than the old 40-round
    cap: the distributed loop runs to its fixpoint, so both paths return
    every node at its exact distance."""
    from dsci551_edfs_spark.operators import graph as G

    edges = spark.createDataFrame([(i, i + 1) for i in range(45)], ["a", "b"])

    def hops():
        return sorted(
            (r["node"], r["hops"]) for r in G.bfs_hops(edges, 0).collect()
        )

    fold = hops()
    monkeypatch.setattr(G, "_DRIVER_FOLD_EDGES", 0)
    assert hops() == fold == [(i, i) for i in range(46)]


def test_graph_driver_folds_run_three_jobs(spark):
    """On a small graph `connected_components` and `bfs_hops` each run 3
    Spark jobs: the count (map + result job), which also materializes
    the lazy edge checkpoint, and the collect; no eager checkpoint job
    runs before them. The answer is a local frame."""
    import uuid

    from dsci551_edfs_spark.operators.graph import bfs_hops, connected_components

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (7, 8), (9, 9), (2, 3)], ["id_a", "id_b"]
    )
    for run in (
        lambda: connected_components(edges),
        lambda: bfs_hops(edges, 1, a_col="id_a", b_col="id_b"),
    ):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            run()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def test_star_cc_logarithmic_rounds_on_deep_path(spark, monkeypatch):
    """The O(log d) claim, pinned: a 1024-node path (diameter 1023) must
    reach the fixpoint within 12 star rounds. max_iter raises on
    non-convergence, so passing max_iter=12 IS the round-count
    assertion."""
    from dsci551_edfs_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1023)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(G, "_DRIVER_FOLD_EDGES", 0)
    got = {
        r["node"]: r["label"]
        for r in G.connected_components(edges, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(1024)}


def test_star_cc_empty_edges(spark, monkeypatch):
    from dsci551_edfs_spark.operators import graph as G

    em = spark.createDataFrame([], "id_a long, id_b long")
    assert G.connected_components(em).count() == 0
    monkeypatch.setattr(G, "_DRIVER_FOLD_EDGES", 0)
    assert G.connected_components(em).count() == 0


def test_dedup_clusters_transitive_and_singletons(spark):
    """Transitivity: near-identical A~B and B~C must co-cluster even if the
    A-C similarity alone is below threshold; unrelated docs stay singleton."""
    from dsci551_edfs_spark.pipeline.dedup import dedup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra1 extra2 extra3"),
            (3, base + " extra1 extra2 extra3 more4 more5 more6"),
            (9, "completely different words nothing shared here at all ok"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, n=3, threshold=0.3).collect()
    }
    assert got[1] == got[2] == got[3] == 1
    assert got[9] == 9


def test_degenerate_corpus_bucket_caps(spark, docs):
    """500 identical docs: every LSH bucket is one hot 500-member bucket
    (~125k candidate pairs uncapped). The skew guards must drop the
    degenerate buckets so candidate volume stays ZERO — and must not
    change results on a normal corpus (no bucket anywhere near the cap)."""
    clones = spark.createDataFrame(
        [(i, "identical boilerplate text repeated verbatim in every doc")
         for i in range(500)],
        "doc_id long, text string",
    )
    sims = DD.simhash(clones)
    assert DD.simhash_pairs(sims, max_bucket_size=10).count() == 0
    assert (
        DD.ngram_jaccard_pairs(clones, threshold=0.5, max_df=10).count() == 0
    )
    # uncapped sanity on a 20-doc slice: all-pairs present
    small = clones.filter("doc_id < 20")
    assert DD.simhash_pairs(DD.simhash(small)).count() == 20 * 19 // 2

    # caps are no-ops on the normal fixture (buckets far below the cap)
    normal = docs.filter("doc_id <= 4")
    base = {(r["id_a"], r["id_b"]) for r in DD.simhash_pairs(DD.simhash(normal)).collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in DD.simhash_pairs(DD.simhash(normal), max_bucket_size=100).collect()
    }
    assert base == capped
    jb = {(r["id_a"], r["id_b"]) for r in DD.ngram_jaccard_pairs(normal).collect()}
    jc = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(normal, max_df=100).collect()
    }
    assert jb == jc


def test_incremental_exact_dedup(spark):
    existing = spark.createDataFrame(
        [(1, "old news article"), (2, "another story")], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [
            (10, "OLD   news article"),   # dup of corpus after normalization
            (11, "fresh content"),        # genuinely new
            (12, "fresh  CONTENT"),       # within-batch dup of 11
            (13, "more new text"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in DD.incremental_exact_dedup(incoming, existing).collect()
    )
    assert kept == [11, 13]


# ------------------------------------------------- semantic dedup


def test_semantic_dedup_greedy_rule(spark):
    """Identical vectors in one cluster collapse by the greedy min-id rule;
    the same vector in ANOTHER cluster is untouched (SemDeDup prunes
    within clusters only)."""
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [1.0, 0.0]),   # dup of 1
        (3, 0, [0.999, 0.0447]),  # ~cos 0.999 with 1 -> dup of 1
        (4, 0, [0.0, 1.0]),   # orthogonal: kept
        (5, 1, [1.0, 0.0]),   # same direction, different cluster: kept
    ]
    d = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in DD.semantic_dedup(
            d, cluster_col="label", threshold=0.99
        ).collect()
    }
    assert not out[1]["is_dup"] and out[1]["rep_id"] == 1
    assert out[2]["is_dup"] and out[2]["rep_id"] == 1
    assert out[3]["is_dup"] and out[3]["rep_id"] == 1
    assert not out[4]["is_dup"]
    assert not out[5]["is_dup"]  # cross-cluster: never compared


def test_semantic_dedup_kmeans_twin_recall(spark, sf_dir):
    """Planted twins (cos ~0.995) must be recovered by the self-clustering
    path; misses are only cluster-boundary splits, bounded at 5%."""
    d = load_table(spark, sf_dir, "embeddings")
    n = d.count()
    inflated = DD.plant_embedding_twins(d)
    out = DD.semantic_dedup(
        inflated, n_clusters=16, kmeans_iters=2, threshold=0.95
    )
    dups = out.filter("is_dup").collect()
    # fixture corpus has no pairs at cos >= 0.95, so every dup is a twin
    # (twin ids are original + 1e6, always the HIGHER id of the pair)
    assert all(r["vec_id"] >= 1_000_000 for r in dups)
    assert all(r["rep_id"] == r["vec_id"] - 1_000_000 for r in dups)
    assert len(dups) / n >= 0.95  # recall across cluster splits


def test_semantic_dedup_kmeans_cyclic_twin_recall(spark, sf_dir):
    """Same contract for the oracle-restatable cyclic planter the
    registered full-oracle query runs (cos(v, twin) ≥ 0.9999)."""
    d = load_table(spark, sf_dir, "embeddings")
    n = d.count()
    inflated = DD.plant_embedding_twins_cyclic(d)
    out = DD.semantic_dedup(
        inflated, n_clusters=16, kmeans_iters=2, threshold=0.95,
        cosine_round=4,
    )
    dups = out.filter("is_dup").collect()
    assert all(r["vec_id"] >= 1_000_000 for r in dups)
    assert all(r["rep_id"] == r["vec_id"] - 1_000_000 for r in dups)
    assert len(dups) / n >= 0.95


def test_corpus_gate_equals_composed_operators(spark, sf_dir):
    """The fused one-scan gate must return exactly the docs (and scores /
    lang predictions / fingerprints) that the composed quality_filter ∩
    lang_id(≠und) ∩ fingerprint path returns — fusion is a plan shape,
    not a semantics change."""
    docs = load_table(spark, sf_dir, "documents")
    g = {
        r["doc_id"]: (r["quality_score"], r["lang_pred"], r["fp"])
        for r in TXT.corpus_gate(docs, min_tokens=5).collect()
    }
    q = {r["doc_id"]: r["quality_score"]
         for r in TXT.quality_filter(docs, min_tokens=5).collect()}
    l = {r["doc_id"]: r["lang_pred"]
         for r in TXT.lang_id(docs).collect() if r["lang_pred"] != "und"}
    fp = {r["doc_id"]: r["fp"]
          for r in docs.select("doc_id", TXT.fingerprint("text").alias("fp")).collect()}
    assert set(g) == set(q) & set(l)
    for i, (qs, lp, f) in g.items():
        assert qs == q[i] and lp == l[i] and f == fp[i]


def test_quality_score_model(spark):
    d = spark.createDataFrame(
        [
            (1, "a clean readable sentence with plain lowercase words " * 3),
            (2, "!!! ### $$$ %% 99 88 77 !!! ### $$$ %% 99 88 77"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TXT.quality_score_model(d).collect()}
    assert out[1]["quality_prob"] > out[2]["quality_prob"]
    assert 0.0 <= out[2]["quality_prob"] <= out[1]["quality_prob"] <= 1.0
    # deterministic: same input, same score
    again = {r["doc_id"]: r["quality_prob"] for r in TXT.quality_score_model(d).collect()}
    assert again == {k: v["quality_prob"] for k, v in out.items()}


def test_dsir_scores_rank_target_like_docs(spark):
    from dsci551_edfs_spark.pipeline import importance as IMP

    # target corpus speaks "alpha beta"; raw corpus is half alpha-beta
    # docs, half "gamma delta" docs — the alpha-beta docs must outrank
    target = spark.createDataFrame(
        [(100 + i, "alpha beta alpha beta alpha") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, "alpha beta alpha beta") for i in range(5)]
        + [(10 + i, "gamma delta gamma delta") for i in range(5)],
        "doc_id long, text string",
    )
    w = IMP.dsir_log_weights(target, raw)
    out = {r["doc_id"]: r for r in IMP.dsir_scores(raw, w).collect()}
    assert len(out) == 10
    lo_alpha = min(out[i]["score"] for i in range(5))
    hi_gamma = max(out[10 + i]["score"] for i in range(5))
    assert lo_alpha > hi_gamma
    assert all(out[i]["n_grams"] == 7 for i in range(5))  # 4 uni + 3 bi

    # deterministic: identical on recompute
    again = {r["doc_id"]: r["score"] for r in IMP.dsir_scores(raw, w).collect()}
    assert again == {k: v["score"] for k, v in out.items()}


def test_int8_topk_recall_vs_exact(spark, sf_dir):
    from dsci551_edfs_spark.pipeline import quantize as QZ

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = SIM.brute_force_topk(emb, queries, k=10)
    quant = QZ.topk_int8(emb, queries, k=10)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    s = {(r["query_id"], r["neighbor_id"]) for r in quant.collect()}
    # int8 on unit-normalized 64-dim vectors loses < 0.4% dot precision:
    # top-10 overlap must stay high
    assert len(e & s) / len(e) >= 0.9

    # quantization round-trip: scale*q reconstructs within scale/2 per dim
    prof = QZ.quantization_error(emb).collect()
    assert all(r["max_abs_err"] <= r["scale_r"] / 2 + 1e-9 for r in prof)
    assert all(r["dim"] == 64 for r in prof)


def test_pq_topk_recall_and_rerank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    # pure ADC at 16x256 (16 bytes/vector): decent recall on a corpus of
    # near-random directions (measured 0.86 at sf0.01)
    adc = SIM.pq_topk(emb, queries, k=5, n_subspaces=16, n_codes=256)
    a = {(r["query_id"], r["neighbor_id"]) for r in adc.collect()}
    assert len(e & a) / len(e) >= 0.7

    # two-stage (ADC shortlist -> exact re-rank) recovers near-exact
    two = SIM.pq_topk(
        emb, queries, k=5, n_subspaces=16, n_codes=64, rerank_k=50
    )
    t = {(r["query_id"], r["neighbor_id"]) for r in two.collect()}
    assert len(e & t) / len(e) >= 0.95

    # deterministic end-to-end (seeded codebooks, hash-free ordering)
    t2 = {(r["query_id"], r["neighbor_id"]) for r in SIM.pq_topk(
        emb, queries, k=5, n_subspaces=16, n_codes=64, rerank_k=50
    ).collect()}
    assert t == t2


def test_pq_sample_codebooks_recall(spark, sf_dir):
    """The oracle-restatable demo codebooks (k-means iters=0, first-64
    init — q_embeddings._sample_codebooks) must still deliver near-exact
    recall through the two-stage shortlist+rerank, since the registered
    full-oracle queries run them."""
    from dsci551_edfs_spark.q_embeddings import _sample_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    books = _sample_codebooks(spark, sf_dir)
    assert books.shape == (16, 64, 4)
    got = SIM.pq_topk(
        emb, queries, k=5, n_subspaces=16, n_codes=64,
        rerank_k=50, codebooks=books,
    )
    g = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    assert len(e & g) / len(e) >= 0.9


def test_pq_encode_shape_and_range(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.train_pq_codebooks(emb, n_subspaces=8, n_codes=16)
    assert books.shape == (8, 16, 8)
    codes = SIM.pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])


def test_ivf_pq_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(emb, queries, k=5)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    # full probe (n_probe = n_centroids) with rerank recovers exact: the
    # PQ/ADC stage + shortlist loses nothing when no bucket is pruned
    full = SIM.ivf_pq_topk(
        emb, queries, k=5, n_centroids=8, n_probe=8,
        n_subspaces=16, n_codes=64, rerank_k=50,
    )
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert len(e & f) / len(e) >= 0.95

    # the HIGH-SIMILARITY recall contract (what IVF pruning is for): a
    # planted twin at cosine ~0.995 shares its original's coarse bucket,
    # so probing 4/8 buckets must surface it at rank 1. (For near-random
    # ties recall ~ probe share is the expected IVF behavior.)
    from dsci551_edfs_spark.pipeline.dedup import plant_embedding_twins

    inflated = plant_embedding_twins(emb)
    got = SIM.ivf_pq_topk(
        inflated, inflated.filter(F.col("vec_id") < 10), k=1,
        n_centroids=8, n_probe=4, n_subspaces=16, n_codes=64, rerank_k=20,
    )
    hits = {r["query_id"]: r["neighbor_id"] for r in got.collect()}
    found = sum(1 for q, n in hits.items() if n == q + 1_000_000)
    assert found >= 9  # >= 9 of 10 twins at rank 1 through 4/8 probes


def test_ivf_pq_topk_string_ids(spark, sf_dir):
    """ivf_pq_topk must support arbitrary id types like pq_topk does —
    the ADC position map keys on the raw id value, not int(id)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec_id", F.concat(F.lit("doc_"), F.col("vec_id").cast("string"))
    )
    queries = emb.filter(F.col("vec_id").isin("doc_0", "doc_1", "doc_2"))
    got = SIM.ivf_pq_topk(
        emb, queries, k=3, n_centroids=8, n_probe=8,
        n_subspaces=16, n_codes=64, rerank_k=20,
    ).collect()
    assert {r["query_id"] for r in got} == {"doc_0", "doc_1", "doc_2"}
    assert all(isinstance(r["neighbor_id"], str) for r in got)


def test_incremental_minhash_dedup_contract(spark, sf_dir):
    """Cross-corpus near-dup gate: a shard doc that is a near-copy of a
    CORPUS doc is dropped, a near-copy pair WITHIN the shard keeps only
    its min id, and clean docs survive untouched."""
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = {r["doc_id"]: r["text"] for r in corpus.limit(3).collect()}
    ids = sorted(base)
    shard_rows = [
        # near-copy of corpus doc ids[0] (one word appended) -> dropped
        (1_000_001, base[ids[0]] + " tail"),
        # clean doc -> survives
        (1_000_002, "completely novel content about zebra llamas " * 5),
        # within-shard near-pair: min id survives, larger id dropped
        (1_000_003, "repeated shard passage with many shared tokens " * 6),
        (1_000_004, "repeated shard passage with many shared tokens " * 6 + " x"),
    ]
    shard = spark.createDataFrame(shard_rows, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in DD.incremental_minhash_dedup(
            shard, corpus, threshold=0.5
        ).collect()
    )
    assert kept == [1_000_002, 1_000_003]


def test_incremental_minhash_equals_batch_union_on_clean_shard(spark, sf_dir):
    """A shard with no dups in or across must pass through unchanged."""
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shard = spark.createDataFrame(
        [(2_000_000 + i, f"unique shard document number {i} " * (i + 3))
         for i in range(5)],
        "doc_id long, text string",
    )
    kept = DD.incremental_minhash_dedup(shard, corpus, threshold=0.5)
    assert kept.count() == 5


def test_bm25_topk_matches_reference_formula(spark):
    """Scores recomputed in plain Python with the same rational micro
    formula must match row-for-row, and ranking must put the doc that
    actually contains the rare query term first."""
    import math

    from dsci551_edfs_spark.pipeline.retrieval import bm25_topk

    texts = {
        1: "alpha beta gamma alpha",          # tf(alpha)=2, dl=4
        2: "alpha beta beta beta",            # tf(alpha)=1, dl=4
        3: "gamma gamma gamma gamma gamma",   # no query term, dl=5
        4: "alpha",                           # tf=1 but tiny dl=1
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = [
        (r["doc_id"], r["score_micro"])
        for r in bm25_topk(df, ["alpha"], k=10).collect()
    ]

    n, sl = 4, sum(len(t.split()) for t in texts.values())
    df_t = 3
    idf = round(math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0) * 1e6)
    def score(tf, dl):
        return round(idf * 22 * sl * tf / (10 * sl * tf + 3 * sl + 9 * dl * n))
    exp = sorted(
        [(1, score(2, 4)), (2, score(1, 4)), (4, score(1, 1))],
        key=lambda p: (-p[1], p[0]),
    )
    assert got == exp
    # shorter doc with same tf outranks the longer one; higher tf wins
    assert got[0][0] in (1, 4) and 3 not in {d for d, _ in got}


def test_bm25_topk_limit_and_miss(spark):
    from dsci551_edfs_spark.pipeline.retrieval import bm25_topk

    df = spark.createDataFrame(
        [(i, "common words here") for i in range(30)],
        "doc_id long, text string",
    )
    assert bm25_topk(df, ["common"], k=5).count() == 5
    assert bm25_topk(df, ["absent"], k=5).count() == 0


def test_hybrid_rrf_fuses_both_legs(spark):
    """A doc ranked #1 lexically and #1 by vector must out-fuse docs that
    appear on only one leg; join-rank must equal dense position order."""
    from dsci551_edfs_spark.pipeline.retrieval import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [
            (0, "alpha alpha alpha"),       # lexical winner, vector query
            (1, "alpha beta"),              # lexical only
            (2, "gamma gamma"),             # vector only (close embedding)
            (3, "delta"),                   # neither
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.99, 0.1]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r["doc_id"], r["rrf_micro"])
        for r in hybrid_rrf_topk(
            docs, embs, ["alpha"], query_vec_id=0, k=4, n_leg=3
        ).collect()
    ]
    order = [d for d, _ in got]
    # doc 0: lex rank 1 (tf=3) but excluded from vector leg (self).
    # doc 2: vector rank 1. doc 1: lex rank 2 + some vector rank.
    # doc 1 is on BOTH legs (embedding [0,1] still ranks within top-3 of
    # the 3 non-self vectors), so it must beat single-leg doc 2 iff its
    # summed reciprocal ranks are larger — verify against plain python.
    import math  # noqa: F401  (documentation of hand-check below)

    def rrf(*ranks):
        return sum(round(1e6 / (60 + r)) for r in ranks)

    # lexical leg: only docs 0,1 contain 'alpha' → ranks 1,2 (tf/dl math:
    # doc0 tf=3 beats doc1 tf=1). vector leg (query=[1,0], self excluded):
    # doc2 cos≈.995 → 1, doc1 cos=0 → 2, doc3 cos=-1 → 3.
    expect = sorted(
        [(0, rrf(1)), (1, rrf(2, 2)), (2, rrf(1)), (3, rrf(3))],
        key=lambda p: (-p[1], p[0]),
    )
    assert got == expect
    assert order[0] == 1  # two mid ranks beat any single first place at k=60


def test_ivf_index_persist_roundtrip_and_pruning(spark, sf_dir, tmp_path):
    """Disk-backed IVF: save (hive-partitioned by centroid) → load →
    pruned probe must return EXACTLY the in-memory ivf_topk results, and
    the pruned scan's plan must show PartitionFilters on the centroid
    partition column (the probe reads only its bucket directories)."""
    from pyspark.sql import functions as F

    from dsci551_edfs_spark.pipeline import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    bucketed, cents = SIM.build_ivf_index(emb, n_centroids=8)
    inline = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in SIM.ivf_topk(bucketed, cents, queries, k=5, n_probe=4).collect()
    }

    path = str(tmp_path / "ivf_idx")
    SIM.save_ivf_index(bucketed, cents, path)
    loaded, cents2 = SIM.load_ivf_index(spark, path)
    assert (cents2 == cents).all()
    persisted = SIM.ivf_topk_pruned(loaded, cents2, queries, k=5, n_probe=4)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in persisted.collect()
    }
    assert got == inline

    # the prune reaches the parquet scan as a partition filter
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid" in plan.split("PartitionFilters", 1)[1][:200]


def test_ivf_incremental_append_equals_rebuild(spark, sf_dir):
    """Appending a shard to an existing IVF index (assign-only pass)
    must produce EXACTLY the bucket table of a full rebuild with the
    same centroids — index maintenance is exact, not approximate."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    delta = emb.filter(F.col("vec_id") >= 400)
    b_base, cents = SIM.build_ivf_index(base, n_centroids=8)
    appended = {
        r["id"]: r["centroid"]
        for r in SIM.append_to_ivf_index(b_base, cents, delta)
        .select("id", "centroid")
        .collect()
    }
    full, cents2 = SIM.build_ivf_index(emb, n_centroids=8)
    assert (cents2 == cents).all()
    rebuilt = {
        r["id"]: r["centroid"]
        for r in full.select("id", "centroid").collect()
    }
    assert appended == rebuilt


def test_knn_label_vote_ivf_plan_and_agreement(spark, sf_dir):
    """The registered IVF-backed vote: its scan must carry the centroid
    PartitionFilters (only probed bucket directories are read), and its
    predictions must agree with the exact-scan vote on nearly every
    query (IVF recall bounds the disagreement)."""
    from dsci551_edfs_spark.queries import QUERIES

    ivf = QUERIES["knn_label_vote_ivf"](spark, sf_dir)
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid" in plan.split("PartitionFilters", 1)[1][:200]
    exact = {
        (r["query_id"], r["pred_label"])
        for r in QUERIES["knn_label_vote"](spark, sf_dir).collect()
    }
    got = {(r["query_id"], r["pred_label"]) for r in ivf.collect()}
    assert len(got) == len(exact)
    # gross-wiring guard only: with C=8 random-direction centroids and 4
    # probes the shortlist recall is modest, and a 5-neighbor vote flips
    # on shortlist misses — EXACT correctness of this query is pinned by
    # its full DuckDB oracle, not by agreement with the brute-force vote
    assert len(got & exact) / len(exact) >= 0.5


def test_binary_sign_topk_finds_planted_twins(spark, sf_dir):
    """1-bit quantization keeps enough signal for coarse recall: on the
    twin-planted corpus (cosine ~0.995 pairs, nothing native above
    ~0.52), the binary Hamming top-1 must be the planted twin for at
    least 90% of queries — a 64-bit sign word flips only where the
    perturbation crosses zero."""
    from dsci551_edfs_spark.pipeline import dedup as DD
    from dsci551_edfs_spark.pipeline import similarity as SIM
    from dsci551_edfs_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    inflated = DD.plant_embedding_twins_cyclic(emb)
    queries = inflated.filter(F.col("vec_id") < 50)
    top1 = SIM.binary_sign_topk(inflated, queries, k=1).collect()
    hits = sum(1 for r in top1 if r["neighbor_id"] == r["query_id"] + 1_000_000)
    assert len(top1) == 50
    assert hits >= 45, f"binary top-1 twin recall {hits}/50"


def test_containment_catches_doc_inside_doc(spark):
    """The case Jaccard misses by construction: a short doc fully quoted
    inside a much longer one has Jaccard ~ |A|/|B| (small) but
    containment 1.0."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [
        (1, short),
        (2, filler + " " + short + " " + filler.upper()),
        (3, "unrelated text about completely different things entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in DD.containment_dup_pairs(docs, threshold=0.7).collect()
    }
    assert cont[(1, 2)] == pytest.approx(1.0)  # every shingle of 1 is in 2
    assert jac.get((1, 2), 0.0) < 0.1          # jaccard calls them unrelated
    assert (1, 3) not in cont and (2, 3) not in cont


def test_binary_rerank_recall(spark, sf_dir):
    """The two-stage binary->exact path must recover most of the exact
    scan's top-5: coarse_k is the recall knob (measured on the 500-row
    gaussian fixture: recall@5 ~0.45 at coarse_k=20, ~0.7 at 50 — one
    sign bit per dimension is a COARSE filter by design; the contract
    pins the knob's effect, the demo query runs the cheap setting)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    r20 = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.binary_rerank_topk(emb, queries, k=5, coarse_k=20).collect()
    }
    r50 = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.binary_rerank_topk(emb, queries, k=5, coarse_k=50).collect()
    }
    assert len(r20) == len(r50) == len(exact) == 100
    rec20 = len(exact & r20) / len(exact)
    rec50 = len(exact & r50) / len(exact)
    assert rec50 >= 0.6, f"recall@5 at coarse_k=50: {rec50}"
    assert rec50 >= rec20  # widening the coarse stage never hurts


def test_simhash_null_text_dropped(spark):
    """NULL text is dropped from simhash output (the exploded-groupBy
    formulation the SWAR fold is bit-identical to never emits such docs;
    a NULL-signature row would silently poison direct consumers)."""
    rows = [(1, "alpha beta"), (2, None), (3, "alpha beta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert set(got) == {1, 3}
    assert got[1] == got[3] and got[1] is not None


def test_tokens_sql_matches_column_form(spark):
    """tokens_sql() is the SQL-string twin of tokens() used by the
    one-big-expr hot paths (simhash); the two forms must produce
    identical arrays, including on empty/NULL text and names that need
    backtick quoting."""
    rows = [("  The  QUICK brown\tFox ",), ("",), (None,), ("a b  c",)]
    df = spark.createDataFrame(rows, ["weird col"])
    out = df.select(
        TXT.tokens(F.col("weird col")).alias("a"),
        F.expr(TXT.tokens_sql("weird col")).alias("b"),
    ).collect()
    for r in out:
        assert r["a"] == r["b"]


def test_sign_word_rejects_oversized_vectors(spark):
    """>64-dim vectors must raise at scan time, not silently quantize
    only the first 64 components (a degradation both engines would agree
    on, invisible to the oracle)."""
    schema = "vec_id long, embedding array<double>"
    big = spark.createDataFrame([(1, [1.0] * 65)], schema)
    q = spark.createDataFrame([(2, [-1.0] * 65)], schema)
    with pytest.raises(Exception, match="sign-pack"):
        SIM.binary_sign_topk(big, q, k=1).collect()


def test_mutual_knn_reciprocity_and_twin_recovery(spark, sf_dir):
    """Every mutual pair must appear in BOTH directions' binary top-k
    (reciprocity is the operator's definition), and on the twin-planted
    corpus the planted (v, v+1e6) pairs — mutual best matches by
    construction — must dominate the rank-1/rank-1 output."""
    from dsci551_edfs_spark.pipeline import dedup as DD

    emb = load_table(spark, sf_dir, "embeddings")
    inflated = DD.plant_embedding_twins_cyclic(emb)
    a = inflated.filter(F.col("vec_id") < 1_000_000)      # originals
    b = inflated.filter(F.col("vec_id") >= 1_000_000)     # planted twins
    out = SIM.mutual_knn_hamming(a, b, k=3)
    pairs = out.collect()
    fwd = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.binary_sign_topk(b, a, k=3, exclude_self=False).collect()
    }
    bwd = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.binary_sign_topk(a, b, k=3, exclude_self=False).collect()
    }
    for r in pairs:
        assert (r["id_a"], r["id_b"]) in fwd
        assert (r["id_b"], r["id_a"]) in bwd
    best = [r for r in pairs if r["rank_ab"] == 1 and r["rank_ba"] == 1]
    twin_hits = sum(1 for r in best if r["id_b"] == r["id_a"] + 1_000_000)
    assert twin_hits / max(len(best), 1) >= 0.9, (twin_hits, len(best))


def test_margin_scores_twin_above_ambient(spark, sf_dir):
    """The margin filter's point: a planted cosine-0.995 twin scores a
    much higher ratio-margin than any native best match (ambient best
    cosines sit near the local-neighborhood average, margin ~1; the twin
    towers over it)."""
    from dsci551_edfs_spark.pipeline import dedup as DD

    emb = load_table(spark, sf_dir, "embeddings")
    inflated = DD.plant_embedding_twins_cyclic(emb)
    queries = inflated.filter(F.col("vec_id") < 10)
    out = {
        r["query_id"]: (r["neighbor_id"], r["margin_milli"])
        for r in SIM.margin_knn_filter(
            inflated, queries, k=4, threshold_milli=0
        ).collect()
    }
    assert len(out) == 10
    for qid, (nid, margin) in out.items():
        assert nid == qid + 1_000_000          # best match IS the twin
        assert margin >= 1200, (qid, margin)   # far above the ~1.0-1.16 ambient band
