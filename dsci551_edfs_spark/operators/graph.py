"""Iterative graph analytics on DataFrames: connected components, BFS
hops, integer-exact PageRank and the other canonical iterative operators.

The two fixpoint operators, `connected_components` and `bfs_hops`, share
one guard: an edge list of at most `_DRIVER_FOLD_EDGES` rows is folded on
the driver, a larger one runs the distributed loop to the same fixpoint.

PageRank's twist that makes it ORACLE-CHECKABLE — rare for iterative
float algorithms — is integer arithmetic throughout: ranks live in
micro-units (1e6 = mass 1.0) and every division is floor division, so
the result is bit-identical on any engine and any partitioning, with
zero FP accumulation-order dependence (same design as
pipeline/importance.py and pipeline/lm.py).

Update rule per iteration (all integer ops):

    contrib(u)  = pr(u) // outdeg(u)
    pr'(v)      = (15·SCALE) // (100·N)  +  (85·Σ contrib(u→v)) // 100

Scale shape: each iteration is one shuffle of (dst, contrib) pairs
grouped by destination — the textbook Pregel/GraphX message pattern; the
rank vector is (node, long) rows, never collected. Iterations extend the
lineage, so the loop localCheckpoints the rank vector every 5 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank_micro",
    "triangle_count",
    "clustering_coefficient",
    "label_propagation",
    "connected_components",
    "bfs_hops",
    "neighbor_jaccard",
    "kcore_peel",
    "SCALE",
]

SCALE = 1_000_000


def pagerank_micro(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list (every node must appear as a
    src or dst; dangling nodes simply leak their mass like the classic
    formulation). Returns (node, pr_micro) after ``iterations`` rounds
    from the uniform start SCALE // N."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # two consumers per iteration + the N count: pin the small frames
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank_micro: cannot rank an empty edge list")
    deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    teleport = (15 * SCALE) // (100 * n)
    pr = nodes.withColumn("pr", F.lit(SCALE // n).cast("long"))
    for it in range(iterations):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(deg.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(F.col("pr") / F.col("deg")).cast("long").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sc"))
        )
        # per-query SHUFFLE_HASH hint (optimization r14, guide §3.1;
        # r13 deferred item): the planner picked SortMergeJoin for all
        # three rank joins — both sides node-cardinality, neither
        # broadcastable at scale — paying a per-partition sort of each
        # side per iteration. The aggregated contrib side builds a
        # per-partition hash table instead (buildRight is valid for
        # LeftOuter), removing both sorts; partition-level build memory
        # is contrib/partitions, which scales with
        # spark.sql.shuffle.partitions like every other operator here.
        pr = nodes.join(contrib.hint("shuffle_hash"), "node", "left").select(
            "node",
            (
                F.lit(teleport)
                + F.floor(85 * F.coalesce(F.col("sc"), F.lit(0)) / 100)
            )
            .cast("long")
            .alias("pr"),
        )
        # cut lineage every 5 rounds: without this a high iteration
        # count grows the plan tree exponentially in analysis time
        # (each pr embeds the previous pr twice via join+select)
        if (it + 1) % 5 == 0 and (it + 1) < iterations:
            pr = pr.localCheckpoint(eager=True)
    return pr.select("node", F.col("pr").alias("pr_micro"))


def triangle_count(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    pin: bool = True,
    assume_packable: bool | None = None,
) -> DataFrame:
    """Exact triangle count of the undirected graph given as an edge
    list — degree-ordered edge orientation (the MapReduce-era
    Suri–Vassilvitskii / Cohen recipe, DataFrame-native).

    Why not the naive triple self-join: its wedge stage enumerates
    Σ deg(v)² pairs, which a single celebrity node turns quadratic. The
    fix is to orient every edge from its lower-(degree, id) endpoint to
    the higher one; each triangle then has exactly ONE source node with
    two outgoing oriented edges, and every node's oriented out-degree is
    O(√m), so the wedge join is bounded Σ outdeg(v)² ≤ m^1.5 regardless
    of skew. Three shuffles total (degree count, wedge join, closing-edge
    semi join) — each on edge keys, never collected.

    ``pin=True`` cuts lineage with an EAGER localCheckpoint so an
    expensive upstream edge generation (often a self-join) runs once
    across the two consumers — but the eager job runs at PLAN
    CONSTRUCTION time, which the round-11 memo first-call probe
    measured at ~3 s of `copurchase_triangles`' fresh-session cost.
    Pass ``pin=False`` when the edge list is already a settled cheap
    source (the per-corpus memo parquet): re-reading it twice costs
    less than checkpointing it once.

    Returns a single row ``(n_triangles long)``.
    """
    e = edges.select(
        F.least(F.col(a_col), F.col(b_col)).alias("x"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("y"),
    ).filter(F.col("x") != F.col("y")).distinct()
    if pin:
        # two consumers (degree count + orientation join): pin so the
        # upstream edge generation runs once
        e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("x").alias("node"))
        .unionByName(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    # orient u→v when (deg(u), u) < (deg(v), v); carry deg(v) so the
    # wedge stage can compare the two far endpoints in π-order without
    # another degree join
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("degx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("degy"))
    ed = e.join(dx, "x").join(dy, "y")
    fwd = (F.col("degx") < F.col("degy")) | (
        (F.col("degx") == F.col("degy")) & (F.col("x") < F.col("y"))
    )
    f = ed.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(fwd, F.col("degy")).otherwise(F.col("degx")).alias("degv"),
    )
    if pin:
        # three consumers (f1, f2, closing edges): cut lineage so an
        # expensive upstream runs once. Skipped with pin=False — the
        # round-11 memo first-call probe traced ~3 s of a fresh
        # session's construction time to localCheckpoint's plan→RDD
        # conversion (driver-side Catalyst work, before any job); over
        # a settled memo parquet, recomputing f per consumer is cheaper
        # than that fixed planning cost
        f = f.localCheckpoint(eager=True)
    f1 = f.select(F.col("u"), F.col("v").alias("v1"), F.col("degv").alias("d1"))
    f2 = f.select(F.col("u"), F.col("v").alias("v2"), F.col("degv").alias("d2"))
    wedges = f1.join(f2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    # the wedge relation is the big side (Σ outdeg² rows); the closing-edge
    # side is only m rows — broadcast it when small so the wedges never
    # shuffle, fall back to a shuffled semi join at 100 TB edge counts
    from ..plans.hints import broadcast_if_small

    # probe-key layout: hashing one long beats hashing a two-field struct
    # measurably on a 10⁷-wedge probe, so when node ids provably fit in
    # 32 bits (one cheap agg on the already-materialized edge checkpoint)
    # pack (v1, v2) into a single long — exact, not a hash
    integral = e.schema["x"].dataType.simpleString() in (
        "tinyint",
        "smallint",
        "int",
        "bigint",
    )
    packable = False
    if integral and assume_packable is not None:
        # caller vouches for the id domain (e.g. TPC-H part keys are
        # < 2^31 by construction) — skips the bounds job at plan time
        packable = assume_packable
    elif integral:
        bounds = e.agg(
            F.min(F.least("x", "y")).cast("long").alias("lo"),
            F.max(F.greatest("x", "y")).cast("long").alias("hi"),
        ).first()
        packable = (
            bounds["lo"] is not None
            and bounds["lo"] >= 0
            and bounds["hi"] < (1 << 31)
        )
    if packable:
        wk = wedges.select(
            (F.col("v1") * F.lit(1 << 32) + F.col("v2")).alias("_k")
        )
        fk = f.select((F.col("u") * F.lit(1 << 32) + F.col("v")).alias("_k"))
        closed = wk.join(broadcast_if_small(fk), "_k", "left_semi")
    else:
        closed = wedges.join(
            broadcast_if_small(
                f.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
            ),
            ["v1", "v2"],
            "left_semi",
        )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def clustering_coefficient(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Global clustering coefficient = 3·triangles / wedges, where
    wedges = Σ_v C(deg(v), 2) over the undirected simple graph. Reuses
    `triangle_count` (degree-ordered, skew-bounded); the wedge total is
    one degree aggregation. Returned as exact integers plus an integer
    ppm ratio (floor division) so the row is engine-independent:
    ``(n_wedges, n_triangles, gcc_ppm)``."""
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("x"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds degree agg + triangle_count
    )
    deg = (
        e.select(F.col("x").alias("node"))
        .unionByName(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    wedges = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges")
    )
    tri = triangle_count(e, "x", "y")
    return (
        wedges.crossJoin(F.broadcast(tri))
        .select(
            "n_wedges",
            "n_triangles",
            F.expr(
                "CASE WHEN n_wedges = 0 THEN 0 "
                "ELSE (3 * n_triangles * CAST(1000000 AS BIGINT)) div n_wedges "
                "END"
            )
            .cast("long")
            .alias("gcc_ppm"),
        )
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Synchronous label propagation (LPA) community detection over an
    undirected edge list: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors, ties to
    the SMALLEST label — fully deterministic (the async/random-order
    variants are not), which is what makes an unrolled SQL oracle
    possible.

    Scale shape per round: one edge-keyed join shipping (dst, label)
    messages + one (node, label) count — the same Pregel message
    pattern as `pagerank_micro`; the argmax is a node-KEYED window
    (never global). Lineage is cut every 5 rounds like the other
    iterative ops. Returns ``(node, label)``."""
    from pyspark.sql import Window

    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("x"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    bidir = (
        e.select(F.col("x").alias("src"), F.col("y").alias("dst"))
        .unionByName(e.select(F.col("y").alias("src"), F.col("x").alias("dst")))
        .localCheckpoint(eager=True)  # consumed once per iteration
    )
    labels = bidir.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
    for it in range(iterations):
        msgs = bidir.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "label")
        cnt = msgs.groupBy("node", "label").agg(F.count("*").alias("c"))
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        if (it + 1) % 5 == 0 and (it + 1) < iterations:
            labels = labels.localCheckpoint(eager=True)
    return labels


#: Largest edge list, in rows as given (duplicates and self-loops
#: included), that `connected_components` and `bfs_hops` fold on the
#: driver. At the cap the plain tuples take about 130 MB of driver
#: memory, and the fold's dicts another 80 MB (union-find) to 260 MB
#: (BFS adjacency), measured with tracemalloc on 40-bit ids: hundreds of
#: MB in all, so this stays well below the driver heap.
_DRIVER_FOLD_EDGES = 1_000_000


def _small_edges(e: DataFrame) -> list[tuple] | None:
    """The rows of the lazily checkpointed edge frame ``e`` as plain
    tuples when there are at most `_DRIVER_FOLD_EDGES` of them, else
    None. Three jobs: the count (a map and a result job), which also
    materializes the checkpoint, so the edge generation upstream runs
    once whichever path reads ``e``, and the collect."""
    if e.count() > _DRIVER_FOLD_EDGES:
        return None
    # a Row carries a per-instance dict and field list; a tuple does not
    return [tuple(r) for r in e.collect()]


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components of an undirected edge list: ``(node, label)``
    for every node that appears in any edge, self-loop-only nodes
    included, where ``label`` is the minimum node id in the component —
    the canonical representative dedup keeps.

    A small edge list (`_small_edges`) is folded on the driver by a
    min-rooted union-find with path compression; the result depends only
    on the edge SET. A larger one runs the alternating
    large-star/small-star loop (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014), each round two groupBy passes over
    the current edge set:

    - **large-star**: per node u over its full (symmetric) neighborhood,
      m = min(Γ(u) ∪ {u}); every strictly-larger neighbor v > u
      re-attaches as (v, m).
    - **small-star**: edges arrive child>parent-oriented from large-star;
      per node u over its smaller neighbors Γ⁻(u), m = min(Γ⁻(u)); every
      other small neighbor re-attaches as (v, m), plus (u, m).

    Both stars strictly decrease the potential Σ height and the
    alternation contracts component diameter geometrically, so the loop
    converges in O(log d) rounds whatever the diameter (a 1024-node path
    settles within 12, pinned in pytest). The edge set only shrinks;
    ``localCheckpoint`` cuts lineage every round, and the fixpoint test
    is a 2-scalar agg (count + hash-sum of the edge set), not a frame
    diff. Raises after ``max_iter`` non-converged rounds rather than
    returning a wrong labeling."""
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint(eager=False)
    rows = _small_edges(e)
    if rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in rows:
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                # min-rooted union: the root IS the component's min id
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        node_t = e.schema[0].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            [(n, find(n)) for n in parent], f"node {node_t}, label {node_t}"
        )

    def _sig(g: DataFrame):
        row = g.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return row["n"], row["h"]

    E = e.filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=True)
    prev = _sig(E)
    for _ in range(max_iter):
        # large-star over the symmetric neighborhood
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .distinct()
            .localCheckpoint(eager=True)  # 2 consumers: mins2 + the join
        )
        # small-star: every edge now has v < u (large-star emits (bigger,
        # component-ward min)), so Γ⁻(u) is exactly the v side
        mins2 = ls.groupBy("u").agg(F.min("v").alias("mn"))
        E = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(mins2.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _sig(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iter} rounds"
        )
    # the converged edge set is a star forest (node, component-min); roots
    # and self-loop nodes label themselves, and a self-loop node inside a
    # component takes the smaller component label in the min
    loops = e.filter(F.col("u") == F.col("v"))
    return (
        E.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionByName(E.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .unionByName(loops.select(F.col("u").alias("node"), F.col("u").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def bfs_hops(
    edges: DataFrame,
    source,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Unweighted shortest-path hops from ``source`` over an undirected
    edge list: ``(node, hops)`` for every REACHABLE node (unreachable
    nodes are absent — the caller left-joins if it wants nulls).

    A small edge list (`_small_edges`) is searched breadth-first on the
    driver. A larger one runs BSP frontier relaxation: each round
    propagates ``min(hops)+1`` to neighbors. A node's hop count is final
    from the round that reaches it, so each round either reaches the next
    frontier or changes nothing, and the loop stops after eccentricity + 1
    rounds, when the reached count (one scalar agg per round) stops
    growing. `localCheckpoint` cuts the label lineage per round.
    Integer-exact → a bounded recursive-CTE oracle states the same hop
    counts.
    """
    e = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=False)
    rows = _small_edges(e)
    if rows is not None:
        adj: dict = {}
        for u, v in rows:
            adj.setdefault(u, []).append(v)
            adj.setdefault(v, []).append(u)
        hops = {source: 0} if source in adj else {}
        frontier = list(hops)
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in hops:
                        hops[v] = hops[u] + 1
                        nxt.append(v)
            frontier = nxt
        node_t = e.schema[0].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            sorted(hops.items()), f"node {node_t}, hops long"
        )
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    dist = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select(
            "node",
            F.when(F.col("node") == source, F.lit(0))
            .otherwise(F.lit(None))
            .cast("long")
            .alias("hops"),
        )
        .localCheckpoint(eager=True)  # 2 consumers in the first round
    )
    reached = -1
    while True:
        relax = (
            sym.join(dist, sym.dst == dist.node)
            .filter(F.col("hops").isNotNull())
            .groupBy("src")
            .agg((F.min("hops") + 1).alias("nhops"))
        )
        dist = (
            dist.join(relax, dist.node == relax.src, "left")
            .select("node", F.coalesce("hops", "nhops").alias("hops"))
            .localCheckpoint(eager=True)
        )
        n = dist.agg(F.count("hops")).first()[0]
        if n == reached:
            break
        reached = n
    return dist.filter(F.col("hops").isNotNull()).select("node", "hops")


def neighbor_jaccard(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    min_common: int = 2,
    min_jaccard_thirds: int = 1,
    max_hub_degree: int = 256,
) -> DataFrame:
    """Structural node similarity: Jaccard overlap of neighborhoods,
    |N(a)∩N(b)| / |N(a)∪N(b)| — the classic link-prediction / entity-
    resolution signal ("two parts are substitutes if they co-occur with
    the same other parts"). Entirely integer arithmetic: emits
    ``(ua, ub, common, uni)`` with the threshold ``common/uni ≥
    min_jaccard_thirds/3`` evaluated as ``3·common ≥ thirds·uni`` — no
    FP anywhere, engine- and partitioning-independent.

    Scale shape — the inverted-index family (same discipline as
    `minhash_candidate_pairs` / `tfidf_cosine_pairs`): node pairs meet
    ONLY through a shared neighbor. Each neighbor's posting list is its
    adjacency set; pair expansion runs in pure codegen off a sorted
    ``collect_set`` (one shuffle on the shared-neighbor key), and the
    quadratic hazard is capped by dropping hub neighbors with degree >
    ``max_hub_degree`` — a hub connected to everything certifies no
    similarity, exactly the ``max_df`` argument from the text side.
    `common` is therefore "common neighbors among non-hub neighbors";
    degrees stay exact full-graph degrees.
    """
    adj = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    post = (
        adj.groupBy("v")
        .agg(F.sort_array(F.collect_set("u")).alias("us"))
        .filter(F.size("us") <= max_hub_degree)
    )
    pairs = post.select(
        F.explode(
            F.expr(
                "flatten(transform(us, (x, i) -> transform("
                "slice(us, i + 2, size(us) - i - 1), "
                "y -> struct(x AS ua, y AS ub))))"
            )
        ).alias("p")
    )
    common = (
        pairs.groupBy(F.col("p.ua").alias("ua"), F.col("p.ub").alias("ub"))
        .agg(F.count("*").cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return (
        common.join(
            deg.select(F.col("u").alias("ua"), F.col("deg").alias("deg_a")), "ua"
        )
        .join(deg.select(F.col("u").alias("ub"), F.col("deg").alias("deg_b")), "ub")
        .withColumn(
            "uni", (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast("long")
        )
        .filter(3 * F.col("common") >= min_jaccard_thirds * F.col("uni"))
        .select("ua", "ub", "common", "uni")
    )


def kcore_peel(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    k: int = 3,
    rounds: int = 12,
) -> DataFrame:
    """Bounded-round k-core peeling: repeatedly drop nodes with degree
    < k (and their edges) for a FIXED number of rounds — the standard
    dense-backbone extractor (Seidman 1983). Bounded iteration is the
    contract (like `pagerank_micro`): rounds past the fixpoint are
    no-ops, so the bound only truncates pathologically deep peel chains,
    and both engines run the identical trajectory. Returns
    ``(node, degree)`` over the surviving edge set.

    Scale shape: each round = one map-side-combinable degree aggregate +
    two key-shuffled semi-joins over a SHRINKING edge set; lineage is
    cut per round (lazy localCheckpoint) so Catalyst replans each round
    from a leaf instead of an unrolled 12-round tree."""
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("x"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("x").alias("node"))
            .unionByName(e.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.select(F.col("node").alias("x")), "x", "left_semi")
            .join(keep.select(F.col("node").alias("y")), "y", "left_semi")
            .select("x", "y")
            .localCheckpoint(eager=False)
        )
    return (
        e.select(F.col("x").alias("node"))
        .unionByName(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
