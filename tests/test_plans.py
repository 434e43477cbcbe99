"""Physical-plan regression tests: the 100 TB properties (pushdown,
pruning, broadcast, codegen, no-Python-in-hot-path) asserted on the
actual Catalyst output, so a refactor that silently de-optimizes a plan
fails here rather than in a cluster bill."""

import re

import pytest

from dsci551_edfs_spark.plans.debug import explain_str
from dsci551_edfs_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _bind_spark(spark):
    global _spark
    _spark = spark


def _plan(name):
    return explain_str(QUERIES[name](_spark, SF))


def test_q6_predicates_reach_the_scan():
    plan = _plan("q6_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed down: {pushed}"


def test_q6_prunes_columns():
    plan = _plan("q6_forecast_revenue")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q3_broadcasts_dimensions():
    plan = _plan("q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact side


def test_pruned_aggregate_is_scan_partial_final():
    plan = _plan("pmr_avg_pruned")
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2  # partial + final
    assert "partial_avg" in plan  # map-side combine, not row shipping
    assert "Exchange" in plan  # exactly the single-row partial exchange
    # codegen markers only appear on the AQE final plan -> execute first
    df = QUERIES["pmr_avg_pruned"](_spark, SF)
    df.collect()
    simple = explain_str(df, "simple")
    assert re.search(r"\*\(\d+\) HashAggregate", simple), simple


def test_semi_join_for_exists():
    plan = _plan("q4_order_priority")
    assert "LeftSemi" in plan


def test_no_python_eval_in_relational_plans():
    for name in (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "asof_join_last_purchase",
        "range_join_purchase_hour",
        "dedup_exact_groups",
        "simhash_pairs",
        "text_stats",
        "lang_id",
    ):
        plan = _plan(name)
        assert "BatchEvalPython" not in plan, f"row-at-a-time Python in {name}"
        assert "ArrowEvalPython" not in plan, f"unexpected pandas UDF in {name}"


def test_multimodal_decode_is_arrow_batched():
    plan = _plan("multimodal_decode")
    # mapInPandas shows up as MapInPandas / ArrowEvalPython — Arrow, not
    # row-at-a-time
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_asof_join_is_one_shuffle_per_side():
    plan = _plan("asof_join_last_purchase")
    # union-window formulation: no join node at all, one window sort
    assert "Join" not in plan
    assert "Window" in plan


def test_q12_residual_predicate_stays_on_hash_join():
    """The late-shipment predicate references both join sides; it must ride
    the equi-join as a residual condition, not demote the join to a
    nested-loop plan."""
    plan = _plan("q12_late_shipments")
    assert "NestedLoop" not in plan, plan
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)


def test_q13_outer_join_keeps_customer_side():
    """Q13's orders-side filter lives in the ON clause; the join must stay
    LeftOuter (a post-join filter would silently drop 0-order customers)."""
    plan = _plan("q13_customer_distribution")
    assert "LeftOuter" in plan, plan


def test_q21_single_fact_shuffle_for_window():
    """per-(order,supplier) agg + per-order window must not re-exchange the
    fact frame more than: groupBy hash, window repartition, final top-k
    single-partition exchange."""
    plan = _plan("q21_waiting_suppliers")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 3, plan


def test_q9_decimal_sum_is_partial_final():
    """Decimal accumulation must still split partial/final map-side."""
    plan = _plan("q9_product_profit")
    assert "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan


def test_dedup_clusters_components_join_not_force_broadcast():
    """The corpus<-components join must carry NO mandatory broadcast hint:
    components has one row per near-dup node — unbounded at corpus scale.
    AQE may still broadcast at runtime when it fits; the hint must not
    force it (VERDICT r01 'What's wrong' #2)."""
    from dsci551_edfs_spark.pipeline.dedup import dedup_clusters

    docs = _spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog") for i in range(12)],
        "doc_id long, text string",
    )
    df = dedup_clusters(docs)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical, logical
    assert df.count() == 12  # still executes end-to-end


def test_repetition_stats_prunes_to_two_columns():
    """The curation scan must read only (doc_id, text) — a repetition pass
    over 100 TB cannot afford to read lang/source/n_chars."""
    plan = _plan("repetition_stats")
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    for schema in m:
        cols = {c.split(":")[0] for c in schema.split(",")}
        assert cols <= {"doc_id", "text"}, plan


def test_incremental_dedup_is_anti_join_on_fingerprints():
    """The corpus side must reach the anti-join as fingerprints only —
    never a re-read of historical text into the join row."""
    plan = _plan("incremental_dedup")
    assert "LeftAnti" in plan, plan
    # both dedup steps are hash joins/aggs on the md5 key - no sort of the corpus
    assert "NestedLoop" not in plan, plan


def test_stream_static_enrich_broadcasts_dim():
    """The dim side must broadcast — a shuffled stream-dim join would
    re-partition the full event stream every micro-batch."""
    plan = _plan("stream_static_enrich")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q15_has_no_single_partition_window():
    """The Q15 scalar max must be a 1-row agg broadcast-joined back, never
    an unpartitioned window (which drags every supplier's revenue row onto
    one partition at scale)."""
    plan = _plan("q15_top_supplier")
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_source_mix_report_no_single_partition_window():
    """Corpus totals must come from the scalar-agg broadcast shape, not an
    unpartitioned window over every source row."""
    plan = _plan("source_mix_report")
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_vocab_rank_window_is_partitioned():
    """build_vocab's dense rank must run partitioned by spark_partition_id
    (the two-phase range shape) — never a global Window.orderBy."""
    plan = _plan("vocab_top200")
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), f"unpartitioned window in plan: {plan}"


def test_encode_docs_vocab_join_is_broadcast():
    """The dictionary must broadcast — shuffling the exploded corpus on the
    token key to meet a few-hundred-row vocab would be the classic
    dimension-join mistake at 100 TB."""
    plan = _plan("encode_docs_vocab")
    assert "BroadcastHashJoin" in plan, plan


def test_group_sample_uses_window_group_limit():
    """Per-group top-k must push a WindowGroupLimit (state O(k) per group)
    before the full sort."""
    plan = _plan("group_sample_per_lang")
    assert "WindowGroupLimit" in plan, plan


def test_source_blocklist_is_broadcast_anti_join():
    plan = _plan("source_blocklist_clean")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_chunking_is_map_only():
    """chunk_documents must not shuffle: tokenize -> explode -> slice all
    pipeline into the scan."""
    plan = _plan("doc_chunks")
    assert "Exchange" not in plan, plan


def test_bucketed_sessionize_has_zero_exchange():
    """The hot-user mitigation made concrete: over a user-bucketed table
    the sessionize windows' required hashpartitioning(user_id) is
    satisfied by the bucketed scan — NO Exchange anywhere in the plan
    (the plain-events variant pays exactly one). The write-side shuffle
    happened once at bucketing time."""
    plan = _plan("sessionize_events_bucketed")
    assert "Exchange" not in plan, plan
    assert "Window" in plan
    # and the plain layout pays its one runtime exchange
    plain = _plan("sessionize_events")
    assert len(re.findall(r"\(\d+\) Exchange", plain)) == 1, plain


def test_perplexity_model_join_is_broadcast():
    plan = _plan("doc_perplexity_lm")
    assert "BroadcastHashJoin" in plan, plan


def test_no_unpartitioned_window_in_any_registered_query():
    """Registry-wide lint: NO registered query may contain a WindowExec
    with an empty partition spec — the single-partition trap that q15
    originally had. Bounded tails are expected to use TakeOrdered,
    scalar-agg broadcasts, or join-based ranks instead."""
    offenders, broken = {}, {}
    for name in sorted(QUERIES):
        try:
            plan = _plan(name)
        except Exception as e:  # a query that can't even build is a failure,
            broken[name] = repr(e)[:200]  # not an exemption
            continue
        for m in re.finditer(r"Window \[[^\]]*\](?:, \[([^\]]*)\])?, \[", plan):
            part = (m.group(1) or "").strip()
            if not part:
                offenders[name] = m.group(0)
                break
    assert not broken, broken
    assert not offenders, offenders


def test_tfidf_dictionary_join_is_broadcast():
    """At test scale the size-guarded hint fires: df-table and
    corpus-total broadcast, the tf side never shuffles on the token key.
    (Above the estimate threshold the guard declines the hint — covered
    by test_broadcast_guard_flips_on_oversized_dictionary.)"""
    plan = _plan("tfidf_keywords")
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_broadcast_guard_flips_on_oversized_dictionary(monkeypatch):
    """broadcast_if_small declines the hint when Catalyst's size estimate
    exceeds the threshold: the vocab-sized joins in tfidf/pmi must flip
    to a shuffled strategy instead of forcing an 8 GB+ broadcast on a
    100x-vocab corpus."""
    from dsci551_edfs_spark.plans import hints
    from dsci551_edfs_spark.plans.hints import broadcast_if_small

    default = hints._BROADCAST_ESTIMATE_BYTES
    orders = _spark.read.parquet(f"{SF}/orders.parquet")
    dim = orders.groupBy("o_custkey").count()
    # under threshold: hint applied (a new hinted frame is returned)
    monkeypatch.setattr(hints, "_BROADCAST_ESTIMATE_BYTES", 1 << 40)
    assert broadcast_if_small(dim) is not dim
    # over threshold: frame returned unhinted, identity preserved
    monkeypatch.setattr(hints, "_BROADCAST_ESTIMATE_BYTES", 1)
    assert broadcast_if_small(dim) is dim

    # end-to-end through a registered query. autoBroadcastJoinThreshold
    # is disabled so the planner can't independently re-broadcast from
    # its own small test-scale estimate — at 100x vocab BOTH the guard
    # and the planner see an over-threshold estimate, which is the
    # scenario modeled here.
    auto = "spark.sql.autoBroadcastJoinThreshold"
    _spark.conf.set(auto, "-1")
    try:
        # guard declines at a 1-byte threshold: shuffled join (the
        # scalar corpus-total stays a broadcast nested-loop, always 1 row)
        plan = _plan("tfidf_keywords")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        # guard fires at the default threshold: the HINT alone (planner
        # auto-broadcast still off) restores the broadcast shape
        monkeypatch.setattr(hints, "_BROADCAST_ESTIMATE_BYTES", default)
        assert "BroadcastHashJoin" in _plan("tfidf_keywords")
    finally:
        _spark.conf.unset(auto)


def test_pmi_scans_corpus_once():
    """After the review fix, margins and the total derive from the single
    pc aggregate — the documents scan must appear exactly once."""
    plan = _plan("pmi_collocations")
    assert plan.count("documents.parquet") == 1, plan


def test_bloom_incremental_shape():
    """Membership is an Arrow-batched pandas UDF; the verify branch is a
    LeftAnti join on the fingerprint key."""
    plan = _plan("incremental_dedup_bloom")
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan
    assert re.search(r"LeftAnti", plan), plan


def test_memoized_steady_state_reads_memo_not_corpus():
    """Once the per-corpus memo exists, the registered query's plan must
    be a read of the SETTLED artifact — the corpus-sized work (the O(N²)
    pair scan behind single-linkage, the basket pair expansion behind the
    graph statistics) must not reappear per call."""
    # force the memos to exist (first call may build)
    QUERIES["embedding_single_linkage"](_spark, SF).collect()
    QUERIES["copurchase_triangles"](_spark, SF).collect()

    plan = _plan("embedding_single_linkage")
    # steady state: embeddings scanned once (the vec_id spine) + the
    # memo parquet; the pair generation would show a second embeddings
    # scan and a non-equi join
    assert plan.count("embeddings.parquet") == 1, plan
    assert ".scratch/memo/sl_labels_" in plan, plan

    tri = _plan("copurchase_triangles")
    # the edge build never re-runs: no lineitem (or any corpus parquet)
    # scan — the count runs entirely off the checkpointed oriented edges
    # derived from the memo parquet (the checkpoint cut hides the memo
    # path itself behind Scan ExistingRDD; round 11 measured the cut
    # load-bearing — see the query docstring)
    assert "lineitem" not in tri, tri
    assert "Scan parquet" not in tri, tri


def test_decontam_multi_n_single_tokenize_scan_per_side():
    """Round-8 contract, STRENGTHENED by the r14 layouts: both gram
    families originally came out of ONE tagged tokenize scan per side
    (two text-bearing documents scans; the per-n formulation held
    four); since optimization r14 both sides read the settled
    (id, n, gh) layout union (shingle3_posting + gram5_posting), so the
    query plans with ZERO text-bearing documents scans — only the
    deliberate id-only spine scan for the 0-filled report touches the
    raw table."""
    plan = _plan("decontam_multi_n")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    text_scans = [s for s in schemas if "text" in s]
    assert len(text_scans) == 0, plan
    assert "doc_id:bigint" in schemas, plan  # the pruned id spine
    assert "gram5_posting" in plan, plan
    assert "shingle3_posting" in plan, plan


def test_corpus_prep_pipeline_two_scans_no_text_shuffle():
    """Round-8 contract, STRENGTHENED by the r14 layouts: the fused
    gate meant the corpus paid exactly two scans (gate metadata + the
    MinHash text read); since optimization r14 the MinHash leg reads
    the settled shingle_sets layout semi-joined on the survivor ids,
    so the corpus pays exactly ONE raw text scan (the gate)."""
    plan = _plan("corpus_prep_pipeline")
    assert plan.count("documents.parquet") == 1, plan
    assert "shingle3_sets" in plan, plan


def test_binary_ann_pushes_partial_window_group_limit():
    """ann_topk_binary's `row_number() <= k` over Q·N Hamming rows must
    run as a two-phase WindowGroupLimit — a PARTIAL group-limit before
    the query_id Exchange (each map task forwards only its own top-k per
    query, so the shuffle carries Q·k·tasks rows, never Q·N) and a FINAL
    one after. Without the partial phase, a 100 TB corpus scan would
    shuffle every scored row."""
    plan = _plan("ann_topk_binary")
    assert "Partial" in plan and "Final" in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    # the Partial limit must sit BELOW the exchange (map-side): in the
    # formatted detail section, Partial's node id < Exchange's < Final's
    import re as _re

    ids = {}
    for node_id, name in _re.findall(r"\((\d+)\) (WindowGroupLimit|Exchange)\b", plan):
        mode = "wgl" if name == "WindowGroupLimit" else "ex"
        ids.setdefault(mode, []).append(int(node_id))
    assert len(ids.get("wgl", [])) == 2, plan
    lo_wgl, hi_wgl = sorted(ids["wgl"])
    # some Exchange between the two group-limits = the partial one is
    # upstream of the shuffle
    assert any(lo_wgl < e < hi_wgl for e in ids.get("ex", [])), plan


def test_exact_substring_dedup_scans_text_once():
    """The removal op tokenizes ONCE into a persisted frame read by all
    three consumers (posting, re-assembly, counts) — the documents scan
    must appear exactly once; the two gram-keyed windows (occurrence +
    winner) must share one gram Exchange."""
    plan = _plan("exact_substring_dedup")
    assert plan.count("documents.parquet") == 1, plan
    assert "InMemoryRelation" in plan, plan


def test_ivf_recall_curve_single_candidate_scan():
    """The nprobe sweep reads ONE persisted candidate frame: the
    embeddings table is scanned to BUILD candidates and truth (corpus +
    pruned-query scan each = 4 scan nodes), but the per-budget sweep
    must join against InMemory candidates — adding budgets to the grid
    adds ZERO scans (not once per n_probe: 4 scans for a 4-point grid
    means the grid rides the cache)."""
    plan = _plan("ann_recall_vs_nprobe")
    assert plan.count("embeddings.parquet") <= 4, plan
    assert "InMemoryRelation" in plan, plan


def _n_scans(plan: str) -> int:
    """Physical scans in a formatted plan. explain("formatted") prints
    each scan TWICE (tree node + details section), so halve the count."""
    return len(re.findall(r"Scan parquet|FileScan parquet", plan)) // 2


def test_fd_discovery_is_single_scan():
    """The 12 FD candidate pairs must melt through ONE scan of part —
    never 12 per-pair scans (the claim in the docstring, pinned)."""
    assert _n_scans(_plan("fd_discovery_part")) == 1


def test_column_entropy_is_single_scan():
    # one scan feeds the stack melt; the scalar N total may rescan —
    # allow 2, never one per column
    assert _n_scans(_plan("column_entropy_profile")) <= 2


def test_hashed_tfidf_knn_broadcasts_query_side():
    """The Q·64-row query side must broadcast — the corpus never
    shuffles for the match (docstring claim, pinned)."""
    plan = _plan("hashed_tfidf_knn")
    assert "BroadcastHashJoin" in plan, plan


def test_ewma_scans_events_once():
    """Collapse-first: the 30-term weighted window must run on the
    calendar-sized aggregate of ONE events scan — before the daily
    aggregate was lineage-cut, BOTH self-join sides re-scanned raw
    events (the checkpointed frame shows as a leaf RDD scan, so no
    parquet scan at all once cached)."""
    assert _n_scans(_plan("ewma_event_rate")) <= 1


def test_minhash_pr_eval_single_text_scan():
    """Round-11 contract, STRENGTHENED by the r14 shared text layout:
    the candidate leg (signatures) and the truth leg (inverted index)
    must not re-tokenize raw text — originally pinned as exactly ONE
    shared documents scan; since optimization r14 both legs read the
    once-per-corpus settled layouts (shingle3_sets for signatures, the
    shash-bucketed shingle3_posting for the inverted index), so the
    query plans with ZERO raw documents scans — the tokenize pass now
    runs once per corpus (priced by the bench's cold-start memo
    accounting), not once per query."""
    from dsci551_edfs_spark.pipeline.dedup import release_cached

    release_cached()
    plan = _plan("minhash_pr_eval")
    # formatted output reprints the same cached subtree under every
    # consumer, so count DISTINCT scan nodes via their details blocks:
    # each physical scan prints exactly one Location: line
    doc_scan_nodes = [
        ln
        for ln in plan.splitlines()
        if ln.startswith("Location:") and "documents.parquet" in ln
    ]
    assert len(doc_scan_nodes) == 0, plan
    layout_scans = {
        ln.strip()
        for ln in plan.splitlines()
        if ln.startswith("Location:") and "shingle3" in ln
    }
    # exactly one scan per layout artifact: the sets frame and the
    # bucketed posting — each read once, shared by all its consumers
    assert len(layout_scans) == 2, plan
    assert any("shingle3_sets" in ln for ln in layout_scans), plan
    assert any("shingle3_posting" in ln for ln in layout_scans), plan
    assert "InMemoryRelation" in plan, plan
    release_cached()


def test_cms_join_size_one_digest_nibble_windows():
    """Round-12 contract (verdict r11 #2): join_size_estimate_cms keeps
    the ONE-digest nibble-window hash — each sketch row reads its own
    16-bit substring of a single md5(v) digest. The regression shape is
    the salted per-row digest md5(concat(row, ':', v)) (4x the md5
    calls; measured 2.3 s -> ~1 s when the nibble form landed in r10).
    The r11->r11 2.51 s scare re-measured at 1.69 s median-of-5 in a
    quiet window (SCALE.md round-12) — the plan, not the session, is
    what this pin holds constant."""
    import re

    plan = _plan("join_size_estimate_cms")
    md5_lines = [ln for ln in plan.splitlines() if "md5(" in ln]
    assert md5_lines, plan  # the sketch must hash via md5 (oracle twin)
    for ln in md5_lines:
        assert "substring(md5(" in ln, ln  # nibble-window form only
        assert "md5(concat(" not in ln, ln  # not the salted-digest form
