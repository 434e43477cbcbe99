"""Corpus-curation operators for training-data pipelines.

The reference engine (CSV files + PMR aggregates) has no analogue for any
of these; they are the Spark-native operations a 100 TB pretraining-data
pipeline runs between ingest and tokenization:

- repetition quality metrics (top-bigram fraction, duplicate-trigram
  fraction — the Gopher/"Scaling Language Models" repetition family)
- deterministic train/val/test split (md5-bucket assignment: stable under
  re-runs, re-partitioning and engine changes — never `rand()`)
- per-stratum deterministic sampling (hash-mod downsampling by source)
- global deterministic shuffle order (pretraining example order)
- sequence packing (concat-and-chunk document→context-window assignment)
- PII redaction (regex email/phone scrub)

Every operator is a pure JVM-expression plan (zero Python in the hot
path) with a deliberately SQL-expressible definition so the DuckDB oracle
can restate it formula-for-formula.

Scale notes:
- repetition metrics: the trigram dup-fraction is per-row HOF work (no
  shuffle); the top-bigram mode needs one explode + two-level groupBy —
  the shuffle carries (doc_id, bigram-hash) pairs only.
- split/sample/redact are narrow projections: they pipeline into the scan
  and shuffle nothing.
- shuffle-order and packing are global window ops: Spark realizes them as
  a range-partitioned sort (the standard way a 100 TB corpus is ordered);
  packing consumes the same sort so the two compose in one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens

# bounded-collect guard cap for largest_remainder_allocation (contract:
# ≤ thousands of mixture sources; see plans/guards.py)
_ALLOC_COLLECT_CAP = 1_000_000

__all__ = [
    "ngram_array",
    "repetition_stats",
    "md5_bucket",
    "deterministic_split",
    "leakage_safe_split",
    "stratified_sample",
    "weighted_sample_es",
    "es_key_milli",
    "stratified_weighted_sample",
    "group_sample_topk",
    "chunk_documents",
    "largest_remainder_allocation",
    "upsample_repeat",
    "global_shuffle_order",
    "pack_sequences",
    "redact_pii",
    "boilerplate_line_stats",
    "remove_boilerplate_lines",
    "dedup_paragraphs",
    "span_corruption",
    "mlm_mask",
    "rendezvous_shard",
]


def ngram_array(text: Column | str, n: int) -> Column:
    """NON-distinct word n-gram array (order-preserving), zip_with-shift
    built — O(tokens) per doc (`dedup.shingle_df` holds the distinct
    variant and the measured 7.5x note on the transform+slice trap)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    grams = toks
    for i in range(1, n):
        shift = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        grams = F.zip_with(grams, shift, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.slice(grams, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics (the Gopher repetition-filter
    family): ``top_bigram_frac`` = occurrences of the most frequent bigram
    / total bigrams; ``dup_trigram_frac`` = fraction of trigram slots
    occupied by a repeat of an earlier trigram (1 - distinct/total).

    dup_trigram_frac is computed entirely inside a projection
    (array_distinct on the HOF-built trigram array — no shuffle); the
    bigram mode takes one explode + groupBy(doc, bigram) + groupBy(doc),
    both map-side-combining."""
    tri = ngram_array(text_col, 3)
    doc = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(ngram_array(text_col, 2)).alias("n_bigrams"),
        F.size(tri).alias("n_trigrams"),
        F.size(F.array_distinct(tri)).alias("n_distinct_trigrams"),
    )
    bi_counts = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(ngram_array(text_col, 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bigram_count"))
    )
    return (
        doc.join(bi_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.when(
                    F.col("n_bigrams") > 0,
                    F.coalesce(F.col("max_bigram_count"), F.lit(0)) / F.col("n_bigrams"),
                ).otherwise(F.lit(0.0)),
                3,
            ).alias("top_bigram_frac"),
            F.round(
                F.when(
                    F.col("n_trigrams") > 0,
                    1 - F.col("n_distinct_trigrams") / F.col("n_trigrams"),
                ).otherwise(F.lit(0.0)),
                3,
            ).alias("dup_trigram_frac"),
        )
    )


def md5_bucket(id_col: Column | str, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): first 4 hex chars of
    md5(id-as-string) mod buckets. Stable across engines, partitionings
    and runs — the property `rand()`-based splits lack — and the identical
    formula is restatable in any SQL dialect (the DuckDB oracle rebuilds
    the hex nibbles with strpos since it lacks hex→int conversion)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast("long")
        % buckets
    )


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Append a ``split`` column: 'train'/'val'/'test' by md5 bucket —
    train = bucket < train_pct, val = next val_pct buckets, test = rest."""
    b = md5_bucket(id_col, 100)
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across the
    eval boundary: documents are first grouped into near-dup components
    (exact n-gram Jaccard edges → connected components,
    `dedup.dedup_clusters`), then the md5 bucket is taken of the
    CLUSTER id rather than the doc id — so every member of a near-dup
    family lands on the same side. A plain per-doc split puts ~10% of
    each duplicated test document's twins into train, silently inflating
    eval scores; clustering first is the published fix (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", §6).

    Returns ``(doc_id, cluster_id, split)``. Scale posture inherits from
    the two building blocks: sub-quadratic banded edge generation and
    connected components (a driver fold when the edge list is small,
    O(log diameter) star rounds otherwise), plus one
    stateless projection for the bucket — no extra shuffle beyond the
    clustering itself."""
    from .dedup import dedup_clusters

    clusters = dedup_clusters(
        df, text_col=text_col, id_col=id_col, n=n, threshold=threshold
    )
    b = md5_bucket("cluster_id", 100)
    return clusters.select(
        id_col,
        "cluster_id",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its md5
    bucket (of 100) < fraction*100 for its stratum. The per-source mixture
    re-weighting step of corpus assembly — reproducible, unlike
    `sampleBy`, and expressible as a single narrow filter."""
    b = md5_bucket(id_col, 100)
    # round, don't truncate: int(0.57*100) is 56 under FP error; matches
    # upsample_repeat's conversion of the fractional part
    keep = F.lit(int(round(default_fraction * 100)))
    for value, frac in sorted(fractions.items()):
        keep = F.when(
            F.col(strata_col) == value, F.lit(int(round(frac * 100)))
        ).otherwise(keep)
    return df.filter(b < keep)


def weighted_sample_es(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis (2006) one-pass recipe every distributed engine
    uses (item key u^(1/w), keep the k largest), with the randomness
    replaced by the md5-uniform of the id so every engine, retry and
    repartitioning selects the SAME sample: u = (h48 + 1) / 2^48 from
    the id's first 12 md5 nibbles, and the key is compared in log space
    frozen at MILLI-nats (`round(1e3·ln(u)/w)` — the idf precedent
    scale, where a last-ulp libm difference between engines cannot flip
    the rounding), ties broken by id. Returns the input columns plus
    ``es_key_milli``, the k selected rows.

    Plan shape: ONE codegen projection + a global top-k
    (orderBy().limit → TakeOrdered — per-partition heaps, no
    single-partition sort), the same cost as any top-k at 100 TB.
    Rows with weight ≤ 0 are filtered out before keying — true
    Efraimidis–Spirakis semantics (w = 0 ⇒ selection probability 0);
    the `greatest(w, 1)` clamp inside `es_key_milli` then only guards
    expression totality, it can never promote a zero-weight row."""
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key_milli", es_key_milli(id_col, weight_col))
        .orderBy(F.col("es_key_milli").desc(), F.col(id_col))
        .limit(k)
    )


def es_key_milli(id_col: str, weight_col: str) -> Column:
    """The deterministic Efraimidis–Spirakis selection key:
    round(1e3 · ln(u) / w) with u = (h48 + 1)/2^48 from the id's md5 —
    shared by the global (`weighted_sample_es`) and per-group
    (`stratified_weighted_sample`) samplers."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h + F.lit(1).cast("double")) / F.lit(float(1 << 48))
    return F.round(
        F.log(u) / F.greatest(F.col(weight_col), F.lit(1)) * 1e3
    ).cast("long")


def stratified_weighted_sample(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum Efraimidis–Spirakis weighted sampling without
    replacement: the k largest ES keys WITHIN each stratum — "give me
    10 token-weighted docs per source", deterministic across engines/
    retries/partitionings (same md5-uniform key as
    `weighted_sample_es`, including the weight ≤ 0 pre-filter — zero-
    weight rows are never sampled). Plan shape: one hash-partition
    shuffle on the stratum + the rank window per group — Spark pushes
    a WindowGroupLimit so per-group state is O(k), the
    `group_sample_topk` precedent. Returns the input columns plus
    ``es_key_milli`` and ``sample_rank``."""
    w = Window.partitionBy(strata_col).orderBy(
        F.col("es_key_milli").desc(), F.col(id_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_key_milli", es_key_milli(id_col, weight_col))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .withColumn("sample_rank", F.col("sample_rank").cast("long"))
    )


def group_sample_topk(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group sampling: the k rows per group whose
    md5(id-as-string) sorts first (id as tiebreak — md5 collisions are
    practically impossible but determinism must not rest on that). Returns
    the input columns plus ``sample_rank`` (1-based).

    The hash order is a uniform shuffle of each group that every engine
    reproduces — unlike ``rand()`` it survives retries, repartitioning and
    engine swaps, so a 100 TB "give me 10k docs per source for eyeballing"
    pull is stable run-over-run. Plan shape: one hash-partition shuffle on
    the group key + per-partition top-k via the rank window — Spark pushes
    a WindowGroupLimit before the full sort at execution, so state per
    group is O(k), not O(|group|)."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .withColumn("sample_rank", F.col("sample_rank").cast("long"))
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking for long-document training: token windows
    of ``chunk_tokens`` starting every ``stride`` tokens (stride <
    chunk_tokens ⇒ overlap, the usual context-carryover recipe). Returns
    ``(id, chunk_idx, n_chunk_tokens, chunk_text)`` — the final window is
    the natural tail remainder.

    Pure codegen: tokenize → explode the start-offset sequence → slice.
    No shuffle at all (chunks inherit the document's partition), which is
    exactly what a 100 TB chunking pass should be: a map-only job whose
    output feeds the pack/shuffle stages downstream."""
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
    ).filter(F.col("_n") > 0)
    starts = F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    ex = base.select(
        id_col, "_toks", "_n", F.explode(starts).alias("_start")
    )
    chunk = F.slice("_toks", F.col("_start") + 1, chunk_tokens)
    return ex.select(
        F.col(id_col),
        (F.col("_start") / stride).cast("long").alias("chunk_idx"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start"))
        .cast("long")
        .alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def largest_remainder_allocation(
    weights: DataFrame,
    budget: int,
    key_col: str = "source",
    weight_col: str = "w_micro",
    normalize: bool = False,
) -> DataFrame:
    """EAGER: collects the (bounded) ``weights`` frame and runs Spark
    jobs at CALL time, returning a snapshot local frame — persist an
    expensive input before calling, and do not compose this lazily
    (ADVICE r13). Integer token-budget allocation by the
    largest-remainder method: given per-source mixture weights in
    micro-units (summing to 1e6) and a total ``budget``, return
    ``(key, w_micro, alloc)`` with Σ alloc == budget EXACTLY — the
    mixture planner step before `stratified_sample`/`upsample_repeat`
    materialize the allocation.

    quota = budget·w (micro-exact), base = quota // 1e6, and the
    ``budget − Σ base`` leftover units go to the largest remainders
    (ties by key). The remainder rank is a JOIN-based count — how many
    sources sort ahead — not a global window: for the ≤ thousands of
    sources a real mixture has, the self-join is trivial and the
    single-partition WindowExec trap never enters the plan. All integer
    arithmetic → bit-identical on any engine (SQL-oracle-checkable).

    ``normalize=True`` drops the weights-sum-to-1e6 precondition: the
    divisor becomes Σ weights, so RAW integer scores — e.g.
    temperature-sampling scores round(n^α · 1e6) — allocate directly
    without a lossy pre-normalization step (quota = s·budget div Σs
    stays integer-exact).

    Execution (optimization r13, guide §1.2/§7.2): the input is
    key-cardinality-bounded by contract (≤ thousands of mixture
    sources), yet the former in-plan formulation — quota projection +
    scalar-agg crossJoin + remainder-rank self-join + totals crossJoin —
    re-expanded the (often expensive: DoReMi's whole LM-scoring
    pipeline) input subtree THREE times in the plan and put 5 exchanges
    on a ≤thousands-row frame; `mixture_epochs_plan`, which composes two
    of these passes, carried a 305-Exchange physical plan whose Catalyst
    analysis alone dominated its runtime. Now: ONE bounded collect of
    (key, weight), exact Python-int largest-remainder on the driver
    (identical arithmetic: quota = w·budget, base = quota div d,
    leftover = budget − Σbase to the largest remainders, ties by key
    asc), returned as a local frame — the same bounded-collect class as
    the budget scalar every caller already collects."""
    from ..plans.guards import collect_bounded

    ktype = dict(weights.dtypes)[key_col]
    rows = collect_bounded(
        weights.select(
            F.col(key_col).alias("_k"),
            F.col(weight_col).cast("long").alias("_w"),
        ),
        cap=_ALLOC_COLLECT_CAP,  # contract: ≤ thousands of mixture sources
        what="largest_remainder_allocation",
    )
    kw = [(r["_k"], int(r["_w"] or 0)) for r in rows]
    # contract checks the former join-based formulation enforced
    # implicitly (ADVICE r13): duplicate keys would silently collapse
    # in the dict fold, negative weights would diverge from the SQL
    # div/% (truncate-toward-zero) restatement — surface both instead
    if len({k for k, _ in kw}) != len(kw):
        raise ValueError(
            "largest_remainder_allocation: duplicate allocation keys"
        )
    if any(w < 0 for _, w in kw):
        raise ValueError(
            "largest_remainder_allocation: negative weights violate the "
            "non-negative-weight contract"
        )
    alloc = _remainder_alloc(kw, budget, normalize)
    return weights.sparkSession.createDataFrame(
        [(k, w, alloc[k]) for k, w in kw],
        f"{key_col} {ktype}, {weight_col} long, alloc long",
    )


def _remainder_alloc(
    kw: list[tuple], budget: int, normalize: bool
) -> dict:
    """Exact-integer largest-remainder core over collected (key, weight)
    pairs: quota = w·budget, base = quota div d, the budget − Σbase
    leftover units go to the largest remainders (ties by key asc) —
    the same arithmetic the former in-plan formulation ran, in Python
    bigints. d == 0 (all-zero weights under normalize) allocates
    nothing: there is no remainder order to hand the budget out by."""
    d = sum(w for _, w in kw) if normalize else 1_000_000
    base = {k: (w * budget) // d if d else 0 for k, w in kw}
    rem = {k: (w * budget) % d if d else 0 for k, w in kw}
    leftover = (budget - sum(base.values())) if d else 0
    order = sorted(kw, key=lambda t: (-rem[t[0]], t[0]))
    return {
        k: int(base[k] + (1 if i < leftover else 0))
        for i, (k, _) in enumerate(order)
    }


def packing_curve(
    df: DataFrame,
    lens: tuple[int, ...] = (128, 256, 512, 1024, 2048),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-length sweep for the pretraining loader
    (`sequence_packing_curve`): for each candidate window L, the
    packed (concat-and-chunk) vs pad-each-doc sequence counts, the
    exact padding waste, and the number of docs straddling a window
    boundary in the deterministic (md5(id), id) order. All integer:
    ceil via (x+L-1) div L, utilization as round-down ppm.

    Scale shape: ONE 256-way two-phase prefix pass
    (`_bucketed_global_prefix` — never a single-partition window),
    then one row per doc aggregates map-side under ALL lens values
    simultaneously (conditional aggregates in a single projection —
    the corpus is NOT exploded len(lens)×), and only the 1-row
    partial stacks into the len(lens)-row curve."""
    from ..functions.text import token_count

    base = df.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
        token_count(F.col(text_col)).cast("long").alias("nt"),
    )
    summed = _bucketed_global_prefix(base, id_col, "nt")
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("nt") > 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("nd"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("long").alias("tot"),
    ]
    for L in lens:
        aggs.append(
            F.coalesce(F.sum(F.expr(f"(nt + {L} - 1) div {L}")), F.lit(0))
            .cast("long")
            .alias(f"pad_{L}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("nt") > 0)
                        & (
                            F.expr(f"(_cum - nt) div {L}")
                            != F.expr(f"(_cum - 1) div {L}")
                        ),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"split_{L}")
        )
    one = summed.agg(*aggs)
    curve = one.select(
        "nd",
        "tot",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(L).cast("long").alias("ctx_len"),
                        F.col(f"pad_{L}").alias("padded"),
                        F.col(f"split_{L}").alias("split"),
                    )
                    for L in lens
                ]
            )
        ).alias("r"),
    )
    return curve.select(
        F.col("r.ctx_len").alias("ctx_len"),
        F.col("nd").alias("n_docs"),
        F.col("tot").alias("total_tokens"),
        F.expr("(tot + r.ctx_len - 1) div r.ctx_len")
        .cast("long")
        .alias("n_seqs_packed"),
        F.col("r.padded").alias("n_seqs_padded"),
        (F.col("r.padded") * F.col("r.ctx_len") - F.col("tot"))
        .cast("long")
        .alias("pad_waste_tokens"),
        F.col("r.split").alias("docs_split"),
        F.expr(
            "CASE WHEN tot = 0 THEN 0 ELSE tot * 1000000"
            " div (((tot + r.ctx_len - 1) div r.ctx_len) * r.ctx_len) END"
        )
        .cast("long")
        .alias("packed_util_ppm"),
    )


def epoch_capped_allocation(
    weights: DataFrame,
    budget: int,
    max_epochs: int = 4,
    key_col: str = "source",
    weight_col: str = "w_milli",
    capacity_col: str = "toks",
) -> DataFrame:
    """EAGER like `largest_remainder_allocation` (collects ``weights``
    at call time; persist expensive inputs, don't compose lazily).
    Largest-remainder budget allocation with a per-key EPOCH CAP and
    one exact redistribution round — the data-constrained-scaling
    planner core (`mixture_epochs_plan`): ``weights`` carries one row
    per key with its target weight and its REAL token capacity;
    ``budget`` tokens are allocated to the weights by largest remainder
    (Σ alloc_raw == budget exactly), every key is capped at
    ``max_epochs × capacity``, and the freed budget goes back onto the
    uncapped keys with a SECOND largest-remainder pass, re-capped.
    Single documented redistribution round (not iterate-to-fixpoint) so
    the whole plan stays SQL-restatable; budget stranded after the
    second pass stays unallocated by design.

    Execution (optimization r13): the input is key-cardinality-bounded
    by contract, and the former two-pass in-plan formulation (two
    largest-remainder subplans, a persisted intermediate, a leftover
    collect and two joins) compiled to a 305-Exchange physical plan in
    `mixture_epochs_plan` — Catalyst analysis alone dominated the
    query. Now ONE bounded collect of (key, weight, capacity) feeds
    both exact Python-int passes (identical arithmetic — quota/base/
    remainder ranks, cap at max_epochs·capacity, one redistribution
    round re-capped), returned as a local frame. Returns (key,
    capacity, weight, alloc_raw, cap_tokens, alloc_final,
    epochs_micro, capped)."""
    ktype = dict(weights.dtypes)[key_col]
    rows = weights.select(
        F.col(key_col).alias("_k"),
        F.col(capacity_col).cast("long").alias("_c"),
        F.col(weight_col).cast("long").alias("_w"),
    ).collect()  # key-cardinality-bounded by contract
    kcw = [(r["_k"], int(r["_c"] or 0), int(r["_w"] or 0)) for r in rows]
    raw = _remainder_alloc([(k, w) for k, _, w in kcw], budget, True)
    cap = {k: int(max_epochs) * c for k, c, _ in kcw}
    capped_alloc = {k: min(raw[k], cap[k]) for k, _, _ in kcw}
    leftover = budget - sum(capped_alloc.values())
    uncapped = [(k, w) for k, _, w in kcw if raw[k] < cap[k]]
    red = _remainder_alloc(uncapped, leftover, True) if uncapped else {}
    out = []
    for k, c, w in kcw:
        final = min(capped_alloc[k] + red.get(k, 0), cap[k])
        out.append(
            (
                k,
                c,
                w,
                raw[k],
                cap[k],
                final,
                (final * 1_000_000) // c if c else 0,
                1 if raw[k] > cap[k] else 0,
            )
        )
    return weights.sparkSession.createDataFrame(
        out,
        f"{key_col} {ktype}, {capacity_col} long, {weight_col} long,"
        " alloc_raw long, cap_tokens long, alloc_final long,"
        " epochs_micro long, capped long",
    )


def _bucketed_global_prefix(
    base: DataFrame, id_col: str, weight_col: str | None
) -> DataFrame:
    """Global order/prefix-sum over (md5(id), id) WITHOUT the
    single-partition window trap: an unpartitioned `Window.orderBy` makes
    Spark move the whole corpus to ONE partition (WindowExec warns
    exactly this) — instant 100 TB bottleneck.

    Instead: the first 2 hex chars of the md5 key define 256 STATIC,
    deterministic range buckets (md5 is uniform, so they are balanced by
    construction — no sampled RangePartitioner whose boundaries could
    drift between jobs). Per-bucket totals (256 rows) come to the driver,
    their running sum is broadcast back as the bucket's global offset, and
    the within-bucket window runs fully parallel across buckets.
    global_value = bucket_offset + within-bucket prefix.

    `base` must carry `_k` (the md5 key) and `weight_col` if summing.
    Adds `_b` (bucket), `_off` (offset of the bucket) and `_rn`/`_cum`."""
    spark = base.sparkSession
    b = F.conv(F.substring("_k", 1, 2), 16, 10).cast("int")
    # Two jobs consume `base` (the totals collect, then the join+window).
    # localCheckpoint materializes it ONCE: the upstream plan — in
    # corpus_prep_full the entire filter+dedup pipeline — doesn't run
    # twice, and a nondeterministic upstream (sample(), AQE-order
    # first-wins dedup) can't feed the two passes different rows, which
    # would silently corrupt the offsets. Rows here are narrow
    # (id, 32-char key, bucket[, weight]), so the checkpoint is cheap
    # even at full corpus scale.
    base = base.withColumn("_b", b).localCheckpoint(eager=True)
    agg = F.sum(weight_col) if weight_col else F.count("*")
    totals = {
        r["_b"]: r["t"] for r in base.groupBy("_b").agg(agg.alias("t")).collect()
    }
    acc = 0
    offs = []
    for i in range(256):
        offs.append((i, acc))
        acc += int(totals.get(i, 0))
    off_df = spark.createDataFrame(offs, "_b int, _off long")
    w = Window.partitionBy("_b").orderBy("_k", id_col)
    out = base.join(F.broadcast(off_df), "_b")
    if weight_col:
        cum = F.sum(weight_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
        return out.withColumn("_cum", F.col("_off") + cum)
    return out.withColumn("_rn", F.col("_off") + F.row_number().over(w))


def batch_padding_report(
    df: DataFrame,
    batch_size: int = 16,
    bucket_width: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dynamic-padding batch efficiency, quantified: batches of
    ``batch_size`` docs pad every member to the batch max length, so
    waste = Σ_batches (count·max − Σ n_tokens). Two loader strategies
    are laid out and measured side by side:

    - ``shuffled``: the deterministic (md5(id), id) pretraining order —
      long docs land next to short ones, every batch pads to its
      longest member;
    - ``length_bucketed``: docs sort by (⌊n_tokens/bucket_width⌋,
      md5(id), id) first — batch members share a length band, padding
      collapses (the standard bucketed-batching trick).

    Both rankings are the two-phase bucketed prefix (256 md5 ranges ×
    length band): per-group totals to the driver, offsets broadcast
    back, windows fully parallel — never a single-partition sort, the
    same discipline as `global_shuffle_order`. Output is 2 rows of
    exact integers (strategy, n_batches, padded_tokens, waste_tokens,
    waste_ppm), SQL-restatable end to end."""
    tok = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(
        F.size(tokens(F.col(text_col)))
    )
    base = df.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
        tok.cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    spark = base.sparkSession

    # ONE distributed totals pass serves BOTH strategies (optimization
    # r14, guide §1.2): the bucketed (⌊len/width⌋, md5-range) counts are
    # collected once; the shuffled strategy's (0, md5-range) totals are
    # the same counts summed across length bands — pure driver
    # arithmetic on the ≤ bands·256-row dict, identical integers to the
    # second groupBy it replaces (one fewer full pass over base).
    bucketed_totals = {
        (r["_lb"], r["_b"]): int(r["t"])
        for r in base.withColumn(
            "_lb", F.floor(F.col("n_tokens") / bucket_width).cast("int")
        )
        .withColumn("_b", F.conv(F.substring("_k", 1, 2), 16, 10).cast("int"))
        .groupBy("_lb", "_b")
        .agg(F.count("*").alias("t"))
        .collect()
    }
    shuffled_totals: dict[tuple[int, int], int] = {}
    for (_lb, _b), t in bucketed_totals.items():
        key = (0, _b)
        shuffled_totals[key] = shuffled_totals.get(key, 0) + t

    def ranked(with_len_bucket: bool) -> DataFrame:
        lb = (
            F.floor(F.col("n_tokens") / bucket_width).cast("int")
            if with_len_bucket
            else F.lit(0)
        )
        g = base.withColumn("_lb", lb).withColumn(
            "_b", F.conv(F.substring("_k", 1, 2), 16, 10).cast("int")
        )
        totals = bucketed_totals if with_len_bucket else shuffled_totals
        acc = 0
        offs = []
        for key in sorted(totals):
            offs.append((key[0], key[1], acc))
            acc += int(totals[key])
        off_df = spark.createDataFrame(offs, "_lb int, _b int, _off long")
        w = Window.partitionBy("_lb", "_b").orderBy("_k", id_col)
        return (
            g.join(F.broadcast(off_df), ["_lb", "_b"])
            .withColumn("_rn", F.col("_off") + F.row_number().over(w))
        )

    reports = []
    for name, with_lb in (("length_bucketed", True), ("shuffled", False)):
        r = ranked(with_lb).withColumn(
            "_batch", F.floor((F.col("_rn") - 1) / batch_size)
        )
        per_batch = r.groupBy("_batch").agg(
            F.count("*").alias("c"),
            F.max("n_tokens").alias("mx"),
            F.sum("n_tokens").alias("sm"),
        )
        rep = per_batch.agg(
            F.lit(name).alias("strategy"),
            F.count("*").cast("long").alias("n_batches"),
            F.sum(F.col("c") * F.col("mx")).cast("long").alias("padded_tokens"),
            (F.sum(F.col("c") * F.col("mx")) - F.sum("sm"))
            .cast("long")
            .alias("waste_tokens"),
            F.expr(
                "(sum(c * mx) - sum(sm)) * 1000000 div sum(c * mx)"
            ).cast("long").alias("waste_ppm"),
        )
        reports.append(rep)
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


def upsample_repeat(
    df: DataFrame, factor: float, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic epoch upsampling — the >1x half of mixture
    re-weighting (`stratified_sample` is the <1x half): every row gets
    ``floor(factor)`` copies, plus one more iff its md5 bucket clears the
    fractional part — so factor 2.3 repeats every doc twice and a stable
    30% of docs a third time. Emits a ``copy`` index (0-based) so
    downstream shuffling treats repeats as distinct examples.

    A narrow projection + explode(sequence(...)) — no shuffle, no rand():
    re-runs and re-partitions produce the identical corpus."""
    whole = int(factor)
    frac_pct = int(round((factor - whole) * 100))
    n_copies = F.lit(whole) + F.when(
        md5_bucket(id_col, 100) < frac_pct, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


def global_shuffle_order(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic pretraining example order: rank by (md5(id), id) —
    decorrelates from ingest order exactly like a one-time shuffle, stable
    across runs/engines. Two-phase bucketed rank (see
    `_bucketed_global_prefix`): 256-way parallel, one 256-row driver
    exchange, never a single-partition sort."""
    base = df.select(
        F.col(id_col), F.md5(F.col(id_col).cast("string")).alias("_k")
    )
    ranked = _bucketed_global_prefix(base, id_col, None)
    return ranked.select(
        id_col, F.col("_rn").cast("long").alias("shuffle_pos")
    )


def pack_sequences(
    df: DataFrame,
    target_tokens: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk packing: documents are laid out in the
    deterministic shuffle order (md5(id), id) — the order a pretraining
    loader would actually consume them — and chunked into fixed
    ``target_tokens`` windows; a doc's ``pack_id`` is the window its first
    token lands in. The prefix sum uses the same bucketed two-phase shape
    as `global_shuffle_order` (offsets carry per-bucket TOKEN totals), so
    the greedy sequential loop becomes one 256-way-parallel window."""
    tok = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(
        F.size(tokens(F.col(text_col)))
    )
    base = df.select(
        F.col(id_col),
        F.md5(F.col(id_col).cast("string")).alias("_k"),
        tok.cast("long").alias("n_tokens"),
    )
    summed = _bucketed_global_prefix(base, id_col, "n_tokens")
    return summed.select(
        id_col,
        "n_tokens",
        F.floor((F.col("_cum") - F.col("n_tokens")) / target_tokens)
        .cast("long")
        .alias("pack_id"),
    )


def _segments_exploded(
    df: DataFrame, text_col: str, id_col: str, delimiter: str
) -> DataFrame:
    """(doc_id, pos, seg, h): documents split into ordered segments with a
    whitespace-normalized md5 line hash. One narrow projection + explode —
    pipelines into the scan, shuffles nothing."""
    segs = F.split(F.col(text_col), delimiter)
    return df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segs).alias("pos", "seg")
    ).withColumn(
        "h", F.md5(F.regexp_replace(F.trim(F.lower(F.col("seg"))), r"\s+", " "))
    )


def boilerplate_line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """(h, ndocs, example): normalized lines occurring in >= ``min_docs``
    DISTINCT documents — the CCNet-style boilerplate inventory (nav bars,
    cookie banners, copyright footers repeat across pages; real content
    doesn't). ``example`` carries one arbitrary raw spelling for triage."""
    ex = _segments_exploded(df, text_col, id_col, delimiter)
    return (
        ex.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("ndocs"),
            F.min("seg").alias("example"),
        )
        .filter(F.col("ndocs") >= min_docs)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Strip corpus-frequent lines from every document (CCNet-style
    boilerplate removal): a line is boilerplate iff its normalized hash
    occurs in >= ``min_docs`` distinct docs; surviving lines are rejoined
    in their original order. Returns ``(doc_id, n_segments, n_kept,
    cleaned_text)`` — one row per input doc (all-boilerplate docs survive
    with ``n_kept = 0`` and an empty ``cleaned_text``, so a downstream
    min-length filter makes the drop decision explicitly).

    Scale shape: the line-frequency pass shuffles (16-byte hash, doc_id)
    pairs only; the boilerplate set is by construction small (<= total
    lines / min_docs, and real boilerplate is a short head), so the
    anti-join back is broadcast-friendly and AQE picks that up at runtime.
    The re-assembly groupBy shuffles each surviving line once — the same
    cost any per-doc reconstruction pays.

    ``delimiter`` is used both as the split pattern and the rejoin string,
    so it must be a literal (no regex metacharacters) — "\\n" is the
    normal case."""
    ex = _segments_exploded(df, text_col, id_col, delimiter)
    boiler = (
        ex.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("h")
    )
    kept = ex.join(boiler, "h", "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            delimiter,
        ).alias("cleaned_text"),
    )
    totals = ex.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    return (
        totals.join(kept_agg, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.col("n_segments").cast("long").alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup: each normalized segment
    survives only at its FIRST corpus occurrence (lowest ``(doc_id,
    pos)``); every later copy — in the same doc or any other — is
    dropped, and each doc is reassembled from its surviving segments in
    order. This is the segment-granularity member of the dedup family
    (RefinedWeb/MassiveText run exactly this pass between line-level
    boilerplate removal and document-level MinHash): unlike
    ``remove_boilerplate_lines`` (frequency threshold, drops ALL copies)
    the first spelling is kept, so corpus content is preserved once.

    Returns ``(id_col, n_segments, n_kept, cleaned_text)``, one row per
    input doc.

    Scale shape: the winner per segment-hash comes from
    ``groupBy(h).agg(min(struct(doc_id, pos)))`` — a partial-aggregatable
    (map-side combine) reduction, deliberately NOT a
    ``row_number() over (partition by h)`` window, which cannot combine
    map-side and sends every copy of a hot segment to one task. The join
    back is hash-for-hash; reassembly pays the same per-doc groupBy as
    boilerplate removal. Everything shuffled is (16-byte hash, id, int).
    """
    ex = _segments_exploded(df, text_col, id_col, delimiter)
    winners = (
        ex.groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .select("h", F.col("w.doc_id").alias("_wdoc"), F.col("w.pos").alias("_wpos"))
    )
    kept = ex.join(winners, "h").filter(
        (F.col("doc_id") == F.col("_wdoc")) & (F.col("pos") == F.col("_wpos"))
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            delimiter,
        ).alias("cleaned_text"),
    )
    totals = ex.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    return totals.join(kept_agg, "doc_id", "left").select(
        F.col("doc_id").alias(id_col),
        F.col("n_segments").cast("long").alias("n_segments"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


# public, well-known patterns; ASCII-only so Java and RE2 agree
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def redact_pii(text: Column | str) -> Column:
    """Email/phone scrub — the minimal PII pass every public-corpus
    pipeline runs. Pure regexp_replace (codegen, no Python); patterns are
    ASCII-anchored so Java regex and RE2 (DuckDB) agree byte-for-byte."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(c, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate_pct: int = 15,
) -> DataFrame:
    """T5-style span-corruption training targets (Raffel et al. 2020):
    ~``rate_pct``% of tokens are masked, ADJACENT masked tokens collapse
    into one ``<extra_id_k>`` sentinel in the input, and the target is
    the sentinel-prefixed masked spans in order —
    ``(id, input_text, target_text, n_spans)``.

    Determinism contract: the mask is `md5_bucket(id:pos) < rate_pct` —
    stable across engines, partitionings, and runs (the property a
    rand() mask lacks, and what makes the DuckDB oracle able to rebuild
    the EXACT same corruption). Span merging is one doc-keyed window pass
    (lag → run-start flags → running run ids); assembly is an ordered
    string agg. No Python anywhere; every window is doc-keyed.

    Scale: one explode + two doc-keyed window functions + one groupBy —
    all shuffles are doc-keyed, state per doc ∝ doc length. This is the
    "construct the denoising objective IN the warehouse" pattern: targets
    ship to trainers as columns, not through a bespoke preprocessing job.
    """
    pos_tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    mask_key = F.concat(
        F.col(id_col).cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    with_mask = pos_tok.select(
        id_col,
        "pos",
        "tok",
        (md5_bucket(mask_key, 100) < rate_pct).alias("m"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("m").over(w)
    start = F.col("m") & (prev.isNull() | ~prev)
    flagged = with_mask.select(
        id_col,
        "pos",
        "tok",
        "m",
        start.alias("st"),
        F.sum(F.when(start, 1).otherwise(0)).over(run).alias("k"),
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">"))
    pieces = flagged.select(
        id_col,
        "pos",
        "k",
        F.when(~F.col("m"), F.col("tok"))
        .when(F.col("st"), sentinel)
        .alias("in_piece"),
        F.when(F.col("st"), F.concat(sentinel, F.lit(" "), F.col("tok")))
        .when(F.col("m"), F.col("tok"))
        .alias("tgt_piece"),
    )
    ordered_join = lambda c: F.array_join(  # noqa: E731
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col(c).alias("p")))
            ),
            lambda s: s["p"],
        ),
        " ",
    )
    return pieces.groupBy(id_col).agg(
        ordered_join("in_piece").alias("input_text"),
        ordered_join("tgt_piece").alias("target_text"),
        F.max("k").cast("long").alias("n_spans"),
    )


def mlm_mask(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rate_pct: int = 15,
    vocab_top: int = 200,
) -> DataFrame:
    """BERT-style MLM corruption (Devlin et al. 2019), built in-warehouse
    like `span_corruption`: ~``rate_pct``% of tokens are selected; of
    those, 80% become ``[MASK]``, 10% are replaced with a "random" vocab
    token, 10% are kept unchanged. Returns
    ``(id, input_text, target_text, n_masked, n_random, n_kept)`` with
    ``target_text`` = space-joined ``pos:original`` labels.

    Every "random" choice is a deterministic md5 bucket of (id:pos) —
    selection, the 80/10/10 action, and the replacement token index —
    so the corruption is identical across engines, partitionings, and
    runs, and the DuckDB oracle rebuilds it EXACTLY. The replacement
    token comes from the top-``vocab_top`` corpus vocabulary
    (`functions.text.build_vocab`, the two-phase global rank) joined by
    index — a vocab-sized broadcast, never a corpus shuffle.
    """
    from ..functions.text import build_vocab

    vocab = build_vocab(df, text_col, top_n=vocab_top).select(
        F.col("token_id").alias("_rid"), F.col("token").alias("_rtok")
    )
    nv = vocab.agg(F.count("*").alias("_nv"))
    pos_tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    ).crossJoin(F.broadcast(nv))
    key = F.concat(
        F.col(id_col).cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    sel = md5_bucket(key, 100) < rate_pct
    action = md5_bucket(F.concat(F.lit("a:"), key), 10)
    ridx = (
        md5_bucket(F.concat(F.lit("r:"), key), vocab_top) % F.col("_nv") + 1
    )
    flagged = pos_tok.select(
        id_col,
        "pos",
        "tok",
        sel.alias("sel"),
        action.alias("a"),
        F.when(sel & (action == 8), ridx).alias("_rid"),
        # vocab is vocab_top-BOUNDED (≤ a few thousand rows by contract):
        # unconditional broadcast — the SMJ alternative shuffles the whole
        # token table on a mostly-NULL key (only sel∧a=8 rows carry one)
    ).join(F.broadcast(vocab), "_rid", "left")
    out_tok = (
        F.when(~F.col("sel"), F.col("tok"))
        .when(F.col("a") < 8, F.lit("[MASK]"))
        .when(F.col("a") == 8, F.col("_rtok"))
        .otherwise(F.col("tok"))
    )
    label = F.when(
        F.col("sel"),
        F.concat(F.col("pos").cast("string"), F.lit(":"), F.col("tok")),
    )
    pieces = flagged.select(
        id_col,
        "pos",
        "sel",
        "a",
        out_tok.alias("in_piece"),
        label.alias("lbl"),
    )
    ordered_join = lambda c: F.array_join(  # noqa: E731
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col(c).alias("p")))
            ),
            lambda s: s["p"],
        ),
        " ",
    )
    return pieces.groupBy(id_col).agg(
        ordered_join("in_piece").alias("input_text"),
        ordered_join("lbl").alias("target_text"),
        F.sum(F.when(F.col("sel") & (F.col("a") < 8), 1).otherwise(0))
        .cast("long")
        .alias("n_masked"),
        F.sum(F.when(F.col("sel") & (F.col("a") == 8), 1).otherwise(0))
        .cast("long")
        .alias("n_random"),
        F.sum(F.when(F.col("sel") & (F.col("a") == 9), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )


def rendezvous_shard(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler & Ravishankar 1998)
    shard assignment: shard(id) = argmax_s w(id, s) with
    w = md5₆₀("{id}#{s}") — the consistent-placement scheme where
    growing the shard set from S to S+1 moves EXACTLY the ~1/(S+1) of
    keys that now win on the new shard, and nothing else (mod-hashing
    reshuffles (S−1)/S of all keys). This is how a 100 TB corpus gets
    re-sharded incrementally: only moved keys rewrite.

    Implementation is one codegen projection — explode the S candidate
    shard ids per row, md5 the "{id}#{s}" string, keep the max
    (weight, s) struct per id via a map-side-combinable groupBy. No
    coordinator state, no lookup table; ties (2⁻⁶⁰ probability) break
    toward the larger s in both engines (max-struct here, row_number
    w DESC, s DESC in the oracle)."""
    s = F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("s")
    w = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit("#"),
                    F.col("s").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.select(F.col(id_col), s)
        .select(id_col, F.struct(w.alias("w"), F.col("s")).alias("ws"))
        .groupBy(id_col)
        .agg(F.max("ws").alias("m"))
        .select(id_col, F.col("m.s").cast("long").alias(out_col))
    )
