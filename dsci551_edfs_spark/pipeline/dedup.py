"""Deduplication operators for training-data pipelines.

Five families, all designed for the 100 TB shape of the problem:

- **exact**: hash-groupBy on a normalized fingerprint. One shuffle on a
  16-byte key; map-side partial aggregation halves traffic.
- **MinHash + LSH**: shingle → k minhashes → b bands → bucket join.
  Candidate generation touches only (id, band_hash) pairs — 16 bytes/row/band
  — never text². Verification either re-joins shingle sets (exact Jaccard)
  or estimates from signature agreement (no text ever shuffled).
- **SimHash**: 64-bit signature via per-bit token-hash voting; near-dup =
  Hamming ≤ d found by pigeonhole banding of the 64 bits into d+1 chunks.
- **n-gram Jaccard**: exact pairwise Jaccard on shingle sets — quadratic;
  only for candidate verification or small inputs (the LSH families are the
  scale path; this is the ground-truth oracle they approximate).
- **embedding cosine**: near-dup pairs above a cosine threshold; brute
  pairwise for small N, random-hyperplane LSH buckets as the scale path.

Everything is JVM-expression-based (xxhash64 / transform / aggregate /
bitwise ops) — zero Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens, tokens_sql
from ..plans.hints import spread_small
from ..functions.vectors import as_double, dot, normalize
from ..operators.graph import connected_components

__all__ = [
    "exact_dedup_groups",
    "exact_dedup",
    "shingle_df",
    "incremental_exact_dedup",
    "build_fingerprint_bloom",
    "incremental_exact_dedup_bloom",
    "incremental_minhash_dedup",
    "minhash_signature",
    "minhash_candidate_pairs",
    "minhash_dedup_pairs",
    "simhash",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "prefix_filter_jaccard_pairs",
    "tfidf_cosine_pairs",
    "embedding_dup_pairs",
    "plant_embedding_twins",
    "dedup_clusters",
    "semantic_dedup",
    "release_cached",
]


# Intermediates pinned with .persist() (banded frames, posting lists,
# unit vectors). The persists are load-bearing — each has ≥2 consumers in
# the same returned plan — but the returned DataFrames are lazy, so the
# library can't know when the caller is done with them. A long-lived
# session running many dedup calls should release them between calls;
# otherwise only LRU eviction bounds cache memory/disk.
_CACHED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    """persist + register for `release_cached`."""
    df = df.persist()
    _CACHED.append(df)
    return df


def _spread(df: DataFrame) -> DataFrame:
    """See plans.hints.spread_small — parallelize tiny single-row-group
    inputs before the per-token hashing stages; no-op at scale."""
    return spread_small(df)


def release_cached(blocking: bool = False) -> int:
    """Unpersist every intermediate this module has pinned and return how
    many were released. Safe to call any time: results not yet
    materialized just recompute. Harnesses (bench.py,
    tools/check_correctness.py) call this between queries."""
    n = 0
    while _CACHED:
        _CACHED.pop().unpersist(blocking=blocking)
        n += 1
    return n


# ---------------------------------------------------------------- exact

def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group rows by normalized-content fingerprint; keep min id as the
    canonical representative. One hash-shuffle on the md5 key."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("group_size"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return df with exact duplicates removed (canonical row = min id).

    Window-free: groupBy fingerprint → min id → semi-join back, so the
    whole thing is two hash exchanges on small keys, never a sort."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def incremental_exact_dedup(
    new_docs: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an INCOMING shard against an already-ingested corpus — the
    incremental crawl workflow: each new batch must drop (a) docs whose
    content already exists in the corpus and (b) within-batch duplicates
    (min id wins).

    Scale shape: the existing corpus contributes ONLY its distinct
    fingerprint set (16-byte keys) to an anti-join — the historical text
    is never re-read once a fingerprint index is materialized; both the
    anti-join and the within-batch dedup shuffle on the same md5 key, so
    AQE coalesces them into one exchange family."""
    existing_fp = existing.select(fingerprint(text_col).alias("fp")).distinct()
    fresh = (
        new_docs.withColumn("fp", fingerprint(text_col))
        .join(existing_fp, "fp", "left_anti")
    )
    keep = (
        fresh.groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return fresh.drop("fp").join(keep, id_col, "left_semi")


# ----------------------------------------------------- bloom prefilter

def _bloom_hashes(fp_col):
    """Two independent 64-bit hashes of the fingerprint; bit positions come
    from double hashing h1 + i*h2 (Kirsch-Mitzenmacher), so any number of
    index functions derives from two JVM xxhash64 calls."""
    return F.xxhash64(fp_col), F.xxhash64(fp_col, F.lit(1))


def build_fingerprint_bloom(
    existing: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 22,
    num_hashes: int = 4,
) -> "np.ndarray":
    """Distributed Bloom-filter build over the corpus fingerprint set:
    each partition scatters its hashes into a local num_bits bitset (one
    Arrow pass, numpy scatter), the per-partition bitsets are OR-merged on
    the driver, and the result broadcasts to executors as num_bits/8 bytes.

    num_bits must be a power of two. Default 4 Mi bits = 512 KiB — at 1%
    target FPR that covers ~400k fingerprints; a 100 TB corpus sizes this
    up (num_bits ≈ 10·n_fingerprints for ~1% with 4 hashes) and the merge
    cost stays #partitions × bitset, independent of corpus rows."""
    if num_bits & (num_bits - 1):
        raise ValueError("num_bits must be a power of two")
    h1, h2 = _bloom_hashes(fingerprint(text_col))
    fps = existing.select(h1.alias("h1"), h2.alias("h2"))
    nbytes = num_bits // 8
    mask = np.uint64(num_bits - 1)

    def partial(batches):
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            if pdf.empty:
                continue
            a = pdf["h1"].to_numpy().astype(np.uint64)
            b = pdf["h2"].to_numpy().astype(np.uint64)
            for i in range(num_hashes):
                idx = (a + np.uint64(i) * b) & mask
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
                )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    acc = np.zeros(nbytes, dtype=np.uint8)
    for row in fps.mapInPandas(partial, "bits binary").collect():
        acc |= np.frombuffer(row["bits"], dtype=np.uint8)
    return acc


def incremental_exact_dedup_bloom(
    new_docs: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bits: int = 1 << 22,
    num_hashes: int = 4,
) -> DataFrame:
    """`incremental_exact_dedup` with a Bloom prefilter — IDENTICAL result
    (the filter has no false negatives; positives are exact-verified), but
    the corpus anti-join only sees the ~FPR·|new| + true-duplicate rows
    instead of the whole incoming shard. On a steady-state crawl where
    95%+ of a shard is genuinely new content, that turns the dominant
    anti-join shuffle into a sliver AQE can broadcast, for the price of a
    one-pass bitset build the corpus index can persist across shards.
    """
    bits = build_fingerprint_bloom(existing, text_col, num_bits, num_hashes)
    bc = new_docs.sparkSession.sparkContext.broadcast(bits)
    mask = np.uint64(num_bits - 1)

    @F.pandas_udf("boolean")
    def maybe_in_corpus(h1: pd.Series, h2: pd.Series) -> pd.Series:
        b = bc.value
        a = h1.to_numpy().astype(np.uint64)
        c = h2.to_numpy().astype(np.uint64)
        res = np.ones(len(a), dtype=bool)
        for i in range(num_hashes):
            idx = (a + np.uint64(i) * c) & mask
            byte = b[(idx >> np.uint64(3)).astype(np.int64)]
            res &= ((byte >> (idx & np.uint64(7)).astype(np.uint8)) & 1) == 1
        return pd.Series(res)

    h1, h2 = _bloom_hashes(F.col("fp"))
    flagged = (
        new_docs.withColumn("fp", fingerprint(text_col))
        .withColumn("_maybe", maybe_in_corpus(h1, h2))
    )
    # two consumers (the definite-new branch and the verify branch) — pin
    # so the scan + fingerprint + membership test run once
    flagged = _persist(flagged)
    definite_new = flagged.filter(~F.col("_maybe"))
    candidates = flagged.filter(F.col("_maybe"))
    existing_fp = existing.select(fingerprint(text_col).alias("fp")).distinct()
    verified_new = candidates.join(existing_fp, "fp", "left_anti")
    fresh = definite_new.unionByName(verified_new).drop("_maybe")
    keep = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    return fresh.drop("fp").join(keep, id_col, "left_semi")


# ---------------------------------------------------------------- minhash

def shingle_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, shingles[, *keep_cols]) with shingles = distinct word n-grams
    of the lowercased text. Docs with < n tokens yield their full token
    string as a single shingle so short docs still participate.

    Built as a zip_with chain (token array zipped against its shift-i
    copies), which is O(tokens) per doc. The obvious
    `transform(sequence(...), i -> concat_ws(' ', slice(toks, i+1, n)))`
    is O(tokens²) — every lambda call copies an n-slice — and measured
    ~7.5x slower on the documents table."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        shingle_expr(toks, n).alias("shingles"),
        *keep_cols,
    )


def positional_ngrams(toks, n: int):
    """Array of the word n-grams of `toks` in POSITION order (element i =
    the gram starting at token i); empty for docs shorter than n tokens.
    The ONE definition of the zip_with gram chain — shingles, span
    reporting and substring removal all derive from it, so the chain's
    subtleties (O(tokens) vs the O(tokens·n) transform+slice spelling;
    zip_with null-padding cut by the final slice) live in one place."""
    grams = toks
    for i in range(1, n):
        shift = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        grams = F.zip_with(grams, shift, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.slice(grams, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def shingle_expr(toks, n: int):
    """The distinct-word-n-gram expression over an already-tokenized
    array column — factored out of `shingle_df` so multi-n consumers
    (decontam.multi_n_overlap) emit several gram families from ONE
    tokenize pass instead of re-scanning the corpus per n."""
    sh = F.when(F.size(toks) >= n, positional_ngrams(toks, n)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(sh)


#: Mersenne prime for the affine (universal) minhash family. 2^31-1 so
#: ``a`` can range over the FULL [1, p) — small coefficients barely wrap
#: the modulus, leaving every h_i near-monotone in h0 and the k minima
#: correlated (measured: signature-agreement estimates inflated 4x).
#: Products stay < 2^63 (a < 2^31, base hash < 2^32): exact int64 on
#: both engines.
MINHASH_PRIME = (1 << 31) - 1


def minhash_affine_params(
    num_hashes: int = 64, seed: int = 42
) -> list[tuple[int, int]]:
    """The (a_i, b_i) constants of the oracle-restatable minhash family
    h_i(x) = (a_i·h0(x) + b_i) mod MINHASH_PRIME, h0 = first 8 md5
    nibbles as int. ONE md5 per shingle + k codegen multiply-add-mods —
    measured ~7x cheaper than k salted md5 rehashes at sf0.1, with an
    exact DuckDB twin (the same constants are embedded in the generated
    oracle SQL). Deterministic from the seed (stdlib Mersenne Twister,
    version-stable)."""
    import random

    rng = random.Random(seed)
    return [
        (
            rng.randrange(1, MINHASH_PRIME),
            rng.randrange(0, MINHASH_PRIME),
        )
        for _ in range(num_hashes)
    ]


def _md5_base_hash(col):
    """h0: 32-bit int from the first 8 md5 nibbles — DuckDB computes the
    identical value as CAST('0x' || substring(md5(x), 1, 8) AS BIGINT),
    the hex→int trick that minted the `ann_topk_int8` and
    `cms_token_counts` oracles."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_sig_expr(
    shingles_sql: str,
    num_hashes: int = 64,
    seed: int = 42,
    hash_family: str = "xxhash64",
):
    """`array<bigint>` of k minhashes as ONE map-side expression over a
    shingle array — no explode, no groupBy, no shuffle. A single
    `aggregate` walks the shingles; each step folds the current
    shingle's k family values into a running elementwise-min array via
    `zip_with(acc, family, least)`. The base hash (xxhash64 or md5) sits
    in one `transform` over the shingle array, so it is computed ONCE
    per shingle regardless of k.

    Values are bit-identical to the exploded
    `groupBy(id).agg(k x min())` formulation this replaces (pinned by
    tests/test_properties.py against a pure-Python reference). The
    DuckDB oracles still state the explode/min form — unchanged,
    because the VALUES are.

    Built as a SQL STRING parsed by one `F.expr` call, not as a Column
    tree: r9 profiling showed ~85% of the registered LSH demos' bench
    time was the DRIVER building the k-term expression DAG through
    hundreds of py4j round-trips (2.0 s plan-build vs 0.49 s of actual
    JVM job time per run). One parse call makes plan construction
    O(string length). `shingles_sql` is a SQL expression for the
    shingle array (usually a column name).

    Hash family = xxhash64(xxhash64(shingle), seed_i): the ~20-byte
    shingle string is hashed ONCE and the k salted members rehash the
    8-byte long (full avalanche each). The salt stays an int32 literal —
    xxhash64 hashes int and long inputs differently, and the original
    formulation salted with `F.lit(seed + i)`.

    ``hash_family='md5'``: the oracle-restatable affine family — h0 =
    32-bit md5-prefix int (8 nibbles; the 48-bit/12-nibble prefix is
    the HLL family's), then h_i = (a_i*h0 + b_i) mod MINHASH_PRIME with
    seeded constants (`minhash_affine_params`), exact int64 on both
    engines. The (a_i, b_i) pairs ride one packed-long array literal
    ((a << 32) | b — measured faster than an array of structs) and are
    unpacked with shiftright/& inside the fold."""
    if hash_family == "md5":
        params = minhash_affine_params(num_hashes, seed)
        fam = ", ".join(f"{(a << 32) | b}L" for a, b in params)
        return F.expr(
            f"""aggregate(
              transform({shingles_sql},
                        sh -> cast(conv(substring(md5(sh), 1, 8), 16, 10)
                                   as bigint)),
              array_repeat(cast({MINHASH_PRIME} as bigint), {num_hashes}),
              (acc, h) -> zip_with(acc, array({fam}),
                (m, pk) -> least(m, (h * shiftright(pk, 32)
                                     + (pk & 4294967295L))
                                    % {MINHASH_PRIME}L)),
              acc -> acc)"""
        )
    salts = ", ".join(str(seed + i) for i in range(num_hashes))
    return F.expr(
        f"""aggregate(
          transform({shingles_sql}, sh -> xxhash64(sh)),
          array_repeat(cast({(1 << 63) - 1} as bigint), {num_hashes}),
          (acc, h) -> zip_with(acc, array({salts}),
                               (m, s) -> least(m, xxhash64(h, s))),
          acc -> acc)"""
    )


def minhash_signature(
    shingled: DataFrame,
    num_hashes: int = 64,
    seed: int = 42,
    keep_cols: tuple[str, ...] = (),
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig[, *keep_cols]) with `sig: array<bigint>` of k minhashes —
    one narrow projection per row (`minhash_sig_expr`), so the signature
    stage is shuffle-free at any corpus size; ``keep_cols`` simply ride
    along (no longer grouping keys — nothing groups)."""
    return shingled.select(
        "id",
        *keep_cols,
        minhash_sig_expr(
            "shingles", num_hashes, seed, hash_family
        ).alias("sig"),
    )


def _banded(
    sig_df: DataFrame,
    bands: int,
    num_hashes: int,
    keep_cols: tuple[str, ...] = (),
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id[, *keep_cols], band, bh): hash each of `bands` equal signature
    slices — the LSH bucket keys. Shared by the within-table self-join and
    the cross-corpus incremental join.

    md5 family: the band key is md5 over the comma-joined slice values —
    a string key instead of F.hash's int32, identically computable in
    DuckDB (`md5(CAST(h0 AS VARCHAR) || ',' || ...)`).

    The bands-wide struct array is one parsed SQL string (see
    `minhash_sig_expr` — plan-build py4j cost), exploded once."""
    r = max(1, num_hashes // bands)

    def band_key(b: int) -> str:
        if hash_family == "md5":
            cols = " || ',' || ".join(
                f"cast(sig[{b * r + j}] as string)" for j in range(r)
            )
            return f"md5({cols})"
        return f"hash(slice(sig, {b * r + 1}, {r}))"

    entries = ", ".join(
        f"named_struct('band', {b}, 'bh', {band_key(b)})"
        for b in range(bands)
    )
    return sig_df.select(
        "id",
        *keep_cols,
        F.explode(F.expr(f"array({entries})")).alias("e"),
    ).select("id", *keep_cols, "e.band", "e.bh")


def minhash_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    max_bucket_size: int | None = None,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH banding: split the signature into `bands` equal slices, hash each
    slice, and self-join docs sharing any (band, band_hash) bucket.

    Scale design: the exploded relation is (id, band_id, band_hash) — tiny
    and uniformly keyed; the self-join shuffles only ids. `max_bucket_size`
    guards against degenerate buckets (boilerplate shingles) going
    quadratic — the classic skew guard for web-corpus dedup.

    `num_hashes` must match the signature length (a `.first()` probe to
    discover it would trigger a full upstream job on an aggregated frame —
    the caller always knows k statically).
    """
    banded = _banded(sig_df, bands, num_hashes, hash_family=hash_family)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bh").agg(F.count("*").alias("n"))
        banded = banded.join(
            sizes.filter(F.col("n") <= max_bucket_size).drop("n"),
            on=["band", "bh"],
            how="left_semi",
        )
    # both self-join sides consume `banded`; without a persist the whole
    # signature aggregation runs twice (AQE's broadcast conversion makes
    # the two sides' exchanges non-identical, so ReuseExchange never
    # fires). (id, band, bh) is ~20 bytes/row x bands rows per doc — the
    # smallest thing worth pinning, same rationale as the RP-LSH persist.
    banded = _persist(banded)
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    exact_verify: bool = True,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → (id_a, id_b, jaccard) pairs with
    jaccard ≥ threshold.

    exact_verify=True re-joins candidate ids to shingle sets and computes
    exact |∩|/|∪| (two broadcast-able joins of the candidate list against
    the shingle table). exact_verify=False estimates Jaccard as the
    signature agreement rate — nothing bigger than the 8·k-byte signatures
    is ever shuffled, the right trade at 100 TB.

    ``shingled`` injects a prebuilt (id, shingles) frame — same n! —
    (e.g. the per-corpus `shared_text_layout.shingle_sets` memo), so the
    tokenize+gram scan is skipped (optimization r14).
    """
    shingled = _persist(
        shingled
        if shingled is not None
        else shingle_df(_spread(df), text_col, id_col, n)
    )
    # persist the signatures BEFORE banding: _banded slices `sig` once per
    # band, and with the map-side fold signature (minhash_sig_expr) an
    # unpinned projection would be CollapseProject-inlined into every
    # slice — k re-folds per doc. 8k bytes/doc, the standard "signature
    # index" materialization a production dedup keeps anyway.
    sigs = _persist(
        minhash_signature(shingled, num_hashes, seed, hash_family=hash_family)
    )
    cands = minhash_candidate_pairs(
        sigs, bands, max_bucket_size, num_hashes, hash_family=hash_family
    )
    if exact_verify:
        a = shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
        b = shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    / F.size(F.array_union("sh_a", "sh_b"))
                ).alias("jaccard"),
            )
        )
    else:
        sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        verified = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                (
                    F.size(
                        F.filter(
                            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                            lambda eq: eq,
                        )
                    )
                    / F.lit(num_hashes)
                ).alias("jaccard"),
            )
        )
    return verified.filter(F.col("jaccard") >= threshold)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
    shingled_tagged: DataFrame | None = None,
) -> DataFrame:
    """NEAR-duplicate incremental dedup — the LSH counterpart of
    `incremental_exact_dedup`: an incoming shard survives iff it is not
    Jaccard-≥-threshold similar to (a) any corpus document or (b) a
    smaller-id document in its own shard (min id is canonical, matching
    the exact path's convention).

    Scale shape: the corpus contributes ONLY its banded signature table
    (id, band, bh — ~20 bytes/row × bands) to an equi-join against the
    shard's bands; in a deployment that table is materialized once per
    corpus and appended per ingested shard, so each new batch costs
    sigs(shard) + one join against the signature index — the corpus TEXT
    is reread only for the exact verification of the (tiny) candidate
    set. Candidates are verified with exact shingle-set Jaccard before
    anything is dropped, so banding misses (false negatives of LSH) are
    the only approximation — same recall contract as
    `minhash_dedup_pairs`, pinned in pytest with planted cross-corpus
    twins."""
    # shingle/sign/band ONCE over the tagged union of both sides — one
    # corpus scan and one map-side-combined signature aggregation instead
    # of two of each (the tag is id-determined, so it rides the groupBy
    # for free). In a deployment the existing side's banded rows come from
    # the materialized signature index; this is the from-scratch path.
    # ``shingled_tagged`` injects a prebuilt (id, shingles, _new) frame
    # (same n! — e.g. the per-corpus `shared_text_layout.shingle_sets`
    # memo with the caller's id-predicate as the tag), skipping the
    # tokenize+gram scan (optimization r14)
    if shingled_tagged is not None:
        sh_all = _persist(
            shingled_tagged.select("id", "shingles", "_new")
        )
    else:
        tagged = new_docs.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("_new")
        ).unionByName(
            existing.select(
                F.col(id_col), F.col(text_col), F.lit(False).alias("_new")
            )
        )
        sh_all = _persist(
            shingle_df(_spread(tagged), text_col, id_col, n, keep_cols=("_new",))
        )
    banded_all = _banded(
        # pinned for the same reason as in minhash_dedup_pairs: _banded's
        # per-band slices must read the settled signature, not re-fold it
        _persist(
            minhash_signature(
                sh_all, num_hashes, seed, keep_cols=("_new",),
                hash_family=hash_family,
            )
        ),
        bands,
        num_hashes,
        keep_cols=("_new",),
        hash_family=hash_family,
    )
    if max_bucket_size is not None:
        # degenerate-bucket guard across BOTH sides at once: a boilerplate
        # band bucket is quadratic regardless of which side its members
        # live on
        banded_all = _persist(banded_all)
        sizes = (
            banded_all.groupBy("band", "bh")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
        banded_all = banded_all.join(sizes, ["band", "bh"], "left_semi")
    # banded_all feeds the cross join (both sides via the tag filters) and
    # the within-shard self-join — three consumers, one pinned frame
    banded_all = _persist(banded_all)
    bn = banded_all.filter("_new")
    bo = banded_all.filter(~F.col("_new"))
    # unified candidate frame: (drop_id, keep_id) where drop_id is the new
    # doc that dies if the pair verifies. Cross pairs drop the new side;
    # within-shard pairs drop the larger id (min id is canonical).
    cross = bn.select(F.col("id").alias("drop_id"), "band", "bh").join(
        bo.select(F.col("id").alias("keep_id"), "band", "bh"), ["band", "bh"]
    )
    wa, wb = bn.alias("a"), bn.alias("b")
    within = wa.join(
        wb,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("b.id").alias("drop_id"), F.col("a.id").alias("keep_id"))
    cands = (
        cross.select("drop_id", "keep_id")
        .unionByName(within)
        .distinct()  # dedup ACROSS band hits before the array-heavy verify
    )
    # one verify pass for both families: shingles live in the same tagged
    # frame, so each side of the pair joins the same cached table
    sha = sh_all.filter("_new").select(
        F.col("id").alias("drop_id"), F.col("shingles").alias("sh_a")
    )
    shb = sh_all.select(F.col("id").alias("keep_id"), F.col("shingles").alias("sh_b"))
    dropped = (
        cands.join(sha, "drop_id")
        .join(shb, "keep_id")
        .filter(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b"))
            >= threshold
        )
        .select(F.col("drop_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(dropped, id_col, "left_anti")


# ---------------------------------------------------------------- simhash

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash: each token votes ±1 on every bit of its xxhash64;
    signature bit = sign of the vote sum.

    ``hash_family='md5'`` swaps the token hash for the 60-bit md5-hex
    value (15 nibbles → always positive, bits 60-63 identically zero):
    the SWAR vote aggregation and the pigeonhole banding run UNCHANGED
    (zero bits vote zero and land in an all-equal top chunk), but every
    signature is exactly restatable in DuckDB — the registered demo
    query's full-oracle path.

    Shape (r9): one map-side expression per doc — `transform` hashes the
    token array once, a single `F.aggregate` folds the SWAR lane sums
    into a 17-field struct, and the sign-unpack lives in the aggregate's
    *finish* lambda, where the settled accumulator is a bound variable.
    No explode, no groupBy, no shuffle: the signature stage is
    embarrassingly parallel at any corpus size. The finish placement is
    load-bearing, not style: unpacking in a later projection lets
    CollapseProject inline the whole fold into each of the 17 field
    extractions — measured 3x SLOWER than the groupBy it replaced.
    Values are bit-identical to the exploded groupBy formulation
    (the DuckDB oracle still states that form — unchanged, because the
    VALUES are).

    SWAR packing: `(h >> w) & 0x0001000100010001` isolates hash bits
    {w, w+16, w+32, w+48} into four 16-bit lanes of one long, so 16
    lane sums (w = 0..15) accumulate all 64 bit-counts — no per-bit CASE
    WHEN, 4x fewer accumulators. Lanes cannot carry as long as a doc has
    < 65,536 tokens. A bit's vote sum over n tokens is positive iff
    2*count(bit) > n, which recovers the ±1-vote semantics exactly
    (ties → bit 0).
    """
    if bits != 64:
        raise ValueError("SWAR simhash is specialized to 64-bit signatures")
    lane_mask = 0x0001000100010001
    # NULL text would fold to a NULL signature row (aggregate over a null
    # array); the exploded-groupBy formulation this is bit-identical to
    # drops such docs entirely — keep that contract (pinned in
    # test_dedup.py::test_simhash_null_text_dropped)
    df = _spread(df).filter(F.col(text_col).isNotNull())
    tok_hash = (
        "cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"
        if hash_family == "md5"
        else "xxhash64(tok)"
    )
    toks = tokens_sql(text_col)
    init = ", ".join(["'n', 0L"] + [f"'w{w}', 0L" for w in range(16)])
    merge = ", ".join(
        ["'n', acc.n + 1L"]
        + [
            f"'w{w}', acc.w{w} + (shiftright(h, {w}) & {lane_mask}L)"
            for w in range(16)
        ]
    )
    unpack = " | ".join(
        f"(case when (shiftright(acc.w{w}, {16 * lane}) & 65535L) * 2 > acc.n"
        f" then shiftleft(1L, {w + 16 * lane}) else 0L end)"
        for w in range(16)
        for lane in range(4)
    )
    sig_expr = F.expr(
        f"""aggregate(
          transform({toks}, tok -> {tok_hash}),
          named_struct({init}),
          (acc, h) -> named_struct({merge}),
          acc -> {unpack})"""
    )
    return df.select(F.col(id_col).alias("id"), sig_expr.alias("simhash"))


def simhash_pairs(
    sim_df: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = None
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split 64 bits into (max_hamming+1) chunks — any pair
    within distance d shares at least one identical chunk — join on chunk
    equality, then verify with bit_count(xor). The join key is a 16-bit-ish
    chunk value: uniform, shuffle-friendly.

    `max_bucket_size` is the degenerate-bucket guard (same semi-join shape
    as `minhash_candidate_pairs`): boilerplate/empty docs share identical
    chunk values, and one hot chunk bucket makes the self-join quadratic.
    Capping drops only buckets whose membership exceeds the cap — on a web
    corpus those are boilerplate clusters you'd exclude (or route to an
    exact-group pass) anyway."""
    chunks = max_hamming + 1
    width = 64 // chunks
    # pin the (id, simhash) frame BEFORE fanning out: the chunk explode
    # references simhash chunks+1 times, and when sim_df is the map-side
    # fold projection, CollapseProject would inline the whole token fold
    # into every reference. 16 bytes/row — the cheapest possible pin.
    sim_df = _persist(sim_df)
    banded = sim_df.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("cv"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("e"),
    ).select("id", "simhash", "e.chunk", "e.cv")
    if max_bucket_size is not None:
        sizes = banded.groupBy("chunk", "cv").agg(F.count("*").alias("n"))
        banded = banded.join(
            sizes.filter(F.col("n") <= max_bucket_size).drop("n"),
            on=["chunk", "cv"],
            how="left_semi",
        )
    # persist: both self-join sides read `banded`; without it the SWAR
    # signature aggregation (the expensive stage) executes twice — see the
    # identical note in minhash_candidate_pairs.
    banded = _persist(banded)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------- jaccard

def _pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    prune_df1: bool = True,
    max_df: int | None = None,
    shingled: DataFrame | None = None,
    posting: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, na, nb, inter): shared shingle counts per candidate
    pair via the inverted-index join — the machinery behind BOTH
    `ngram_jaccard_pairs` and `containment_dup_pairs` (they differ only
    in the final score: |∩|/|∪| vs |∩|/min(|A|,|B|)).

    Scale: the join key is the 8-byte shingle hash, not the string — the
    shuffle carries (hash, id, n_sh) only. Shingles with document
    frequency 1 are pruned first (they cannot contribute to any
    intersection; sizes are precomputed per doc, so dropping them is
    lossless) — on real corpora that is the long tail of the posting
    table. Frequency-skewed boilerplate shingles are the quadratic
    hazard: `max_df` drops posting lists longer than the cap (each
    contributes |list|² candidate rows). Unlike DF-1 pruning this is
    lossy — a dropped shingle no longer counts toward |∩| (sizes are
    unaffected) — so downstream scores are LOWER bounds and max_df
    trades bounded recall loss on boilerplate-heavy pairs for a hard
    candidate-volume cap.

    ``shingled`` injects an already-built (id, shingles) frame — built
    with the SAME n — so a caller that also feeds a signature stage
    (minhash_pr_eval's candidate leg) tokenizes the corpus ONCE instead
    of re-scanning raw text here (round-10 verdict: at 100 TB the
    second text scan dominates an op whose point is auditing the
    first). ``posting`` injects the per-corpus BUCKETED
    (id, n_sh, shash) posting layout
    (sources/shared_text_layout.shingle_posting, optimization r14):
    its bucketed scan already satisfies hashpartitioning(shash), so
    the DF-count aggregate, the prune semi-join and the candidate
    self-join below all plan WITHOUT an Exchange and the
    repartition("shash") is skipped — same rows, keyed shuffle paid
    once at the layout write."""
    prebucketed = posting is not None
    if not prebucketed:
        sh = (
            shingled
            if shingled is not None
            else shingle_df(_spread(df), text_col, id_col, n)
        )
        sized = sh.select("id", F.size("shingles").alias("n_sh"), "shingles")
        posting = sized.select(
            "id", "n_sh", F.explode("shingles").alias("shingle")
        ).select("id", "n_sh", F.xxhash64("shingle").alias("shash"))
    if prune_df1 or max_df is not None:
        # one agg pass serves both DF bounds; persist the RAW posting
        # (two consumers: the DF-count agg and the semi-join left side)
        posting = _persist(posting)
        lo = 2 if prune_df1 else 1
        hi = max_df if max_df is not None else None
        df_counts = posting.groupBy("shash").agg(F.count("*").alias("_df"))
        keep = df_counts.filter(F.col("_df") >= lo)
        if hi is not None:
            keep = keep.filter(F.col("_df") <= hi)
        posting = posting.join(keep.select("shash"), "shash", "left_semi")
    # Persist the FILTERED posting pre-partitioned on the join key: both
    # self-join aliases read the same cache, and hashpartitioning(shash)
    # from the cache satisfies the pair join's distribution so it adds
    # no exchange. A pre-bucketed posting carries that partitioning from
    # its scan — no repartition needed.
    posting = _persist(posting if prebucketed else posting.repartition("shash"))
    a, b = posting.alias("a"), posting.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shash") == F.col("b.shash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    prune_df1: bool = True,
    max_df: int | None = None,
    shingled: DataFrame | None = None,
    posting: DataFrame | None = None,
) -> DataFrame:
    """EXACT pairwise n-gram Jaccard via the inverted-index join
    (`_pair_intersections` — not a cross join): |∩| counted per pair,
    |∪| = |A|+|B|−|∩| from the precomputed per-doc sizes. ``shingled``
    (same n!) skips the tokenize scan; ``posting`` injects the bucketed
    per-corpus posting layout — see `_pair_intersections`."""
    inter = _pair_intersections(
        df, text_col, id_col, n, prune_df1, max_df,
        shingled=shingled, posting=posting,
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= threshold)


def containment_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    prune_df1: bool = True,
    max_df: int | None = None,
    posting: DataFrame | None = None,
) -> DataFrame:
    """CONTAINMENT near-dup pairs: |∩| / min(|A|, |B|) ≥ threshold — the
    doc-inside-doc detector Jaccard misses by construction. A short doc
    fully quoted inside a long one has Jaccard |A|/|B| (arbitrarily
    small) but containment 1.0; web corpora are full of exactly this
    (articles embedded in aggregator pages, quoted posts, boilerplate-
    wrapped reprints), and containment-dedup is the standard
    complement to Jaccard-dedup in crawl processing (Broder's original
    resemblance/containment pair). Same inverted-index join, same DF
    pruning/caps, different denominator. Returns
    (id_a, id_b, containment) with id_a < id_b; the CONTAINED side is
    whichever of the pair has fewer shingles."""
    inter = _pair_intersections(
        df, text_col, id_col, n, prune_df1, max_df, posting=posting
    )
    return inter.select(
        "id_a",
        "id_b",
        (F.col("inter") / F.least("na", "nb")).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df_floor: int = 100,
    max_df_den: int = 5,
    max_df_cap: int = 1000,
    threshold_milli: int = 500,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs via an inverted index — the
    lexical complement of `embedding_dup_pairs`: documents only meet when
    they share an informative token.

    Exactness discipline: weights are integers (tf · round(ln(N/df)·1e3)
    milli-nats) and the cosine threshold is evaluated WITHOUT FP division
    as ``dot²·10⁶ ≥ t_milli²·‖a‖²·‖b‖²`` in DECIMAL(38,0) (valid since
    weights are non-negative) — engine- and partitioning-independent, so
    a DuckDB oracle can restate it bit-for-bit.

    Scale: posting lists are bounded by the DF prune — hapaxes
    (df < min_df) can't pair; the boilerplate bound is
    min(max(max_df_floor, N div max_df_den), max_df_cap). The RELATIVE
    term alone is a quadratic trap: a posting at the N/den bound costs
    (N/den)² pairs, so total work grows ~N² — the round-11 real-5×
    suite measured exactly that (338 s at sf0.5 vs ~1 s at sf0.1, the
    scaled corpus's per-copy token variants landing right at the
    relative bound). The ABSOLUTE ``max_df_cap`` ceiling restores
    linear total work (≤ cap² pairs per token, token count ~N); like
    `ngram_jaccard_pairs`' max_df it is lossy above the ceiling —
    dropped tokens no longer contribute to dots (norms keep only kept
    tokens too), the documented bounded-recall trade. Returns
    (doc_a, doc_b, dot_w, na2, nb2) — exact integers; cosine is one
    driver-side sqrt away."""
    from ..functions import text as TXT
    from ..plans.hints import broadcast_if_small

    # `tf` injects the per-corpus (doc_id|id, token, tf) layout
    # (shared_text_layout.token_tf, bucketed by token — optimization
    # r14): the DF aggregate and the tf⨝df join below then read it
    # exchange-free, and the downstream repartition("token") is
    # satisfied by the bucketed scan. Identical rows either way.
    prebucketed = tf is not None
    if prebucketed:
        if "id" in tf.columns and "doc_id" not in tf.columns:
            tf = tf.withColumnRenamed("id", "doc_id")
    else:
        toks = df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(TXT.tokens(F.col(text_col))).alias("token"),
        )
        tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfr = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_tot = df.agg(F.count("*").alias("_n"))
    idf_milli = F.round(
        F.log(F.col("_n").cast("double") / F.col("df")) * 1e3
    ).cast("long")
    dfr_kept = (
        dfr.crossJoin(F.broadcast(n_tot))
        .filter(
            (F.col("df") >= min_df)
            & (
                F.col("df")
                <= F.least(
                    F.greatest(
                        F.lit(int(max_df_floor)).cast("long"),
                        F.expr(f"_n div {int(max_df_den)}"),
                    ),
                    F.lit(int(max_df_cap)).cast("long"),
                )
            )
        )
        .drop("_n")
    )
    w = (
        tf.join(broadcast_if_small(dfr_kept), "token")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "doc_id", "token", (F.col("tf").cast("long") * idf_milli).alias("w")
        )
    )
    return cosine_pairs_from_weights(
        w, threshold_milli, pre_partitioned=prebucketed
    )


def cosine_pairs_from_weights(
    w: DataFrame, threshold_milli: int = 500, pre_partitioned: bool = False
) -> DataFrame:
    """Pair stage of `tfidf_cosine_pairs` over a prepared (doc_id, token,
    w) weight table — exposed so the overflow contract is property-
    testable at adversarial magnitudes without synthesizing 100 MB texts.

    Overflow discipline: ``w`` is LONG, but every accumulation is
    DECIMAL(38,0) — on a 100x corpus with long documents a single
    ``w²`` already brushes int64 max (tf ~1e5 · idf_milli ~2.8e4 squared
    ≈ 8e18) and ``Σw²`` silently WRAPS in a long sum (Spark long agg is
    modular outside ANSI mode) while DuckDB promotes to HUGEINT — the
    cross-engine asymmetry this stage must never have. DECIMAL(38,0)
    matches HUGEINT's headroom, so both engines agree bit-for-bit right
    up to magnitudes no real corpus reaches. Outputs stay DECIMAL: a
    cast back to long would just re-introduce the wrap at the edge."""
    # three consumers (norm agg + both pair-join sides): persist ONCE,
    # pre-partitioned on the join key so the a⋈b join adds no exchange —
    # only the norm agg re-keys (by doc_id). ``pre_partitioned`` means
    # the caller's weight frame already carries hashpartitioning(token)
    # (token-bucketed layout through a broadcast join): skip the
    # repartition instead of re-shuffling the same keying.
    w = _persist(w if pre_partitioned else w.repartition("token"))
    wd = F.col("w").cast("decimal(19,0)")
    nrm = (
        w.select("doc_id", (wd * wd).alias("w2"))
        .groupBy("doc_id")
        .agg(F.sum("w2").cast("decimal(38,0)").alias("n2"))
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "token", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "token", F.col("w").alias("wb"))
    dot = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("wa").cast("decimal(19,0)") * F.col("wb").cast("decimal(19,0)")
            ).alias("ww"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("ww").cast("decimal(38,0)").alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    t2 = int(threshold_milli) * int(threshold_milli)
    # The exact-compare envelope is 38 decimal digits per product — the
    # same ceiling the DuckDB oracle's HUGEINT (~1.7e38) has. Inside it
    # both engines decide the threshold bit-for-bit; beyond it BOTH fail
    # LOUD (Spark ANSI ArithmeticException / DuckDB out-of-range), never
    # silently wrong — pinned in tests/test_properties.py.
    out = (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot")
                * F.col("dot")
                * F.lit(1_000_000).cast("decimal(7,0)")
                >= F.lit(t2).cast("decimal(19,0)")
                * F.col("na2")
                * F.col("nb2")
            )
        )
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.col("dot").alias("dot_w"),
        F.col("na2").alias("na2"),
        F.col("nb2").alias("nb2"),
    )


def shared_span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_span: int = 6,
    max_occ: int = 1000,
) -> DataFrame:
    """Exact-substring dedup pairs (the Lee et al. 2021 "Deduplicating
    Training Data" contract, re-expressed relationally): for every document
    pair sharing at least one verbatim run of ``min_span`` consecutive
    tokens, return ``(id_a, id_b, longest_span)`` — the length in tokens of
    the longest shared run.

    Suffix arrays find these spans in O(corpus) on one machine; the
    distributed re-expression is positional n-gram fingerprints + run
    stitching, all shuffle-partitioned by pair key:

    1. every (doc, position) emits the xxhash64 of the n-gram starting
       there — one scan, pure codegen, the shuffle carries (id, pos, 8-byte
       hash), never token strings;
    2. occurrence-1 grams are pruned losslessly (a pair needs >= 2
       occurrences) and grams above ``max_occ`` occurrences are capped —
       the boilerplate guard bounding candidate volume at Σ|posting|²,
       same posture as `ngram_jaccard_pairs`;
    3. the inverted-index self-join yields matched positions (pa, pb);
       matches with equal offset d = pb - pa that are CONSECUTIVE in pa
       stitch into one run (classic gaps-and-islands: island key =
       pa - row_number over (pair, d) — a window PARTITIONED by pair key,
       never global);
    4. a run of k stitched n-grams covers k + n - 1 tokens; the pair's
       longest span is the max over its runs.

    Spans shorter than ``min_span`` tokens are dropped. Exact for every
    span whose grams survive the ``max_occ`` cap; the cap only ever
    shortens reported spans of pathological boilerplate (lower bound), it
    cannot invent one."""
    if min_span < n:
        raise ValueError(f"min_span={min_span} must be >= n={n}")
    toks = tokens(F.col(text_col))
    posting = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(positional_ngrams(toks, n)).alias("pos", "ng"),
    ).select("id", "pos", F.xxhash64("ng").alias("gh"))
    posting = _persist(posting)  # 2 consumers: occ agg + semi-join left
    occ = (
        posting.groupBy("gh")
        .agg(F.count("*").alias("_occ"))
        .filter((F.col("_occ") >= 2) & (F.col("_occ") <= max_occ))
    )
    posting = posting.join(occ.select("gh"), "gh", "left_semi")
    # persist the FILTERED posting pre-partitioned on the join key — both
    # self-join aliases read one cache (otherwise each side re-runs the
    # occ agg + semi-join) and hashpartitioning(gh) from the cache
    # satisfies the pair join's distribution (same fix as
    # ngram_jaccard_pairs)
    posting = _persist(posting.repartition("gh"))
    a, b = posting.alias("a"), posting.alias("b")
    m = a.join(
        b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.pos").alias("pa"),
        (F.col("b.pos") - F.col("a.pos")).alias("d"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id_a", "id_b", "d").orderBy("pa")
    runs = m.withColumn("isl", F.col("pa") - F.row_number().over(w))
    spans = runs.groupBy("id_a", "id_b", "d", "isl").agg(
        (F.count("*") + F.lit(n - 1)).alias("span_tokens")
    )
    return (
        spans.groupBy("id_a", "id_b")
        .agg(F.max("span_tokens").cast("long").alias("longest_span"))
        .filter(F.col("longest_span") >= min_span)
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    min_span: int = 6,
    max_occ: int = 1000,
) -> DataFrame:
    """Exact-substring REMOVAL — the deliverable of the Lee et al. 2021
    pipeline, where `shared_span_pairs` is the report: every verbatim
    run of >= ``min_span`` tokens that also occurs earlier in the corpus
    is cut from the document, keeping the globally-first occurrence.
    Returns ``(doc_id, n_tokens, n_removed, clean_text)`` — clean_text
    is the surviving token stream (whitespace-normalized, lowercased:
    the tokenizer's canonical form; exact-substring dedup operates on
    the token stream by construction).

    Deterministic gram-level keep-first contract, identical in both
    engines:

    1. every (doc, position) emits its n-gram; grams with a single
       occurrence are pruned, grams above ``max_occ`` occurrences are
       exempted from removal (the boilerplate cap: hot grams would
       otherwise gut every doc — route them to `boilerplate_removal`);
    2. within each surviving gram, the (id, pos)-least occurrence WINS;
       every other occurrence is a duplicate gram position;
    3. per doc, consecutive duplicate positions stitch into runs
       (gaps-and-islands, window PARTITIONED by doc — never global); a
       run of grams [p0, p1] covers tokens [p0, p1 + n - 1]; runs
       covering >= ``min_span`` tokens are deleted;
    4. the doc is re-assembled from its undeleted tokens.

    Scale shape: the shuffle carries (id, pos, 8-byte gram hash) — never
    token strings; the winner/occurrence pass is ONE window over the
    gram-hash partitioning (same shuffle a groupBy would pay); stitching
    and re-assembly are doc-partitioned. Suffix arrays do this in
    O(corpus) on one machine; this is the shuffle-native restatement."""
    if min_span < n:
        raise ValueError(f"min_span={min_span} must be >= n={n}")
    from pyspark.sql import Window

    # tokenize ONCE and persist: posting, re-assembly and the per-doc
    # token counts all read this frame — one text scan, not three
    tokd = _persist(
        df.select(
            F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
        )
    )
    toks = F.col("t")
    posting = tokd.select(
        "id", F.posexplode(positional_ngrams(toks, n)).alias("pos", "ng")
    ).select("id", "pos", F.xxhash64("ng").alias("gh"))
    # occurrence count + global keep-first winner in ONE gram-keyed
    # window pass (the oracle states the identical window)
    wg = Window.partitionBy("gh")
    wr = Window.partitionBy("gh").orderBy("id", "pos")
    dup = posting.withColumn("occ", F.count("*").over(wg)).withColumn(
        "rn", F.row_number().over(wr)
    )
    losers = dup.filter(
        (F.col("occ") >= 2) & (F.col("occ") <= max_occ) & (F.col("rn") > 1)
    ).select("id", "pos")
    wd = Window.partitionBy("id").orderBy("pos")
    isl = losers.withColumn("k", F.col("pos") - F.row_number().over(wd))
    runs = (
        isl.groupBy("id", "k")
        .agg(F.min("pos").alias("p0"), F.max("pos").alias("p1"))
        .filter(F.col("p1") - F.col("p0") + n >= min_span)
    )
    cov = runs.select(
        "id", F.explode(F.sequence("p0", F.col("p1") + (n - 1))).alias("pos")
    ).distinct()
    tokpos = tokd.select("id", F.posexplode(toks).alias("pos", "tok"))
    kept = tokpos.join(cov, ["id", "pos"], "left_anti")
    agg = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = tokd.select("id", F.size(toks).cast("long").alias("n_tokens"))
    return base.join(agg, "id", "left").select(
        F.col("id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast(
            "long"
        ).alias("n_removed"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# ------------------------------------------------------- embedding cosine

def plant_embedding_twins(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 0.0125,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """Union the corpus with one perturbed twin per vector: twin id =
    id + id_offset, twin vector = unit(v + eps·u) with u ~ N(0, I) drawn
    from a per-id-seeded RNG (deterministic under any partitioning).

    With eps=0.0125 on 64-dim unit vectors, cos(v, twin) =
    1/√(1+eps²·‖u‖²) ≈ 0.995 ± 0.001 — far above a 0.95 near-dup
    threshold — while twins of DIFFERENT vectors stay as far apart as
    their originals. A near-dup detector run on the inflated corpus must
    therefore return exactly the planted (id, id+offset) pairs, which
    turns recall into an oracle-checkable contract instead of a
    statistical claim. (The reference has no analogue; this is
    pipeline-native self-certification.)"""
    unit = df.select(
        F.col(id_col).alias("id"), normalize(as_double(vec_col)).alias("v")
    )

    def perturb(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            ids = pdf["id"].to_numpy()
            noise = np.empty_like(m)
            for i, row_id in enumerate(ids):
                rng = np.random.RandomState(int(row_id) % (2**32))
                noise[i] = rng.standard_normal(m.shape[1])
            t = m + eps * noise
            t /= np.linalg.norm(t, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"id": ids + id_offset, "v": list(t)}
            )

    id_type = unit.schema["id"].dataType.simpleString()
    twins = unit.mapInPandas(perturb, f"id {id_type}, v array<double>")
    return unit.unionByName(twins).select(
        F.col("id").alias(id_col), F.col("v").alias(vec_col)
    )


def plant_embedding_twins_cyclic(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 0.0125,
    id_offset: int = 1_000_000,
) -> DataFrame:
    """`plant_embedding_twins` with a PURE-EXPRESSION perturbation: twin
    vector = unit(v + eps · rot(v)) where rot is the one-step cyclic
    shift of the unit vector. cos(v, twin) = (1 + eps·s) /
    √(1 + 2·eps·s + eps²) with s = v·rot(v) ∈ [-1, 1], ≥ 0.9999 at
    eps=0.0125 — the same ≫ 0.95 planted-pair contract as the RNG
    variant, but every twin coordinate is a Spark column expression a
    DuckDB oracle restates exactly. The RNG variant stays for the
    statistical recall tests; this one backs the full-oracle demos."""
    unit = df.select(
        F.col(id_col).alias("id"), normalize(as_double(vec_col)).alias("v")
    )
    rot = F.expr("concat(slice(v, 2, size(v) - 1), slice(v, 1, 1))")
    twins = unit.select(
        (F.col("id") + F.lit(id_offset)).alias("id"),
        normalize(
            F.zip_with("v", rot, lambda a, b: a + F.lit(eps) * b)
        ).alias("v"),
    )
    return unit.unionByName(twins).select(
        F.col("id").alias(id_col), F.col("v").alias(vec_col)
    )


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    use_lsh: bool = False,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    use_lsh=False: block-nested pairwise over unit-normalized vectors —
    exact, O(N²) — the verification baseline.
    use_lsh=True: multi-table random-hyperplane LSH. Each of `n_tables`
    tables buckets by the sign-bit signature of `n_planes` hyperplanes
    (deterministic from `seed`, shipped as array literals); candidates =
    pairs sharing a bucket in ANY table (the AND-OR amplification that
    single-table sign-LSH lacks: P(candidate) = 1-(1-p^b)^T). Candidates
    are then exact-verified, so precision is 1; tables/planes only tune
    recall vs cost. At 100 TB this is the only viable shape: the shuffle
    key is (table, bucket) — small ints — and candidate volume is
    Σ|bucket|², not N².
    """
    unit = df.select(
        F.col(id_col).alias("id"), normalize(as_double(vec_col)).alias("v")
    )
    if use_lsh:
        # the LSH plan consumes `unit` three times (band assignment + the
        # two vector-attach joins); without a persist the upstream lineage
        # — at worst a whole ingest pipeline — re-executes per consumer.
        # (id, v) is the smallest thing worth pinning: N×(8+8·dim) bytes,
        # spillable, and exactly what a 1000-executor run would persist.
        # No `_spread` here (unlike the token-hash text stages): the
        # banding matmul is ~240 fused multiply-adds per vector — even a
        # full 128 MB row group single-partitioned is sub-second — and
        # r10 measured the spread's exchange + 32-task scheduling at
        # ~0.45 s per call on the demo corpus, pure overhead.
        unit = _persist(unit)
        # MSB-first bit weights: plane 0 of a table is its bucket's top bit
        bit_weights = 1 << np.arange(n_planes - 1, -1, -1)
        plane_dim = dim  # closure cell; None → derive from the batch

        def assign(batches):
            # all T*P hyperplane dots in ONE matmul per Arrow batch —
            # the per-plane interpreted `aggregate` fold this replaces was
            # ~2x the whole pipeline's runtime at 64 plane dots per vector.
            # Planes are regenerated per task from the seed (deterministic;
            # T·P·dim doubles, microseconds) — deriving dim from the first
            # batch instead of a driver-side size() probe saves one Spark
            # job per call (r10: the probe was ~0.1 s of a 2 s op).
            import pandas as pd

            rng = np.random.RandomState(seed)
            planes = None
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                if planes is None:
                    d = plane_dim if plane_dim is not None else m.shape[1]
                    planes = rng.standard_normal((n_tables * n_planes, d))
                signs = (m @ planes.T > 0).reshape(len(pdf), n_tables, n_planes)
                bucket = (signs * bit_weights).sum(axis=2)  # (B, T)
                yield pd.DataFrame(
                    {
                        "id": np.repeat(pdf["id"].to_numpy(), n_tables),
                        "table": np.tile(np.arange(n_tables), len(pdf)),
                        "bucket": bucket.reshape(-1),
                    }
                )

        id_type = unit.schema["id"].dataType.simpleString()
        # bare (id, table, bucket) rows: the self-join and the candidate
        # dedup shuffle only ids — vectors are attached AFTER dedup, once
        # per surviving pair, for the verify stage
        banded = unit.mapInPandas(
            assign, f"id {id_type}, table int, bucket int"
        )  # both self-join sides read it: one Arrow pass, not two
        a, b = banded.alias("a"), banded.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.table") == F.col("b.table"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        va = unit.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        vb = unit.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        pairs = cands.join(va, "id_a").join(vb, "id_b")
    else:
        # the exact O(N·N) einsum DOES want the spread: per-partition work
        # is a (rows × N) matmul, real CPU even on a tiny single-row-group
        # corpus
        return _pairwise_cosine_broadcast(_spread(unit), threshold)
    return _verify_pairs_cosine(pairs, threshold)


def _verify_pairs_cosine(pairs: DataFrame, threshold: float) -> DataFrame:
    """Score candidate (id_a, id_b, va, vb) rows with one numpy einsum per
    Arrow batch. An interpreted per-pair `aggregate`/`zip_with` fold costs
    ~64 expression evaluations per candidate — measured ~8x slower than
    this vectorized verify once candidates reach the millions."""
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            b = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", a, b)
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    id_type = pairs.schema["id_a"].dataType.simpleString()
    return pairs.mapInPandas(
        score, f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def _pairwise_cosine_broadcast(unit: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine via a broadcast corpus matrix + Arrow-batched
    numpy matmul in `mapInPandas`.

    This baseline is by definition O(N²) and only valid while the corpus
    matrix fits in a broadcast (the LSH branch is the 100 TB path), so
    collecting the normalized matrix to the driver is the broadcast-side
    collect every broadcast join performs — each executor then scores its
    Arrow batch against the matrix with one BLAS matmul instead of
    interpreting 64-element lambda folds per pair (~20x faster).
    """
    import pandas as pd

    spark = unit.sparkSession
    # two consumers (the broadcast-side collect and the scoring scan): pin
    # so the upstream read+normalize runs once. (Re-measured for round 3:
    # the r2 1.31→1.68 s drift was ambient load — isolated repeats sit at
    # ~1.5 s cold and fall with JVM warmup, and ann_brute_force_topk
    # drifted identically with no plan change.)
    unit = _persist(unit)
    rows = unit.collect()
    if not rows:
        return spark.createDataFrame([], "id_a long, id_b long, cosine double")
    corpus_ids = np.array([r["id"] for r in rows])
    corpus_mat = np.array([r["v"] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((corpus_ids, corpus_mat))

    def score(batches):
        bids, bmat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_p = pdf["id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            scores = m @ bmat.T
            mask = (scores >= threshold) & (ids_p[:, None] < bids[None, :])
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": ids_p[ii],
                    "id_b": bids[jj],
                    "cosine": scores[ii, jj],
                }
            )

    id_type = unit.schema["id"].dataType.simpleString()
    return unit.mapInPandas(
        score, f"id_a {id_type}, id_b {id_type}, cosine double"
    )


# ------------------------------------------------- cluster (the endgame)


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    posting: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level dedup assignment: every document gets a ``cluster_id``
    (the min doc id of its near-dup component; singletons cluster to
    themselves). Pipeline: exact n-gram Jaccard pairs →
    `operators.graph.connected_components` → left join back onto the
    corpus. Downstream retention is ``filter(doc_id == cluster_id)``.

    The components table is NOT broadcast-hinted: it has one row per node
    that appears in any near-dup edge — unbounded at corpus scale (a web
    crawl easily has billions of near-dup docs). AQE broadcasts it at
    runtime when it actually fits; a forced hint would OOM at 100 TB.
    ``posting`` injects the per-corpus bucketed (id, n_sh, shash)
    posting layout for the pair stage (same n! — see
    `_pair_intersections`, optimization r14)."""
    edges = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, n=n, threshold=threshold,
        posting=posting,
    ).select("id_a", "id_b")
    comp = connected_components(edges)
    return (
        df.select(id_col)
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            id_col,
            F.coalesce("label", F.col(id_col)).cast("long").alias("cluster_id"),
        )
    )


# ------------------------------------------------- semantic dedup


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str | None = None,
    n_clusters: int = 16,
    kmeans_iters: int = 2,
    seed: int = 42,
    dim: int | None = None,
    threshold: float = 0.95,
    cosine_round: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then mark within-cluster near-duplicates above a
    cosine threshold, keeping one representative per duplicate relation.

    Clustering: pass ``cluster_col`` to use an existing partition (topic /
    domain label, or a precomputed assignment); otherwise spherical k-means
    centroids are fit (`similarity.kmeans_centroids`) and each vector is
    assigned by one broadcast-matmul argmax per Arrow batch.

    Dup rule (deterministic, SQL-restatable): a vector is a duplicate iff
    some LOWER-id vector in its cluster has cosine ≥ threshold with it;
    ``rep_id`` is the minimum such id (keepers carry their own id). This is
    the greedy min-id rule, not a transitive closure — pair A~B, B~C, A≁C
    keeps A, drops B and C (rep B→A, C→B). ``cosine_round`` rounds the
    cosine before the compare so an external oracle computing the same
    rounded value agrees bit-for-bit at the threshold boundary.

    Returns ``(id_col, cluster_id, is_dup, rep_id)`` — one row per input.

    Scale shape: candidate volume is Σ|cluster|² ids (never vectors — the
    self-join runs on (id, cluster) pairs and vectors attach to surviving
    candidates only, the same shape as the RP-LSH path); scoring is one
    einsum per Arrow batch. More clusters → smaller Σ|c|²; the k-means fit
    itself runs on a sample at 100 TB (`sample_fraction`)."""
    if cluster_col is not None:
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(cluster_col).alias("cluster_id"),
            normalize(as_double(vec_col)).alias("v"),
        )
    else:
        from .similarity import build_ivf_index, kmeans_centroids

        cents = kmeans_centroids(
            df,
            n_centroids=n_clusters,
            iters=kmeans_iters,
            vec_col=vec_col,
            id_col=id_col,
            seed=seed,
            dim=dim,
        )
        bucketed, _ = build_ivf_index(
            df, vec_col=vec_col, id_col=id_col, centroids=cents
        )
        base = bucketed.select(
            "id", F.col("centroid").alias("cluster_id"), "v"
        )
    # four consumers (both id-side self-join inputs + the two vector
    # attaches); without the pin the normalize / k-means assignment runs
    # once per consumer
    base = _persist(base)
    ids = base.select("id", "cluster_id")
    a, b = ids.alias("a"), ids.alias("b")
    cands = a.join(
        b,
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    pairs = cands.join(va, "id_a").join(vb, "id_b")
    # verify strictly below threshold when rounding: any cosine that rounds
    # up to the threshold must survive the inner cut
    inner = threshold - 10 ** -cosine_round if cosine_round else threshold
    edges = _verify_pairs_cosine(pairs, inner)
    if cosine_round is not None:
        edges = edges.filter(
            F.round(F.col("cosine"), cosine_round) >= threshold
        )
    dups = edges.groupBy(F.col("id_b").alias("id")).agg(
        F.min("id_a").alias("_rep")
    )
    return base.select("id", "cluster_id").join(dups, "id", "left").select(
        F.col("id").alias(id_col),
        "cluster_id",
        F.col("_rep").isNotNull().alias("is_dup"),
        F.coalesce("_rep", F.col("id")).alias("rep_id"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (Chaudhuri/Ganti/
    Kaushik 2006, the ppjoin candidate rule) over word-``n``-gram
    shingle sets (n=1 degenerates to whole tokens): exact Jaccard ≥ 1/2
    pairs, but candidates are generated from each doc's PREFIX — its
    ⌊|A|/2⌋+1 rarest elements under one global (df asc, element asc)
    order — instead of the full inverted index. The lemma: if
    J(A,B) ≥ t, the two prefixes (lengths |X| − ⌈t·|X|⌉ + 1) must share
    a token, so joining prefix postings is LOSSLESS.

    Why this matters at 100 TB as a distinct entry from
    `ngram_jaccard_pairs`: the inverted-index family bounds pair blowup
    by DROPPING hot postings (`max_df` — correct only because a hot
    shingle certifies nothing). Prefix filtering bounds it WITHOUT
    dropping anything: the global rarity order pushes every doc's
    join keys onto its rarest tokens, so posting lists shrink toward
    df≈1 by construction and the quadratic hazard self-limits while the
    result stays provably complete. The trade is one extra vocab-keyed
    join (token → df rank) — broadcast-hinted, size-guarded.

    Verification is exact: candidates join back to the per-doc sorted
    token arrays (bounded per doc) and `array_intersect` counts |∩| in
    codegen; the threshold is the integer test 3·|∩| ≥ |A|+|B| (t=1/2,
    no FP). Returns (id_a, id_b, inter, uni), id_a < id_b. The DuckDB
    oracle is algorithm-independent — a FULL inverted-index join that
    never mentions prefixes — so a candidate the filter wrongly skipped
    would hash-mismatch.
    """
    from ..plans.hints import broadcast_if_small

    # two consumers (df table + the rank join): pin the exploded shingles.
    # ``shingled`` injects a prebuilt (id, shingles) frame (same n! —
    # e.g. the per-corpus `shared_text_layout.shingle_sets` memo), so
    # the tokenize+gram scan is skipped (optimization r14); the verify
    # stage needs the token STRINGS, so the sets frame serves here where
    # the hashed posting layout cannot.
    sh = (
        shingled
        if shingled is not None
        else shingle_df(_spread(df), text_col, id_col, n=n)
    )
    toks = _persist(sh.select("id", F.explode("shingles").alias("token")))
    dfr = toks.groupBy("token").agg(F.count("*").alias("df"))
    per_doc = _persist(
        toks.join(broadcast_if_small(dfr), "token")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("token")))
            ).alias("ord")
        )
        .select(
            "id",
            F.expr("transform(ord, s -> s.token)").alias("toks"),
            F.size("ord").cast("long").alias("sz"),
        )
    )
    pre = per_doc.select(
        "id", F.explode(F.expr("slice(toks, 1, sz div 2 + 1)")).alias("token")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    fa = per_doc.select(
        F.col("id").alias("id_a"), F.col("toks").alias("ta"), F.col("sz").alias("sa")
    )
    fb = per_doc.select(
        F.col("id").alias("id_b"), F.col("toks").alias("tb"), F.col("sz").alias("sb")
    )
    # the verify joins fetch doc arrays for CANDIDATE ids only; the doc
    # side broadcasts at demo scale (size-guarded — at 100 TB these flip
    # to shuffled hash joins keyed on id, still candidate-bounded)
    return (
        cand.join(broadcast_if_small(fa), "id_a")
        .join(broadcast_if_small(fb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("inter"),
            "sa",
            "sb",
        )
        .filter(3 * F.col("inter") >= F.col("sa") + F.col("sb"))
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("sa") + F.col("sb") - F.col("inter")).alias("uni"),
        )
    )
