"""Sketch / approximate aggregates — the sublinear-memory path for 100 TB
cardinality and quantile questions.

All built-ins (JVM HLL++ / GK-quantile implementations); this module just
curates them as engine operators with documented error contracts. Exact
counterparts exist in the relational layer; tests pin relative error.

- ``approx_ndv``: HyperLogLog++ distinct count, rsd-tunable. Partial
  sketches merge map-side, so the shuffle is O(sketch), not O(ndv).
- ``frequent_items``: itemset sampling (Karp et al.) for heavy hitters
  above the support threshold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "approx_ndv",
    "frequent_items",
    "count_min_build",
    "count_min_estimate",
    "ndv_partials",
    "ndv_rollup",
    "hll_own_registers",
    "hll_own_estimate",
    "quantile_hist_partials",
    "quantile_hist_rollup",
]

#: md5-prefix hash width shared by the oracle-restatable sketch family
HLL_HASH_BITS = 48


def hll_own_registers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    p: int = 9,
) -> DataFrame:
    """Classic HyperLogLog register table (Flajolet et al. 2007) built
    from deterministic arithmetic DuckDB restates exactly — the
    ORACLE-CHECKED twin of the Datasketches-backed `ndv_partials` (whose
    opaque binary sketches stay rows-only by nature).

    h = first 12 md5 nibbles of the value as int (48 bits); bucket =
    low p bits; rho = leading-zero rank of the remaining W = 48-p bits
    (W+1 when zero). Registers are max(rho) per (group, bucket) —
    map-side combinable, shuffle is O(groups · 2^p) rows of two small
    ints, and a COARSER grain's registers are just max-merges of finer
    ones (lossless, same property the Datasketches union has)."""
    m = 1 << p
    w_bits = HLL_HASH_BITS - p
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    bucket = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, p)
    rho = F.lit(w_bits + 1)
    # descending bit-length chain: first match wins, all-integer exact
    for b in range(1, w_bits + 1):
        rho = F.when(w >= F.lit(1 << (b - 1)), F.lit(w_bits - b + 1)).otherwise(rho)
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").cast("int").alias("reg"))
    )


def hll_own_estimate(
    registers: DataFrame, group_cols: Sequence[str] = (), p: int = 9
) -> DataFrame:
    """Estimate NDV per group from a `hll_own_registers` table: raw
    harmonic mean alpha·m²/Σ2^-M (absent buckets contribute 2^0), with
    the standard linear-counting correction below 2.5m. Every term is a
    dyadic rational, so the double sum is exact on any engine; the final
    estimate is rounded to 3 decimals to absorb ln() last-ulp
    differences in the correction branch."""
    m = 1 << p
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("_s"),
        F.count("*").alias("_c"),
    )
    sum_inv = F.col("_s") + (F.lit(m) - F.col("_c"))
    raw = alpha * F.lit(float(m)) * F.lit(float(m)) / sum_inv
    zeros = F.lit(m) - F.col("_c")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 3).alias("ndv_est"))


def approx_ndv(df: DataFrame, cols: Sequence[str], rsd: float = 0.05) -> DataFrame:
    """One row of HLL++ distinct-count estimates, one column per input."""
    return df.agg(
        *[F.approx_count_distinct(c, rsd=rsd).alias(f"ndv_{c}") for c in cols]
    )


def frequent_items(
    df: DataFrame, col: str, min_share: float = 0.01, top: int = 20
) -> DataFrame:
    """Heavy hitters: values of `col` appearing in ≥ min_share of rows.
    Exact verification shape (groupBy + count + threshold) — at scale swap
    in df.stat.freqItems for the one-pass sampling sketch; here counts are
    already sublinear after partial aggregation."""
    total = df.count()
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .withColumn("share", F.round(F.col("cnt") / total, 4))
        .filter(F.col("share") >= min_share)
        .orderBy(F.col("cnt").desc(), F.col(col))
        .limit(top)
    )


def _cms_bucket(width: int, hash_fn: str):
    """Bucket expression for (v, row): `xxhash64` (default — one JVM
    codegen hash, the fast path) or `md5` — the first 16 bits of
    md5("{row}:{v}") mod width. md5 exists verbatim in DuckDB, so an
    md5-hashed sketch has a FULL SQL twin (and 65536 % width == 0 for
    power-of-two widths keeps the bucket distribution exactly uniform)."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64("v", "row"), F.lit(width))
    if hash_fn == "md5":
        h = F.md5(F.concat(F.col("row").cast("string"), F.lit(":"), F.col("v")))
        return F.pmod(F.conv(F.substring(h, 1, 4), 16, 10).cast("long"), F.lit(width))
    if hash_fn == "md5_nibbles":
        # ONE digest per item, each sketch row reads its own 16-bit
        # nibble window (rows 0..7 fit a 128-bit md5) — 4x fewer md5
        # calls than salted per-row digests, measured 2.3 s -> ~1 s on
        # the join-size demo; DuckDB restates the identical windows
        return F.pmod(
            F.conv(
                F.expr("substring(md5(v), 1 + 4 * row, 4)"), 16, 10
            ).cast("long"),
            F.lit(width),
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def count_min_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build a count-min sketch as a (row, bucket, cnt) table: each item
    increments one bucket per hash row (the row index folded into the
    hash = `depth` independent hash functions).

    The build IS a groupBy on at most depth×width keys — map-side
    combinable, so a 100 TB stream shuffles O(sketch), not O(items); the
    materialized sketch is a few thousand rows whatever the corpus size.

    The (depth, width, hashfn) geometry is stamped onto every sketch row
    so that `count_min_estimate` can recover it from the table itself
    instead of trusting the caller to repeat the same parameters."""
    ex = df.select(
        F.col(col).alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    return (
        ex.groupBy("row", _cms_bucket(width, hash_fn).alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("depth", F.lit(int(depth)))
        .withColumn("width", F.lit(int(width)))
        .withColumn("hashfn", F.lit(hash_fn))
    )


def count_min_estimate(
    cms: DataFrame, items: DataFrame, col: str, depth: int | None = None,
    width: int | None = None,
) -> DataFrame:
    """Point-estimate item frequencies from a `count_min_build` table:
    min over the depth rows of each item's bucket counter (0 when the
    bucket is empty). Guarantees est >= true count; overestimate bounded
    by collisions (~N/width per row) — pinned in tests.

    The hash geometry is read from the sketch's own (depth, width,
    hashfn) metadata columns; explicit depth/width arguments are accepted
    only as a cross-check and raise on mismatch (a silently wrong width
    would hash probes into the wrong buckets and break the est>=true
    bound)."""
    hash_fn = "xxhash64"
    if "depth" in cms.columns and "width" in cms.columns:
        meta = cms.select(
            "depth",
            "width",
            (
                F.col("hashfn")
                if "hashfn" in cms.columns
                else F.lit("xxhash64").alias("hashfn")
            ),
        ).first()
        if meta is not None:
            if depth is not None and depth != meta["depth"]:
                raise ValueError(
                    f"depth={depth} does not match sketch depth={meta['depth']}"
                )
            if width is not None and width != meta["width"]:
                raise ValueError(
                    f"width={width} does not match sketch width={meta['width']}"
                )
            depth, width, hash_fn = meta["depth"], meta["width"], meta["hashfn"]
        cms = cms.drop("depth", "width", "hashfn")
    if depth is None or width is None:
        raise ValueError(
            "cms table carries no depth/width metadata; pass both explicitly"
        )
    ex = items.select(
        F.col(col).alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    ).withColumn("bucket", _cms_bucket(width, hash_fn))
    return (
        ex.join(F.broadcast(cms), ["row", "bucket"], "left")
        .groupBy(F.col("v").alias(col))
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("cms_cnt"))
    )


def ndv_partials(
    df: DataFrame,
    grain_col,
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable per-grain NDV sketches: one Datasketches HLL per grain
    bucket (``hll_sketch_agg`` — map-side combinable, the shuffle carries
    O(2^lg_k)-byte sketches, never values). The materialized partial
    table is what a continuous aggregate stores: any COARSER grain's
    distinct count comes from `ndv_rollup` merging sketches — the corpus
    is never rescanned, the re-aggregation property exact COUNT(DISTINCT)
    can never have (distincts don't sum)."""
    return df.groupBy(grain_col).agg(
        F.hll_sketch_agg(F.col(value_col).cast("string"), F.lit(lg_k)).alias(
            "ndv_sketch"
        ),
        F.count("*").cast("long").alias("n_rows"),
    )


def ndv_rollup(partials: DataFrame, coarse_col) -> DataFrame:
    """Merge fine-grain HLL partials up to a coarser grain:
    ``hll_union_agg`` over the sketch column + an estimate. Union of
    HLLs is EXACTLY the sketch of the union (lossless merge), so the
    rolled-up estimate equals what a direct scan at the coarse grain
    would have produced — pinned in pytest."""
    return (
        partials.groupBy(coarse_col)
        .agg(
            F.hll_union_agg("ndv_sketch").alias("ndv_sketch"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        )
        .select(
            coarse_col,
            F.hll_sketch_estimate("ndv_sketch").cast("long").alias("ndv_est"),
            "n_rows",
        )
    )


def quantile_hist_partials(
    df: DataFrame, grain_col, value_col: str, bins_per_octave: int = 8
) -> DataFrame:
    """Mergeable per-grain quantile sketch as a LOG-BINNED histogram:
    ``(grain, bin, cnt)`` with ``bin = floor(ln(v)·bins_per_octave)`` —
    every bin spans a fixed ratio (e^(1/bpo) ≈ +13% at bpo=8), so the
    bin-derived quantile carries a bounded RELATIVE error at any data
    scale, the same guarantee shape as t-digest/KLL but with exact
    integer counts that roll up losslessly.

    This is the percentile sibling of `ndv_partials`: the materialized
    daily partial table is what a continuous aggregate stores; any
    coarser grain's percentiles come from `quantile_hist_rollup` summing
    bin counts — the corpus is never rescanned, and unlike a true
    percentile the merge is EXACT (bin counts sum; merge == direct is
    pinned in pytest). Values must be > 0 (log bins).

    Scale: one map-side-combinable groupBy; the shuffle carries
    (grains × occupied bins) rows — occupied bins ≈ bpo·ln(max/min),
    ~100 per grain for a 6-decade spread, corpus-size-independent.
    """
    b = F.floor(F.log(F.col(value_col).cast("double")) * bins_per_octave)
    return df.groupBy(grain_col, b.cast("long").alias("bin")).agg(
        F.count("*").cast("long").alias("cnt")
    )


def quantile_hist_rollup(
    partials: DataFrame,
    coarse_col,
    quantiles: Sequence[tuple[str, int, int]] = (("p50", 1, 2), ("p95", 19, 20)),
) -> DataFrame:
    """Merge fine-grain histogram partials to a coarser grain and read
    quantiles off the merged histogram: for each (name, num, den) the
    reported ``<name>_bin`` is the smallest bin whose cumulative count
    reaches ceil(n·num/den) — rank targets in exact integer arithmetic
    (``(n·num + den − 1) div den``), so the whole rollup is FP-free and
    DuckDB-hash-matchable. Windows are coarse-grain-keyed (never the
    global window the registry lint forbids); per-grain row counts ride
    the same window pass."""
    merged = partials.groupBy(coarse_col, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    name = coarse_col if isinstance(coarse_col, str) else merged.columns[0]
    wall = Window.partitionBy(name)
    wcum = wall.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = merged.select(
        name,
        "bin",
        F.sum("cnt").over(wall).cast("long").alias("n_rows"),
        F.sum("cnt").over(wcum).cast("long").alias("cum"),
    )
    aggs = [F.first("n_rows").alias("n_rows")]
    for qname, num, den in quantiles:
        target = F.expr(f"(n_rows * {num} + {den} - 1) div {den}")
        aggs.append(
            F.min(F.when(F.col("cum") >= target, F.col("bin"))).alias(f"{qname}_bin")
        )
    return cum.groupBy(name).agg(*aggs)
