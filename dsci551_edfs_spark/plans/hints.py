"""Size-guarded broadcast hints.

A *forced* ``F.broadcast()`` is unconditional: Spark will build the
broadcast relation no matter how large the side turns out, failing only
at the 8 GB broadcast hard limit (or OOMing the driver/executors first).
That is the right call for genuinely bounded relations (a scalar agg, a
fixed dimension table) but wrong for VOCAB-sized relations — a bigram
margin table or a token document-frequency dictionary grows with corpus
vocabulary, not corpus rows: KBs at test scale, potentially 10⁷–10⁸ rows
on a 100 TB web corpus.

``broadcast_if_small`` makes the hint conditional on Catalyst's own
size-in-bytes estimate for the frame's optimized plan (driver-side plan
statistics only — no job is triggered). Under the threshold, the hint is
applied and the plan keeps the zero-shuffle broadcast shape; over it, the
frame is returned unhinted so the join planner / AQE picks the strategy
from runtime sizes (sort-merge or shuffled-hash, with AQE free to demote
back to broadcast if the RUNTIME size turns out small — propagated
estimates overestimate post-aggregation cardinality, and that is the safe
direction here: worst case is one extra shuffle, never an OOM).

The threshold is the module constant ``_BROADCAST_ESTIMATE_BYTES``
(256 MiB of *estimated* input — deliberately larger than the classic
10 MB autoBroadcastJoinThreshold because non-CBO estimates for an
aggregate propagate the pre-aggregation child size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["broadcast_if_small", "plan_size_estimate", "spread_small"]

_BROADCAST_ESTIMATE_BYTES = 256 << 20


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for ``df``'s optimized logical
    plan. Pure driver-side planning — runs analysis + optimization but
    never launches a job; without CBO this is the propagated scan-size
    estimate, an upper bound for aggregated relations."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = stats.sizeInBytes()
    # py4j maps scala.math.BigInt to a Python int directly when it fits;
    # fall back to the string form for a genuine BigInt proxy
    return size if isinstance(size, int) else int(size.toString())


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Apply ``F.broadcast`` only when the plan-estimated size is at most
    ``_BROADCAST_ESTIMATE_BYTES``; otherwise return ``df`` unhinted and
    let the planner / AQE choose from runtime sizes."""
    if plan_size_estimate(df) <= _BROADCAST_ESTIMATE_BYTES:
        return F.broadcast(df)
    return df


def spread_small(df: DataFrame) -> DataFrame:
    """Repartition a too-few-partitions input up to the session's default
    parallelism before CPU-heavy per-row work (token hashing, Arrow
    vector passes).

    A small single-file table arrives as ONE input partition (a <1 MB
    parquet is a single row group — Spark cannot split below row-group
    granularity), which serializes the whole map stage on one core: r9
    measured 2.1 s single-threaded for the 5k-doc corpus' per-token md5
    fold, ~90% of the demo query's cost. The shuffled payload is the raw
    rows themselves, which are tiny exactly when the guard triggers; a
    large table already has >= parallelism input splits and passes
    through untouched — no extra shuffle at 100 TB.

    The small/large decision is made from Catalyst's driver-side
    sizeInBytes estimate, NOT ``df.rdd.getNumPartitions()``: the RDD
    probe forces a full plan→physical→RDD conversion per call — the
    identical pure-driver cost (measured 0.4-0.5 s/call on post-shuffle
    frames) that optimization r13 evicted from
    ``operators.cumulative.derive_rank_partitions`` (guide §7.3); this
    module's callers (every shingle/minhash/featurize build) paid it on
    every query construction. The estimate maps to an input-split count
    via ``spark.sql.files.maxPartitionBytes`` — the same quantity the
    scan planner uses — so the trigger condition is unchanged in kind:
    spread when the scan would open with fewer than parallelism/4
    splits. Estimates are upper bounds for filtered/aggregated frames,
    which only errs toward NOT spreading — the no-op-at-scale direction."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        split_bytes = _size_conf_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        approx_splits = max(1, plan_size_estimate(df) // max(split_bytes, 1))
    except Exception:  # estimate unavailable: keep the old probe's answer
        approx_splits = df.rdd.getNumPartitions()
    if approx_splits * 4 <= target:
        return df.repartition(target)
    return df


_SIZE_SUFFIXES = {
    "k": 1 << 10,
    "m": 1 << 20,
    "g": 1 << 30,
    "t": 1 << 40,
    "b": 1,
}


def _size_conf_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g')."""
    s = str(v).strip().lower()
    for suf in ("kb", "mb", "gb", "tb"):
        if s.endswith(suf):
            return int(float(s[:-2]) * _SIZE_SUFFIXES[suf[0]])
    if s and s[-1] in _SIZE_SUFFIXES:
        return int(float(s[:-1]) * _SIZE_SUFFIXES[s[-1]])
    return int(s)
