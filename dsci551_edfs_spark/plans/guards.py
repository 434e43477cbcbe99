"""Driver-safety guard for the bounded-collect pattern.

Optimization r13 replaced several all-small-data Spark tails (running
totals, largest-remainder self-joins, sequential argmax passes) with
ONE driver collect + an exact Python fold — correct because each input
frame is bounded by CONSTRUCTION (a groupBy over the ≤10001-value score
domain, mixture-source keys, a sliced MMR pool). The r13 verdict's
standing objection (item 7): those bounds were documented, not
enforced — a future caller feeding an unbounded key column would get a
driver OOM instead of an error.

``collect_bounded`` enforces the contract inside the collect itself:
``limit(cap + 1)`` bounds what the driver can ever hold (executors ship
at most cap+1 rows), and one extra row past the cap raises with the
violating site named. The collect of a limit runs as Spark's
incremental take, not as one job: the first job scans one partition,
and each further job widens the scan (by up to
``spark.sql.limit.scaleUpFactor``, 4) until cap+1 rows came back or
every partition was read. A frame under the cap therefore costs about
1 + log4(partitions) jobs — measured on a localCheckpointed frame in
``local[4]``: 1 job at 1 partition, 2 at 4, 3 at 16, 4 at 64 — the same
whether the guard passes or raises. When the input really is within
the cap, ``limit`` returns every row, in the same partition-order
concatenation a bare ``collect`` produces — and every caller's fold is
row-order-insensitive anyway (each one sorts or reduces). Caps are set 2-4 orders of magnitude above each site's
structural bound: generous enough to never trip on a legitimate input,
small enough that the guarded collect stays a few hundred MB of driver
memory instead of an OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

__all__ = ["collect_bounded"]


def collect_bounded(df: DataFrame, cap: int, what: str) -> list[Row]:
    """Collect ``df`` asserting it holds at most ``cap`` rows; raise
    ``ValueError`` naming ``what`` otherwise. Driver memory is bounded
    at cap+1 rows even when the contract is violated; the collect runs
    as an incremental take of about 1 + log4(partitions) jobs (see the
    module docstring)."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: bounded-collect contract violated — input exceeds "
            f"{cap} rows; this tail is driver-folded only for "
            f"key/score-domain-bounded frames (see plans/guards.py)"
        )
    return rows
