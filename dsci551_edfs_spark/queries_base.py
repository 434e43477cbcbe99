"""Registry core for the query catalog: the @q decorator, the records
it fills, and the shared loader helpers every family module imports.
The catalog itself lives in the q_* family modules and queries_tpch;
`queries.py` imports them all so the registry is complete.

`@q` is the one place a query's facts are written: its name, its DuckDB
oracle (ORACLES), whether its first call builds or serves a per-corpus
memo (MEMO_QUERIES, warmed by `queries.warm_memos` outside the bench's
timed region), and, for a query with a fixed multi-job startup cost,
the last-run timing dict bench.py splits its median by (SPLITS).

Every implemented operator is exposed as a
(spark, sf_dir) -> DataFrame callable, with a DuckDB oracle SQL string
where the semantics are ANSI-SQL-expressible.

This is the driver-facing inventory for SURVEY.md §2 plus the
training-data-pipeline operators. Naming contract: every computed column is
aliased IDENTICALLY in the Spark plan and the oracle SQL (the driver's
compare hashes values after sorting columns by name).

FP policy: aggregates whose accumulation order differs between engines
(sums/avgs over many doubles) are rounded to a fixed scale ON BOTH SIDES;
integer-derived and exact values are left unrounded.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import memo as MEMO
from .functions import text as TXT
from .pipeline import dedup as DD
from .pipeline import multimodal as MM
from .pipeline import similarity as SIM
from .sources import ingest as ING
from .sources import scan as SCN
from .sources.registry import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# memo=True queries, in registration order
MEMO_QUERIES: list[str] = []
# split=... queries: (last-run timing dict, startup key, steady key)
SPLITS: dict[str, tuple[dict[str, float], str, str]] = {}

SCRATCH = MEMO.SCRATCH


def q(
    name: str,
    oracle: str | None = None,
    *,
    memo: bool = False,
    split: tuple[dict[str, float], str, str] | None = None,
):
    """Register ``name``. ``memo=True``: its first call builds or serves
    a per-corpus memo (`memo.dataframe_memo`/`layout_memo`).
    ``split=(timings, startup_key, steady_key)``: each run leaves its
    fixed startup and steady operator seconds in ``timings``."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if memo:
            MEMO_QUERIES.append(name)
        if split is not None:
            SPLITS[name] = split
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _scratch_dir(tag: str) -> str:
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=SCRATCH)


# =====================================================================
# §2.2 PMR aggregates (reference parity: combined_flask.py:549-802)
# =====================================================================

