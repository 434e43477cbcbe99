"""Dump `explain("formatted")` for named queries to plans/r14/ —
the before/after plan evidence for the optimization round (guide §1:
capture plan shape — Exchange count, join strategy, PushedFilters,
ReadSchema, WholeStageCodegen / BatchEvalPython nodes — next to every
timing claim).

Usage: python tools/dump_plans.py SUFFIX [query ...]
Writes plans/r14/<query>_<SUFFIX>.txt per query (default: the full
bench HEADLINE list). SUFFIX is normally "before" or "after".
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

OUT_DIR = os.path.join(ROOT, "plans", "r14")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:] or list(bench.HEADLINE)

    from dsci551_edfs_spark import get_spark
    from dsci551_edfs_spark.plans.debug import explain_str
    from dsci551_edfs_spark.queries import QUERIES, warm_memos

    spark = get_spark("edfs-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    warm_memos(spark, SF_DIR)  # plans of memo consumers read the memo path

    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        txt = explain_str(QUERIES[name](spark, SF_DIR))
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange refs)",
              flush=True)


if __name__ == "__main__":
    main()
