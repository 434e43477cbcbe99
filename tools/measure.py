"""Measure registered queries through bench.py's timed region, split into
first-call and steady-state cost, at one or more scale factors.

Usage: python tools/measure.py [-n REPS] [--sf DIR]... [query ...]

Defaults: bench.HEADLINE at bench.SF_DIR, 5 reps. Per sf dir, in one
session: a JVM/footer warm-up read and `warm_memos` (both untimed, the
latter itemized for the memoized queries measured), then each query
through `bench._timed_runs`. Prints one JSON line {"reps", "code_sha",
"windows": [...]}, one window per --sf in order:

  sf_dir
  queries.<q>.first    construct_s / exec_s of run 1
  queries.<q>.steady   median construct_s / exec_s / total_s and the
                       total's max-min spread_s over runs 2..n
  queries.<q>          {"error": ...} instead, if the query raised
  total_s              sum of steady total_s
  ambient_cpu_frac     other load on the host during the window
  memo_warm            warm_memos' first_call_s / build_s
  growth.<q>           steady total_s over the first window's (windows
                       after the first only)

A real sf bump is built with tools/make_scaled_corpus.py; compare it
against its base with `--sf <base> --sf <scaled>`.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def measure_sf(spark, sf_dir: str, names: list[str], reps: int) -> dict:
    from dsci551_edfs_spark.pipeline.dedup import release_cached
    from dsci551_edfs_spark.queries import QUERIES, warm_memos

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    memo = warm_memos(spark, sf_dir)
    release_cached()
    amb0 = bench._ambient_snapshot()
    out: dict[str, dict] = {}
    for name in names:
        try:
            r = bench._timed_runs(
                spark, name, QUERIES[name], sf_dir, reps, release_cached
            )
        except Exception as exc:  # record it, keep measuring the rest
            traceback.print_exc()
            release_cached()
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            continue
        (c1, e1), steady = r["runs"][0], r["runs"][1:]
        total_s, spread_s = bench._median_spread([c + e for c, e in steady])
        out[name] = {
            "first": {"construct_s": round(c1, 3), "exec_s": round(e1, 3)},
            "steady": {
                "construct_s": bench._median_spread([c for c, _ in steady])[0],
                "exec_s": bench._median_spread([e for _, e in steady])[0],
                "total_s": total_s,
                "spread_s": spread_s,
            },
        }
    return {
        "sf_dir": sf_dir,
        "queries": out,
        "total_s": round(
            sum(v["steady"]["total_s"] for v in out.values() if "steady" in v), 3
        ),
        "ambient_cpu_frac": bench._ambient_load(amb0, bench._ambient_snapshot())[
            "ambient_cpu_frac"
        ],
        "memo_warm": {q: v for q, v in memo.items() if q in names},
    }


def growth(base: dict, other: dict) -> dict[str, float | None]:
    """Steady total_s of each query at ``other`` over ``base`` (None
    where either side errored or the base rounds to 0)."""
    out = {}
    for q, b in base["queries"].items():
        o = other["queries"][q]
        ok = "steady" in b and "steady" in o and b["steady"]["total_s"] > 0
        out[q] = (
            round(o["steady"]["total_s"] / b["steady"]["total_s"], 2) if ok else None
        )
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("-n", type=int, default=5, dest="reps")
    ap.add_argument("--sf", action="append", dest="sf_dirs")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    if args.reps < 2:
        ap.error("-n must be at least 2 (run 1 is first-call, 2..n steady)")
    names = args.queries or list(bench.HEADLINE)
    sf_dirs = args.sf_dirs or [bench.SF_DIR]

    from dsci551_edfs_spark import get_spark

    spark = get_spark("edfs-measure")
    spark.sparkContext.setLogLevel("ERROR")
    windows = [measure_sf(spark, d, names, args.reps) for d in sf_dirs]
    for w in windows[1:]:
        w["growth"] = growth(windows[0], w)
    print(
        json.dumps(
            {"reps": args.reps, "code_sha": bench._shas()[1], "windows": windows}
        )
    )


if __name__ == "__main__":
    main()
