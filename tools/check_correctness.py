"""Local mimic of the driver's correctness gate: run each queries() entry
on Spark and its oracle on DuckDB at sf0.01; compare row count, schema
(column names), and an order-insensitive value hash.

Usage: python tools/check_correctness.py [--json PATH] [name ...]

``--json PATH`` additionally writes the per-query results as a JSON dict
(same shape as the driver's CORRECTNESS_r{N}.json) so a full-registry
sweep leaves an auditable artifact in the tree, not just stdout. The
wall time of the whole run, session start included, is printed with
the tally and written as ``elapsed_s``.
``--sf DIR`` points the sweep at another scale factor (default sf0.01 —
the driver's gate); an sf0.001/sf0.1 sweep is the SF-INVARIANCE check:
every oracle must hash-match at ANY scale, so an SF-dependent bug
(fixed literal that only works at one size, overflow that only bites
when counts grow) fails loudly instead of hiding behind the gate SF.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"  # overridden by --sf
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "|".join(_fmt(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _fmt(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(_fmt(x) for x in v) + "]"
    return str(v)


def main() -> int:
    global SF_DIR

    t0 = time.perf_counter()
    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--sf" in argv:
        i = argv.index("--sf")
        SF_DIR = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]

    from __spark_entry__ import oracle_sql, queries

    from dsci551_edfs_spark import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    from dsci551_edfs_spark.pipeline.dedup import release_cached

    qs = queries()
    oracles = oracle_sql()
    names = argv or list(qs)
    results: dict[str, dict] = {}
    failures = 0
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            release_cached()  # free this query's pinned intermediates
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"err": f"spark error: {e}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            results[name] = {"spark_rows": len(srows), "oracle": None, "err": None}
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            results[name] = {"err": f"oracle error: {e}"}
            failures += 1
            continue
        ok_count = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        ok_hash = (
            value_hash(srows, scols) == value_hash(drows, dcols)
            if ok_count and ok_cols
            else False
        )
        status = "ok" if (ok_count and ok_cols and ok_hash) else "FAIL"
        results[name] = {
            "rows_match": ok_count,
            "schema_match": ok_cols,
            "hash_match": ok_hash,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        if status == "FAIL":
            failures += 1
        print(
            f"{status:5} {name}: spark={len(srows)} duck={len(drows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(dcols)}'} "
            f"hash={'ok' if ok_hash else 'MISMATCH'}"
        )
        if status == "FAIL" and ok_count and ok_cols and len(srows) <= 2000:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sset = {"|".join(_fmt(r[i]) for i in order) for r in srows}
            dset = {"|".join(_fmt(r[i]) for i in dorder) for r in drows}
            for x in list(sset - dset)[:3]:
                print(f"        spark-only: {x}")
            for x in list(dset - sset)[:3]:
                print(f"        duck-only:  {x}")
    elapsed_s = round(time.perf_counter() - t0, 1)
    print(f"\n{len(names) - failures}/{len(names)} passed in {elapsed_s} s")
    if json_path:
        import json

        # imported here so `from tools.check_correctness import value_hash`
        # never pulls in bench
        from bench import _shas

        # stamp the artifact with the git SHA it was produced at, so a
        # judge can tie the sweep claim to a specific tree without
        # re-running every query; code_sha (last commit touching code
        # paths) survives artifact-refresh commits
        sha, code_sha = _shas()
        payload = {
            "git_sha": sha,
            "code_sha": code_sha,
            "sf_dir": SF_DIR,
            "elapsed_s": elapsed_s,
            "results": results,
        }
        with open(json_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"wrote {json_path} @ {sha}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
