"""A benchmark run keeps its state to itself.

Each workload, run once, must leave the program's own scratch root and
the repository's `spark-warehouse` exactly as it found them, remove its
per-run directory, and leave no process behind.

    python3 -m pytest perfbench/test_hygiene.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def snapshot(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of everything under `path`."""
    out = {}
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            full = os.path.join(root, name)
            st = os.lstat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def run_dirs() -> set[str]:
    base = os.path.join(ROOT, ".perfbench")
    return {d for d in os.listdir(base) if d.startswith("run-")} if os.path.isdir(base) else set()


def test_runs_leave_repo_scratch_and_warehouse_unchanged():
    from dsci551_edfs_spark import queries_base

    # the scratch root the program falls back to when nothing points it elsewhere
    watched = [queries_base.SCRATCH, os.path.join(ROOT, "spark-warehouse")]
    before = {p: snapshot(p) for p in watched}
    runs_before = run_dirs()
    for workload in ("pmr_read", "query_suite"):
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert {p: snapshot(p) for p in watched} == before
    assert run_dirs() == runs_before
