"""Spans around the program's layers, recorded from outside.

`Tracer.install()` swaps each traced public function for a wrapper that
records a span (name, start, end, parent, op id) in memory; `uninstall()`
puts the originals back. Nothing in the program changes: the callers in
`cli.py` look these names up on their modules at call time, so the
wrappers see every call.

Spark work is counted per op with a job group: the wrapper around
`EdfsShell.run` sets one (job groups are thread-local, and each HTTP
request runs in its own handler thread), and a span's jobs are the
group's jobs that started inside it, read from `statusTracker`, which
works with the UI disabled.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from host import tree_bytes
from dsci551_edfs_spark import catalog as CAT
from dsci551_edfs_spark import cli as CLI
from dsci551_edfs_spark.operators import aggregates as AGG
from dsci551_edfs_spark.sources import ingest as ING
from dsci551_edfs_spark.sources import scan as SCN

#: (owner, attribute, span name) for every traced public function
TRACED = [
    (CLI.EdfsShell, "run", "cli.run"),
    (CAT.EdfsCatalog, "mkdir", "catalog.mkdir"),
    (CAT.EdfsCatalog, "ls", "catalog.ls"),
    (CAT.EdfsCatalog, "rm", "catalog.rm"),
    (CAT.EdfsCatalog, "exists", "catalog.exists"),
    (ING, "put", "ingest.put"),
    (SCN, "cat", "scan.cat"),
    (SCN, "read_partition", "scan.read_partition"),
    (SCN, "get_partition_locations", "scan.get_partition_locations"),
    (SCN, "list_partitions", "scan.list_partitions"),
    (AGG, "get_avg", "aggregates.get_avg"),
    (AGG, "get_max", "aggregates.get_max"),
    (AGG, "get_min", "aggregates.get_min"),
    (AGG, "partition_debug", "aggregates.partition_debug"),
]

#: spans reported as `<layer>.<function>.{calls,busy_s,jobs}`; `cli.run`
#: is reported per op instead
LAYER_SPANS = [name for _, _, name in TRACED if name != "cli.run"]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.written = {"bytes": 0, "files": 0}
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _group_jobs(self, group: str | None) -> set[int]:
        if group is None:
            return set()
        return set(self.tracker.getJobIdsForGroup(group))

    def span(self, name: str, fn, *args, **kwargs):
        """Run `fn` inside a span named `name` and return its result."""
        stack = self._local.__dict__.setdefault("stack", [])
        group = getattr(self._local, "group", None)
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": stack[-1]["id"] if stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        before = self._group_jobs(group)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["jobs"] = sorted(self._group_jobs(group) - before)

    def set_group(self, group: str) -> None:
        """Put this thread's following Spark jobs in `group`."""
        self._local.group = group
        self.sc.setJobGroup(group, group)

    def _wrap(self, name: str, orig):
        tracer = self

        if name == "cli.run":

            @functools.wraps(orig)
            def run(shell, *args, **kwargs):
                tracer.set_group(f"op{tracer.op_id}")
                return tracer.span(name, orig, shell, *args, **kwargs)

            return run
        if name == "ingest.put":

            @functools.wraps(orig)
            def put(spark, source, destination, *args, **kwargs):
                out = tracer.span(name, orig, spark, source, destination, *args, **kwargs)
                size, files = tree_bytes(destination)
                tracer.written["bytes"] += size
                tracer.written["files"] += files
                return out

            return put

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.span(name, orig, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        for owner, attr, name in TRACED:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(name, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- reports

    def job_shape(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran for one job group."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    def layer_metrics(self) -> dict[str, float]:
        """calls, busy seconds and jobs per traced function; busy time is
        the span's duration, so a nested span counts in both."""
        out: dict[str, float] = {}
        for name in LAYER_SPANS:
            mine = [s for s in self.spans if s["name"] == name]
            out[f"{name}.calls"] = len(mine)
            out[f"{name}.busy_s"] = sum(s["end"] - s["start"] for s in mine)
            if not name.startswith("catalog."):
                out[f"{name}.jobs"] = sum(len(s["jobs"]) for s in mine)
        return out

    def run_spans(self) -> dict[int, dict]:
        """op id -> its `cli.run` span, with `self_s` = duration minus the
        spans directly under it."""
        runs = {s["id"]: dict(s) for s in self.spans if s["name"] == "cli.run"}
        for r in runs.values():
            r["self_s"] = r["end"] - r["start"]
        for s in self.spans:
            if s["parent"] in runs:
                runs[s["parent"]]["self_s"] -= s["end"] - s["start"]
        return {r["op"]: r for r in runs.values()}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
