"""The `query_suite` workload: registered catalog queries over a seeded
corpus, each run through `QUERIES[name]` and forced with a noop-sink
write. Answers are checked against the DuckDB oracles in `ORACLES`,
by row count and `tools/check_correctness.value_hash`, on the warm-up
pass and again after the timed passes, both untimed.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb

import inputs as IN
from host import tree_bytes
from dsci551_edfs_spark import memo as MEMO
from dsci551_edfs_spark.queries import ORACLES, QUERIES
from tools.check_correctness import value_hash

#: fixed order; every query has a DuckDB oracle, and none writes through
#: `queries_base._scratch_dir`. copurchase_triangles and copurchase_bfs_hops
#: are served from the memo store, built in set-up.
SUITE = (
    "pmr_avg_pruned q3_shipping_priority q18_large_volume_customer "
    "window_topk_orders events_session_window copurchase_triangles "
    "copurchase_bfs_hops"
).split()


class QuerySuite:
    #: timed passes per requested second
    passes_per_s = 0.4

    def __init__(self, seed: int, seconds: int, work_dir: str):
        # at least two, so a traced run traces each query once
        self.passes = max(2, round(seconds * self.passes_per_s))
        self.corpus = os.path.join(work_dir, "corpus")
        IN.write_corpus(seed, self.corpus)
        con = duckdb.connect()
        for t in IN.CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
        self.expected = {}
        for name in SUITE:
            cur = con.execute(ORACLES[name])
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self.expected[name] = (len(rows), value_hash(rows, cols))
        con.close()
        self.attempted = 0
        self.failed = 0
        self.first: dict[str, float] = {}
        self.steady: dict[str, list[float]] = {n: [] for n in SUITE}

    def _noop(self, name: str) -> None:
        QUERIES[name](self.spark, self.corpus).write.mode("overwrite").format("noop").save()

    def _check(self, name: str) -> None:
        df = QUERIES[name](self.spark, self.corpus)
        rows = [tuple(r) for r in df.collect()]
        if (len(rows), value_hash(rows, df.columns)) != self.expected[name]:
            raise AssertionError(f"{name}: answer differs from its oracle")

    def _call(self, name: str, fn) -> float:
        """Run one op; returns its seconds. A raised error or a wrong
        answer counts as a failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn(name)
        except Exception as e:  # noqa: BLE001 — one failed op, keep going
            self.failed += 1
            print(f"query_suite: {name} failed: {type(e).__name__}: {str(e)[:300]}")
        return time.perf_counter() - t0

    def setup(self, spark) -> float:
        """Memo builds and first calls: each query once."""
        self.spark = spark
        t0 = time.perf_counter()
        for name in SUITE:
            self.first[name] = self._call(name, self._noop)
        return time.perf_counter() - t0

    def check_pass(self) -> None:
        """Collect every query and compare with its oracle."""
        for name in SUITE:
            self._call(name, self._check)

    def warmup(self) -> None:
        self.check_pass()

    def timed(self, tracer=None) -> tuple[list[float], list[dict]]:
        lat, records = [], []
        i = 0
        for p in range(self.passes):
            for j, name in enumerate(SUITE):
                traced = tracer is not None and (j + p) % 2 == 1
                if traced:
                    tracer.op_id = i
                    tracer.set_group(f"op{i}")
                s = self._call(name, self._noop)
                if traced:
                    jobs, stages, tasks = tracer.job_shape(f"op{i}")
                    records.append({"op": i, "query": name, "rtt_s": s,
                                    "jobs": jobs, "stages": stages, "tasks": tasks})
                lat.append(s)
                self.steady[name].append(s)
                i += 1
        return lat, records

    def verify(self) -> None:
        self.check_pass()
        for name in SUITE:
            print(
                f"{name}: first call {self.first[name]:.3f} s, "
                f"median {statistics.median(self.steady[name]):.3f} s"
            )

    def layer_metrics(self, records: list[dict]) -> dict[str, float]:
        out = {
            "memo.build_s": sum(MEMO.BUILD_SECONDS.values()),
            "memo.builds": sum(1 for v in MEMO.BUILD_SECONDS.values() if v > 0),
            "memo.bytes": tree_bytes(os.path.join(MEMO.SCRATCH, "memo"))[0],
            "queries.first_call_s": sum(self.first.values()),
        }
        jobs = {r["query"]: r["jobs"] for r in records}
        for name in SUITE:
            out[f"queries.{name}.steady_s"] = statistics.median(self.steady[name])
            out[f"queries.{name}.jobs"] = jobs.get(name, 0)
        return out

    def stored_bytes_per_input_byte(self) -> float:
        return tree_bytes(os.path.join(MEMO.SCRATCH, "memo"))[0] / tree_bytes(self.corpus)[0]

    def close(self) -> None:
        pass

