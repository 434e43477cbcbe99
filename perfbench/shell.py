"""The `pmr_read` workload: the EDFS shell driven over HTTP by one
closed-loop client.

Set-up makes a directory and puts five tables; between set-up repeats
they are removed again. The timed script then reads them: the PMR
aggregates, the hard-coded-column routes, `readPartition`,
`getPartitionLocations`, `cat` and `ls`.

Op scripts are drawn from the seed and stratified: every seed gets the
same number of ops of each kind on each table, so seeds differ in
values, columns, keys and order, not in the amount of work.
"""

from __future__ import annotations

import http.client
import json
import os
import re
import statistics
import time
import urllib.parse
from dataclasses import dataclass
from typing import Callable

import numpy as np

import inputs as IN
from host import tree_bytes
from dsci551_edfs_spark.cli import EdfsShell
from dsci551_edfs_spark.http_api import start_server
from dsci551_edfs_spark.operators.aggregates import HARDCODED_AVG_COLUMNS

SETUP_REPEATS = 2
_RESULT = re.compile(r"The overall (average|maximum|minimum) is (-?\d+\.\d{3})")
_KIND = {"getAvg": "avg", "getMax": "max", "getMin": "min"}


@dataclass
class Op:
    route: str
    params: dict
    check: Callable[[object], bool]


class Server:
    """One EdfsShell over its own warehouse, served over HTTP."""

    def __init__(self, spark, warehouse: str):
        self.warehouse = warehouse
        self.shell = EdfsShell(spark, warehouse)
        self.server, self.thread = start_server(self.shell)
        self.port = self.server.server_address[1]

    def call(self, route: str, params: dict) -> tuple[dict, float]:
        """One GET; returns (envelope, round-trip seconds)."""
        path = f"/{route}?{urllib.parse.urlencode(params)}"
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request("GET", path)
            body = conn.getresponse().read()
        finally:
            conn.close()
        return json.loads(body), time.perf_counter() - t0

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


def ok(op: Op, envelope: dict) -> bool:
    try:
        return envelope.get("status") == "EDFS200" and bool(op.check(envelope["response"]))
    except (KeyError, TypeError, ValueError, AttributeError):
        return False


# ---------------------------------------------------------------- checks


def check_agg(expected: float | None, rows: int | None = None) -> Callable:
    def check(resp) -> bool:
        if expected is None:
            return "undefined" in resp["result"]
        m = _RESULT.fullmatch(resp["result"])
        good = m is not None and abs(float(m.group(2)) - expected) <= 5.01e-4
        if rows is not None:  # debug=true: partials cover every row
            good = good and sum(p["size"] for p in resp["partitions"]) == rows
        return good

    return check


def check_ids(expected: list[int]) -> Callable:
    """CSV body: header, then rows whose first column is the id, in
    ingest order."""

    def check(resp) -> bool:
        lines = resp.split("\n")[1:]
        return [int(ln.split(",", 1)[0]) for ln in lines if ln] == expected

    return check


def check_locations(key_rows: dict[str, int]) -> Callable:
    def check(resp) -> bool:
        got = {p["key"]: p["rows"] for p in resp["partitions"].values()}
        return got == key_rows

    return check


def check_ls(names: set[str]) -> Callable:
    def check(resp) -> bool:
        lines = resp.split("\n")
        return lines[0] == f"Found {len(names)} items" and {
            ln.split()[-1] for ln in lines[1:]
        } == names

    return check


def check_put(facts: IN.TableFacts) -> Callable:
    return lambda resp: resp["num_partitions"] == len(facts.keys)


def check_equal(value) -> Callable:
    return lambda resp: resp == value


def agg_op(r, facts: IN.TableFacts, path: str, route: str, pruned: bool, debug=False) -> Op:
    cols = [c for c in facts.numeric if c != facts.id_col]
    col = str(r.choice(cols))
    key = str(r.choice(facts.keys)) if pruned else None
    params = {"path": path, "col": col, "debug": str(debug).lower()}
    if key is not None:
        params["hash"] = key
    rows = facts.rows if debug else None
    return Op(route, params, check_agg(facts.agg(_KIND[route], col, key), rows))


def put_op(csv: str, path: str, partitions: int, hash_col: str | None, facts) -> Op:
    params = {"source": csv, "destination": path, "partitions": str(partitions)}
    if hash_col is not None:
        params["hash"] = hash_col
    return Op("put", params, check_put(facts))


# -------------------------------------------------------------- workload


class PmrRead:
    """Set up, warm up and run the read script against the HTTP server."""

    #: timed ops per requested second, fixed so each run does the same work
    OPS_PER_S = 4.0
    BLOCK = 20
    WARMUP_BLOCKS = 1

    def __init__(self, seed: int, seconds: int, work_dir: str):
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.tracer = None
        self.srv: Server | None = None
        self.attempted = 0
        self.failed = 0
        csv_dir = os.path.join(work_dir, "csv")
        os.makedirs(csv_dir)
        spec = {
            # name: (table, partitions, hash column); orders_range puts
            # the orders_hash CSV again, laid out by range on its first column
            "nhanes": (IN.nhanes_table(seed, 10_175), 5, IN.NHANES_HASH_COL),
            "orders_hash": (IN.orders_table(seed, 15_000), 3, "o_orderstatus"),
            "orders_range": (None, 8, None),
            "lineitem": (IN.lineitem_table(seed, 300_000), 3, "l_returnflag"),
            "small": (IN.orders_table(seed, 1_000, stream="small"), 4, None),
        }
        self.facts: dict[str, IN.TableFacts] = {}
        self.puts: list[tuple[str, str, int, str | None]] = []
        for name, (table, parts, hash_col) in spec.items():
            if table is None:
                csv, table = self.puts[-1][0], self.facts["/pmr/orders_hash"].table
            else:
                csv = os.path.join(csv_dir, f"{name}.csv")
                table = IN.write_csv(table, csv)
            self.facts[f"/pmr/{name}"] = IN.TableFacts(table, parts, hash_col)
            self.puts.append((csv, f"/pmr/{name}", parts, hash_col))

    def run_ops(self, ops: list[Op], tag: str) -> None:
        """Run `ops`, checking each answer as it comes."""
        for k, op in enumerate(ops):
            if self.tracer is not None:
                self.tracer.op_id = f"{tag}{k}"
            env, _ = self.srv.call(op.route, op.params)
            self.attempted += 1
            self.failed += not ok(op, env)

    def setup(self, spark) -> float:
        """`mkdir` and `put` the tables, `SETUP_REPEATS` times; between
        repeats, `rm` them again. Returns the server start plus the
        median seconds of one set-up."""
        t0 = time.perf_counter()
        self.srv = Server(spark, os.path.join(self.work_dir, "warehouse"))
        start_s = time.perf_counter() - t0
        names = {p.rsplit("/", 1)[1] for p in self.facts}
        times = []
        for i in range(SETUP_REPEATS):
            if i:
                ops = [Op("rm", {"path": p}, check_equal({"removed": p})) for p in self.facts]
                ops.append(Op("rm", {"path": "/pmr"}, check_equal({"removed": "/pmr"})))
                self.run_ops(ops, f"teardown{i}-")
            t0 = time.perf_counter()
            ops = [Op("mkdir", {"path": "/pmr"}, check_equal({"created": "/pmr"}))]
            ops += [put_op(c, p, n, h, self.facts[p]) for c, p, n, h in self.puts]
            self.run_ops(ops, f"setup{i}-")
            times.append(time.perf_counter() - t0)
        self.run_ops([Op("ls", {"path": "/pmr"}, check_ls(names))], "setup-ls")
        print("set-up repeats (s): " + " ".join(f"{t:.3f}" for t in times))
        return start_s + statistics.median(times)

    def _ops(self, r: np.random.Generator, blocks: int) -> list[Op]:
        """`blocks` shuffled blocks of 20 ops: 12 aggregates (3 per table,
        alternately hash-pruned, one with debug=true), 2 hard-coded-column
        routes, 2 readPartition, 2 getPartitionLocations, a cat and an ls."""
        agg_tables = ["/pmr/nhanes", "/pmr/orders_hash", "/pmr/orders_range", "/pmr/lineitem"]
        read_tables = ["/pmr/nhanes", "/pmr/orders_hash", "/pmr/orders_range"]
        nhanes = self.facts["/pmr/nhanes"]
        ops: list[Op] = []
        for b in range(blocks):
            block = []
            for t, path in enumerate(agg_tables):
                for j, route in enumerate(r.permutation(list(_KIND))):
                    pruned = (j + b + t) % 2 == 0
                    debug = j == 0 and t == b % len(agg_tables)
                    block.append(agg_op(r, self.facts[path], path, str(route), pruned, debug))
            for j in range(2):
                route = str(r.choice(list(HARDCODED_AVG_COLUMNS)))
                key = str(r.choice(nhanes.keys)) if j == 0 else None
                params = {"path": "/pmr/nhanes", "debug": "false"}
                if key is not None:
                    params["hash"] = key
                expected = nhanes.agg("avg", HARDCODED_AVG_COLUMNS[route], key)
                block.append(Op(route, params, check_agg(expected)))
            for j in range(2):
                path = read_tables[(2 * b + j) % len(read_tables)]
                facts = self.facts[path]
                n = int(r.integers(1, len(facts.keys) + 1))
                block.append(
                    Op("readPartition", {"path": path, "partition": str(n)},
                       check_ids(facts.ids(facts.keys[n - 1])))
                )
            for j in range(2):
                path = list(self.facts)[(2 * b + j) % len(self.facts)]
                block.append(
                    Op("getPartitionLocations", {"path": path},
                       check_locations(self.facts[path].key_rows))
                )
            block.append(Op("cat", {"path": "/pmr/small"}, check_ids(self.facts["/pmr/small"].ids())))
            block.append(Op("ls", {"path": "/pmr"}, check_ls({p.rsplit("/", 1)[1] for p in self.facts})))
            ops += [block[i] for i in r.permutation(len(block))]
        return ops

    def warmup(self) -> None:
        """`WARMUP_BLOCKS` blocks from the warm-up stream, so the JIT has
        settled before the clock starts."""
        self.run_ops(self._ops(IN.rng(self.seed, "warmup"), self.WARMUP_BLOCKS), "warmup")

    def timed(self, tracer=None) -> tuple[list[float], list[dict]]:
        """Run the timed script; `verify` checks the answers after the
        clock stops. With a tracer, every other op is traced. Returns
        (latencies, per-op trace records)."""
        blocks = max(1, round(self.seconds * self.OPS_PER_S / self.BLOCK))
        ops = self._ops(IN.rng(self.seed, "script"), blocks)
        lat, records = [], []
        self._answers = []
        for i, op in enumerate(ops):
            traced = tracer is not None and i % 2 == 1
            if traced:
                tracer.op_id = i
                tracer.install()
            env, s = self.srv.call(op.route, op.params)
            if traced:
                tracer.uninstall()
                jobs, stages, tasks = tracer.job_shape(f"op{i}")
                records.append(
                    {"op": i, "route": op.route, "rtt_s": s, "response": env.get("response"),
                     "jobs": jobs, "stages": stages, "tasks": tasks}
                )
            lat.append(s)
            self._answers.append((op, env))
        return lat, records

    def verify(self) -> None:
        for op, env in self._answers:
            self.attempted += 1
            self.failed += not ok(op, env)

    def stored_bytes_per_input_byte(self) -> float:
        """Bytes on disk of the tables over the CSV bytes put."""
        stored = sum(tree_bytes(os.path.join(self.srv.warehouse, p.strip("/")))[0] for p in self.facts)
        return stored / sum(os.path.getsize(csv) for csv, *_ in self.puts)

    def close(self) -> None:
        if self.srv is not None:
            self.srv.close()
