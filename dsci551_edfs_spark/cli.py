"""EDFS shell: the reference UI's command grammar over the Spark engine.

Grammar (edfs-ui/src/Terminal.js:44-143):

    clear
    mkdir <path>
    ls <path>
    cat <path>
    rm <path>
    put <source> <destination> <partitions> [hash]
    getPartitionLocations <path>
    readPartition <path> <partition>
    getAvg <path> <col> [debug] [hash]
    getMax <path> <col> [debug] [hash]
    getMin <path> <col> [debug] [hash]
    getAvgFamilyIncome <path> [debug] [hash]       (column INDFMIN2 bound)
    getAvgTimeInUS <path> [debug] [hash]           (column DMDYRSUS bound)
    firebase_getAvgGripStrn <path> [debug] [hash]  (column MGDCGSZ bound)
    firebase_getAvgArmCircum <path> [debug] [hash] (column BMXARMC bound)

Responses mirror the reference's envelope `{response, status}` with
EDFS-prefixed status codes (`combined_flask.py:590-596`): EDFS200 ok,
EDFS204 empty, EDFS400 user error. Aggregates format as
"The overall {x} is {v:.3f}" (`combined_flask.py:770`).

Intentional divergence: `getPartitionLocations` returns
`{partitions: {k: {key, rows}}}` rather than the reference's replica map
`{Replica k: {partition: {datanode: block}}}` (`combined_flask.py:477-487`)
— replication/datanode placement is delegated to the storage layer
(HDFS/object store) per SURVEY.md §1.3, so there is no replica dimension
to report; each partition gives its key and row count.

Every table a command reads comes from `EdfsCatalog.table`, a handle that
is resolved once per table version and reused across requests. The
handle's PMR partials are the table's one partition map (one Spark job
per table version, none on a warm table): they answer the aggregates,
their `debug` channel and `getPartitionLocations`, and number the
partitions `readPartition` reads. The first `cat` or `readPartition` of a
table version whose rows fit `max_csv_rows` reads them from the table's
parquet files on the driver (`scan.local_rows`), with no Spark job; a
larger one, a table off the local filesystem or a read `local_rows`
cannot prove exact runs one bounded Spark job (`_emit_csv`). The handle
keeps the text (`TableHandle.emit`), so an identical repeat reads
nothing. `query` reads no table version: every `query` runs its emit.

`debug=true` adds `partitions`: one `{partition, partial, size}` entry per
EDFS partition of the whole table, also when `hash` prunes the result.
Partitions are numbered 1..n in the order `getPartitionLocations` lists
them and `readPartition <path> <n>` reads them; `partial` is the
aggregate over that partition alone (None when it has no non-null value)
and `size` its row count, the reference's per-partition
`{Partition, Input, Output}` (`combined_flask.py:712-717`).

Run: ``python -m dsci551_edfs_spark.cli [--warehouse DIR]`` for a REPL, or
pass a single command after ``--``.
"""

from __future__ import annotations

import json
import os
import shlex
import sys

from pyspark.sql import SparkSession

from .catalog import EdfsCatalog
from .operators import aggregates as AGG
from .sources import ingest as ING
from .sources import scan as SCN

#: default corpus for the `query` extension when no sf_dir is supplied —
#: shared by the REPL grammar and the HTTP facade so both surfaces run
#: the same query against the same data by default
DEFAULT_SF_DIR = "/root/testdata/sf0.001"


class EdfsShell:
    #: cap on rows any single `cat`/`readPartition`/`query` emits — the
    #: reference contract is emit-whole-CSV, which is fine for EDFS-scale
    #: tables but would OOM the driver on a real one; past the cap the CSV
    #: carries a trailing truncation marker comment. The emit holds at most
    #: cap+1 rows in Python, and each task sends at most cap+1 rows into
    #: the driver's top-k merge
    max_csv_rows = 100_000

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = EdfsCatalog(spark, warehouse)

    def _emit_csv(self, df) -> tuple[str, int]:
        """Write a frame as CSV text with one bounded Spark job; returns
        the text and the rows it holds. `query` calls it every time, and
        `_emit_table` when the driver cannot read the rows itself.

        `limit(cap + 1)` over the lazily ordered frames of `sources/scan.py`
        plans as one `TakeOrderedAndProject` (a top-k: each task keeps its
        first cap+1 rows in order, the driver merges them) instead of the
        sample, shuffle and result jobs of a full sort. Driver memory stays
        bounded by the cap: at most cap+1 rows in Python, at most cap+1
        rows per task into the merge."""
        rows = df.limit(self.max_csv_rows + 1).collect()
        return self._csv_text(df.columns, rows), min(len(rows), self.max_csv_rows)

    def _emit_table(self, table, partition: int | None = None) -> tuple[str, int]:
        """`cat` (partition None) or `readPartition <partition>` of a
        table handle as CSV text and its row count. Rows that fit
        `max_csv_rows` are read from the table's files on the driver,
        with no Spark job (`scan.local_rows`); otherwise, or when that
        read cannot be proved exact, `_emit_csv` runs the scan frame.
        Call it with the partials already mapped, so no map step runs
        under the handle's emit lock."""
        partials = table.partials()
        keys = SCN.list_partitions(partials)
        if partition is None:
            key, size = SCN.ALL, sum(partials.sizes)
        else:
            key, size = SCN.partition_key(keys, partition), partials.sizes[partition - 1]
        if size <= self.max_csv_rows:
            local = SCN.local_rows(table.df.schema, table.files(), size, key)
            if local is not None:
                return self._csv_text(*local), size
        if partition is None:
            return self._emit_csv(SCN.cat(table.df))
        return self._emit_csv(SCN.read_partition(table.df, partition, keys))

    def _csv_text(self, columns: list[str], rows: list) -> str:
        """The emitted CSV: a header and at most `max_csv_rows` rows; more
        rows end in a `# truncated at N rows` marker. The reference emits
        the whole CSV (`combined_flask.py` cat) but serves KB-scale tables."""
        import csv as _csv
        import io

        buf = io.StringIO()
        w = _csv.writer(buf, lineterminator="\n")
        w.writerow(columns)
        w.writerows(rows[: self.max_csv_rows])
        if len(rows) > self.max_csv_rows:
            buf.write(f"# truncated at {self.max_csv_rows} rows\n")
        return buf.getvalue()

    # ---------------------------------------------------------- helpers

    def _ok(self, response, status: str = "EDFS200") -> dict:
        return {"response": response, "status": status}

    def _err(self, msg: str) -> dict:
        return {"response": msg, "status": "EDFS400"}

    def _agg(self, kind: str, args: list[str], bound_col: str | None = None) -> dict:
        if bound_col is not None:
            # hardcoded-column route (fs_commands.py:396-460): the column is
            # bound server-side, remaining args are [debug] [hash]
            args = [args[0], bound_col] + args[1:] if args else args
        if len(args) < 2:
            return self._err(f"usage: get{kind.capitalize()} <path> <col> [debug] [hash]")
        path, col = args[0], args[1]
        debug = len(args) >= 3 and args[2].lower() == "true"
        hash_value = args[3] if len(args) >= 4 else None
        partials = self.catalog.table(path).partials()
        fn = {"avg": AGG.get_avg, "max": AGG.get_max, "min": AGG.get_min}[kind]
        value = fn(partials, col, hash_value=hash_value)
        out = {"result": AGG.format_result(kind, value)}
        if debug:
            out["partitions"] = AGG.partition_debug(partials, col, kind)
        return self._ok(out)

    # ---------------------------------------------------------- commands

    def execute(self, line: str) -> dict:
        try:
            parts = shlex.split(line.strip())
        except ValueError as e:
            return self._err(str(e))
        if not parts:
            return self._ok("")
        return self.run(parts[0], parts[1:])

    def run(self, cmd: str, args: list[str]) -> dict:
        """Dispatch one already-tokenized command — the single entry point
        shared by the REPL grammar (`execute`) and the HTTP facade
        (http_api.py), so both surfaces serve identical envelopes."""
        try:
            if cmd == "mkdir":
                return self._ok(self.catalog.mkdir(args[0]))
            if cmd == "ls":
                return self._ok(self.catalog.format_ls(args[0] if args else "/"))
            if cmd == "clear":
                # Terminal.js:44-47 clears client-side; the engine returns
                # an action envelope the frontend (or REPL) acts on
                return self._ok({"action": "clear"})
            if cmd == "cat":
                table = self.catalog.table(args[0])
                table.partials()  # mapped before the emit lock
                return self._ok(
                    table.emit(("cat",), self.max_csv_rows, lambda: self._emit_table(table))
                )
            if cmd == "rm":
                return self._ok(self.catalog.rm(args[0]))
            if cmd == "put":
                if len(args) < 3:
                    return self._err("usage: put <source> <destination> <partitions> [hash]")
                src, dest, n = args[0], args[1], int(args[2])
                hash_col = args[3] if len(args) >= 4 else None
                manifest = ING.put(
                    self.spark, src, self.catalog.table_path(dest), n, hash_col
                )
                return self._ok(manifest)
            if cmd == "getPartitionLocations":
                return self._ok(
                    SCN.get_partition_locations(self.catalog.table(args[0]).partials())
                )
            if cmd == "readPartition":
                table = self.catalog.table(args[0])
                table.partials()  # mapped before the emit lock
                # within a version, partition n names the one key keys[n-1]
                n = int(args[1])
                return self._ok(
                    table.emit(("readPartition", n), self.max_csv_rows,
                               lambda: self._emit_table(table, n))
                )
            if cmd == "getAvg":
                return self._agg("avg", args)
            if cmd == "getMax":
                return self._agg("max", args)
            if cmd == "getMin":
                return self._agg("min", args)
            if cmd in AGG.HARDCODED_AVG_COLUMNS:
                return self._agg("avg", args, bound_col=AGG.HARDCODED_AVG_COLUMNS[cmd])
            if cmd == "query":
                # engine extension beyond the Terminal.js grammar: run any
                # registered catalog query against a testdata sf dir —
                # `query <name> [sf_dir] [limit]` (bounded emit like cat)
                from .queries import QUERIES

                if not args:
                    return self._err("usage: query <name> [sf_dir] [limit]")
                name = args[0]
                if name not in QUERIES:
                    return self._err(f"unknown query: {name}")
                sf_dir = args[1] if len(args) >= 2 else DEFAULT_SF_DIR
                limit = int(args[2]) if len(args) >= 3 else 20
                df = QUERIES[name](self.spark, sf_dir).limit(limit)
                return self._ok(self._emit_csv(df)[0])
            if cmd == "queries":
                from .queries import ORACLES, QUERIES

                return self._ok(
                    "\n".join(
                        f"{n}{'' if n in ORACLES else '  (rows-only)'}"
                        for n in sorted(QUERIES)
                    )
                )
            return self._err(f"unknown command: {cmd}")
        except (
            FileNotFoundError,
            FileExistsError,
            PermissionError,
            OSError,
            KeyError,
            TypeError,
            ValueError,
            IndexError,
        ) as e:
            return self._err(f"{type(e).__name__}: {e}")


CLEAR_SEQ = "\033[2J\033[H"


def repl(shell: EdfsShell, input_fn=input, write=None) -> int:
    """Interactive loop: prompt, execute, JSON-print the envelope.
    `clear` acts on the terminal (ANSI clear) instead of printing its
    envelope — the same client-side behavior as Terminal.js. Injectable
    input/write hooks make the loop unit-testable."""
    if write is None:
        write = lambda s: sys.stdout.write(s)  # noqa: E731
    while True:
        try:
            line = input_fn("edfs> ")
        except (EOFError, KeyboardInterrupt):
            return 0
        if line.strip() in ("exit", "quit"):
            return 0
        out = shell.execute(line)
        resp = out.get("response")
        if isinstance(resp, dict) and resp.get("action") == "clear":
            write(CLEAR_SEQ)
            continue
        write(json.dumps(out, indent=2, default=str) + "\n")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    from .memo import scratch_root

    warehouse = os.path.join(scratch_root(), "warehouse")
    if "--warehouse" in argv:
        i = argv.index("--warehouse")
        warehouse = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    from .session import get_spark

    shell = EdfsShell(get_spark("edfs-cli"), warehouse)
    if argv and argv[0] == "--":
        print(json.dumps(shell.execute(" ".join(argv[1:])), indent=2, default=str))
        return 0
    return repl(shell)


if __name__ == "__main__":
    raise SystemExit(main())
