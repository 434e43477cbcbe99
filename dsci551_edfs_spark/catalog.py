"""Namespace operations: `mkdir`, `ls`, `rm` over a warehouse directory.

The reference emulates an HDFS namenode twice (MySQL inode/edge tables,
`init.sql:5-16`; Firebase JSON tree, `combined_flask.py:44-47`). A Spark
engine needs neither: the namespace IS the filesystem (Hadoop `FileSystem`
API → works for file://, hdfs://, s3a:// alike). We keep the reference's
observable semantics:

- `mkdir -p` behavior (the MySQL variant creates missing intermediate dirs,
  `combined_flask.py:108-131` — SURVEY.md §2 picks this semantic).
- `rm` refuses the root and non-empty directories
  (`combined_flask.py:222-226`, `:244-250`); deleting a table removes its
  whole parquet directory (the reference's 9-table cascade,
  `combined_flask.py:251-260`, collapses into one recursive delete of the
  table dir — a *table* is one path here).
- `ls` returns HDFS-style rows: permissions, size, mtime, name with a
  `Found N items` header (`combined_flask.py:140-212`).

Implemented with the JVM Hadoop FileSystem through the SparkContext so the
same code runs against any Hadoop-compatible store, not just local disk.

Like the namenode's in-memory inode tree and block map, the catalog keeps
a handle per table it has resolved (`table`): the `DataFrame` of one
`spark.read.parquet` (schema and file index already resolved) and, once
asked for, the table's PMR partials (`sources/partials.py`): per
partition key its row count and, per numeric column, the non-null count,
sum, min and max. The partials are the table's one partition map: they
answer the aggregates, their `debug` channel, `getPartitionLocations` and
`readPartition`'s numbering without a Spark job; they cost one job per
table version and partitions × numeric columns values of driver memory.
Like a datanode's stored blocks, the handle also keeps the CSV text the
shell emitted for it (`emit`): per `cat` or `readPartition` partition and
row cap, made by one Spark job on first use and kept while the rows
summed over the kept texts stay within that cap, so a repeated emit runs
no job and a handle's texts hold at most `max_csv_rows` rows.
A handle is valid for one version of the table, stamped by the
modification time of the `_SUCCESS` marker that every `put` rewrites, so
each request costs one FileSystem stat instead of a schema-inference
job; a new stamp or an `rm` drops the handle, with its partials and
texts.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from .sources.partials import Partials, map_partials

__all__ = ["EdfsCatalog", "TableHandle"]


@dataclass
class TableHandle:
    """One resolved version of a table. `stamp` is the `_SUCCESS`
    modification time it was read at (None for a table without the
    marker, which is never cached)."""

    stamp: int | None
    df: DataFrame
    _partials: Partials | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    #: (emit key, cap) -> CSV text, and the rows summed over the texts
    _texts: dict = field(default_factory=dict, repr=False)
    _text_rows: int = 0
    _emit_lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def partials(self) -> Partials:
        """The table's PMR partials, mapped on first use; concurrent first
        callers wait for the one Spark job."""
        with self._lock:
            if self._partials is None:
                self._partials = map_partials(self.df)
            return self._partials

    def emit(self, key: tuple, cap: int, make: Callable[[], str]) -> str:
        """The CSV text of `key` emitted under the row cap `cap`, made by
        `make` on first use; concurrent first callers wait for the one
        Spark job. A text is kept while the rows summed over the kept
        texts stay within `cap`; past that it is served but not kept.
        `make` must not call `emit`: the emit lock is not reentrant."""
        with self._emit_lock:
            text = self._texts.get((key, cap))
            if text is None:
                text = make()
                # lines after the header: the marker line and a quoted
                # newline overcount, and the cap bounds the rows emitted
                rows = min(max(text.count("\n") - 1, 0), cap)
                if self._text_rows + rows <= cap:
                    self._texts[(key, cap)] = text
                    self._text_rows += rows
            return text


class EdfsCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        self._hadoop_conf = jsc.hadoopConfiguration()
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.warehouse).getFileSystem(self._hadoop_conf)
        self._fs.mkdirs(self._Path(self.warehouse))
        # table path -> handle; the HTTP server runs each request on its
        # own thread, so the dict is only touched under the lock
        self._handles: dict[str, TableHandle] = {}
        self._lock = threading.Lock()

    def _resolve(self, path: str):
        path = "/" + path.strip("/")
        return self._Path(self.warehouse + path), path

    def exists(self, path: str) -> bool:
        p, _ = self._resolve(path)
        return bool(self._fs.exists(p))

    def mkdir(self, path: str) -> dict:
        """`mkdir -p`: creates missing intermediates (MySQL semantic,
        `combined_flask.py:108-131`)."""
        p, norm = self._resolve(path)
        if self._fs.exists(p):
            raise FileExistsError(f"mkdir: {norm}: already exists")
        self._fs.mkdirs(p)
        return {"created": norm}

    def ls(self, path: str = "/") -> list[dict]:
        """HDFS-style listing (`combined_flask.py:140-212`)."""
        p, norm = self._resolve(path)
        if not self._fs.exists(p):
            raise FileNotFoundError(f"ls: {norm}: no such file or directory")
        statuses = self._fs.listStatus(p)
        out = []
        for st in statuses:
            is_dir = st.isDirectory()
            perm = ("d" if is_dir else "-") + str(st.getPermission())
            size = 0 if is_dir else st.getLen()
            if is_dir:
                # directory size = sum of contained file lengths, like the
                # reference's block-size sum (`combined_flask.py:977-980`)
                size = self._fs.getContentSummary(st.getPath()).getLength()
            out.append(
                {
                    "permissions": perm,
                    "size": int(size),
                    "mtime": datetime.fromtimestamp(
                        st.getModificationTime() / 1000
                    ).strftime("%Y-%m-%d %H:%M"),
                    "name": st.getPath().getName(),
                    "type": "dir" if is_dir else "file",
                }
            )
        return sorted(out, key=lambda r: r["name"])

    def format_ls(self, path: str = "/") -> str:
        rows = self.ls(path)
        lines = [f"Found {len(rows)} items"]
        for r in rows:
            lines.append(
                f"{r['permissions']:<12}{r['size']:>12} {r['mtime']} {r['name']}"
            )
        return "\n".join(lines)

    def _is_table_dir(self, p) -> bool:
        """A parquet table dir (contains _SUCCESS / *.parquet / partition
        subdirs) is treated as a file-like leaf, mirroring 'file = table'."""
        for st in self._fs.listStatus(p):
            name = st.getPath().getName()
            if name == "_SUCCESS" or name.endswith(".parquet") or "=" in name:
                return True
        return False

    def rm(self, path: str) -> dict:
        """Delete a table (recursively) or an EMPTY plain directory; refuse
        the root and non-empty non-table dirs (`combined_flask.py:222-260`)."""
        p, norm = self._resolve(path)
        if norm == "/":
            raise PermissionError("rm: cannot remove root directory")
        if not self._fs.exists(p):
            raise FileNotFoundError(f"rm: {norm}: no such file or directory")
        if self._fs.getFileStatus(p).isDirectory():
            children = self._fs.listStatus(p)
            if len(children) > 0 and not self._is_table_dir(p):
                raise OSError(f"rm: {norm}: directory is not empty")
        self._fs.delete(p, True)
        with self._lock:
            self._handles.pop(self.warehouse + norm, None)
        return {"removed": norm}

    def table_path(self, path: str) -> str:
        _, norm = self._resolve(path)
        return self.warehouse + norm

    def _stamp(self, p) -> int | None:
        """Modification time of the table's `_SUCCESS` marker, or None
        when there is none."""
        try:
            return int(self._fs.getFileStatus(self._Path(p, "_SUCCESS")).getModificationTime())
        except Py4JJavaError as e:
            if "FileNotFoundException" in e.java_exception.getClass().getName():
                return None
            raise

    def table(self, path: str) -> TableHandle:
        """The handle for the table at `path`, re-read only when its
        `_SUCCESS` stamp changed since the cached handle was made. The
        stamp is taken before the read, so a handle is never older than
        its stamp. A table without the marker is read fresh every time."""
        p, norm = self._resolve(path)
        key = self.warehouse + norm
        stamp = self._stamp(p)
        if stamp is None:
            if not self._fs.exists(p):
                raise FileNotFoundError(f"{norm}: no such file or directory")
            return TableHandle(None, self.spark.read.parquet(key))
        with self._lock:
            handle = self._handles.get(key)
        if handle is None or handle.stamp != stamp:
            fresh = TableHandle(stamp, self.spark.read.parquet(key))
            with self._lock:
                # a request racing on the same version keeps the first
                # handle, so the version's partials are mapped once
                handle = self._handles.get(key)
                if handle is None or handle.stamp != stamp:
                    handle = self._handles[key] = fresh
        return handle
