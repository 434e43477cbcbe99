"""EDFS as a first-class Spark batch format: ``spark.read.format("edfs")``
via the Python DataSource API (Spark 4, SPARK-44076).

The rest of the `sources` package reads EDFS layouts with
`spark.read.parquet` plus layout knowledge baked into each call site.
This module packages that knowledge as a REGISTERED FORMAT, so any Spark
user (SQL included, after `spark.dataSource.register(EdfsDataSource)`)
scans an EDFS table like any other source:

    spark.read.format("edfs")
         .option("path", dest).option("hash_col", "n_regionkey").load()

Scale/pushdown posture — the parts that make a connector real:
- ``partitions()`` maps ONE InputPartition per EDFS partition directory,
  so scan parallelism equals the layout's partition count and each task
  reads only its directory.
- ``pushFilters`` (Spark 4.1 DSv2-python pushdown) accepts ``hash_col =
  value`` equality and PRUNES partitions() down to the matching
  directory — the reference's getPartitionLocations pruning expressed
  as real engine pushdown. The filter is also LEFT IN Spark's plan
  (partial pushdown): EDFS sentinel-fills nulls into the 0/"NULL"
  partition, so the pruned directory can contain sentinel rows the
  equality must still reject row-level.
- ``read()`` yields Arrow RecordBatches straight from the parquet
  footer-pruned column projection — no Python row loop.

Reference parity: the layout itself is `ingest.put`'s
(combined_flask.py:396-418 semantics); this module only adds the
DataSource facade.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    InputPartition,
)

from .ingest import PARTITION_COL

__all__ = ["EdfsDataSource", "register_edfs"]


class _EdfsPartition(InputPartition):
    def __init__(self, dir_path: str):
        self.dir_path = dir_path


def _partition_dirs(path: str) -> list[str]:
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith(f"{PARTITION_COL}=")
        and os.path.isdir(os.path.join(path, d))
    )


def _dir_value(dirname: str) -> str:
    return unquote(dirname.split("=", 1)[1])


class _EdfsReader(DataSourceReader):
    def __init__(self, options: dict, schema_names: Sequence[str]):
        self.path = options["path"]
        self.hash_col = options.get("hash_col")
        self.schema_names = list(schema_names)
        self.pushed_value: str | None = None

    def pushFilters(self, filters):  # Spark 4.1 python-DSv2 pushdown
        for f in filters:
            if (
                isinstance(f, EqualTo)
                and self.hash_col is not None
                and f.attribute == (self.hash_col,)
                and self.pushed_value is None
            ):
                self.pushed_value = str(f.value)
            # every filter stays in Spark's plan too (partial pushdown:
            # the sentinel partition can hold non-matching null rows)
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        dirs = _partition_dirs(self.path)
        if self.pushed_value is not None:
            dirs = [d for d in dirs if _dir_value(d) == self.pushed_value]
        return [_EdfsPartition(os.path.join(self.path, d)) for d in dirs]

    def read(self, partition: _EdfsPartition) -> Iterator:
        import pyarrow.parquet as pq

        table = pq.read_table(partition.dir_path, columns=self.schema_names)
        yield from table.to_batches()


class EdfsDataSource(DataSource):
    """``format("edfs")``: options `path` (layout root, required) and
    `hash_col` (the column the layout hashed on — enables equality
    pushdown pruning)."""

    @classmethod
    def name(cls) -> str:
        return "edfs"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        dirs = _partition_dirs(self.options["path"])
        if not dirs:
            raise ValueError(f"no EDFS partition dirs under {self.options['path']}")
        first = os.path.join(self.options["path"], dirs[0])
        fname = next(
            f for f in sorted(os.listdir(first)) if f.endswith(".parquet")
        )
        return from_arrow_schema(
            pq.read_schema(os.path.join(first, fname))
        )

    def reader(self, schema) -> DataSourceReader:
        return _EdfsReader(self.options, [f.name for f in schema.fields])


def register_edfs(spark) -> None:
    """Idempotently register the EDFS format with a session."""
    spark.dataSource.register(EdfsDataSource)
