"""Seeded inputs for the benchmark workloads.

Every table the program sees is generated here from the workload seed:
CSV files for the EDFS shell (`put` reads a local CSV) and a parquet
corpus shaped like the repo's TPC-H-ish test data for the query suite.
Expected answers are computed from the same files, read back with
pyarrow or DuckDB, so the check sees exactly the bytes the program read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: independent random streams, so the op script, the warm-up and each
#: table draw from their own sequence of one seed
STREAM = {
    "nhanes": 1,
    "orders": 2,
    "lineitem": 3,
    "small": 4,
    "script": 5,
    "warmup": 6,
    "corpus": 8,
}


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, STREAM[stream], 0])


def _nullify(r: np.random.Generator, arr: pa.Array, frac: float) -> pa.Array:
    mask = r.random(len(arr)) < frac
    return pc.if_else(pa.array(mask), pa.nulls(len(arr), arr.type), arr)


# ------------------------------------------------------------------ CSVs

NHANES_HASH_COL = "RIDRETH1"
#: hard-coded columns of the reference's NHANES routes (cli.py grammar)
NHANES_NAMED = {"INDFMIN2": "code", "DMDYRSUS": "code", "MGDCGSZ": "float", "BMXARMC": "float"}


def nhanes_table(seed: int, rows: int) -> pa.Table:
    """NHANES-shaped wide table: SEQN id, 46 numeric measures with about
    30% nulls (the four hard-coded columns among them), and a 5-value
    hash column."""
    r = rng(seed, "nhanes")
    cols = {"SEQN": pa.array(np.arange(1, rows + 1, dtype=np.int64))}
    kinds = dict(NHANES_NAMED)
    for j in range(42):
        kinds[f"MX{j:02d}"] = "code" if j % 3 == 0 else "float"
    for name, kind in kinds.items():
        if kind == "code":
            arr = pa.array(r.integers(1, 16, rows, dtype=np.int64))
        else:
            mean, sd = r.uniform(5, 200), r.uniform(1, 30)
            arr = pa.array(np.round(r.normal(mean, sd, rows), 1))
        cols[name] = _nullify(r, arr, r.uniform(0.2, 0.4))
    cols[NHANES_HASH_COL] = pa.array(r.integers(1, 6, rows, dtype=np.int64))
    return pa.table(cols)


def _dates(r: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start)
    return pa.array((base + r.integers(0, days, n)).astype("datetime64[D]").astype(str))


def orders_table(seed: int, rows: int, stream: str = "orders") -> pa.Table:
    """TPC-H `orders` shape (sf0.01 has 15,000 rows)."""
    r = rng(seed, stream)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(rows, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, max(rows // 10, 1), rows)),
            "o_orderstatus": pa.array(r.choice(["F", "O", "P"], rows)),
            "o_totalprice": pa.array(np.round(r.uniform(1000, 500000, rows), 2)),
            "o_orderdate": _dates(r, rows, "1995-01-01", 2400),
            "o_orderpriority": pa.array(
                r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], rows)
            ),
        }
    )


def lineitem_table(seed: int, rows: int) -> pa.Table:
    """TPC-H `lineitem` shape (sf0.1 has 600,000 rows)."""
    r = rng(seed, "lineitem")
    qty = r.integers(1, 51, rows).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(np.sort(r.integers(0, rows // 4, rows))),
            "l_partkey": pa.array(r.integers(0, 20000, rows)),
            "l_suppkey": pa.array(r.integers(0, 1000, rows)),
            "l_linenumber": pa.array(r.integers(1, 8, rows)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, rows), 2)),
            "l_discount": pa.array(r.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, rows) / 100.0),
            "l_returnflag": pa.array(r.choice(["A", "N", "R"], rows)),
            "l_linestatus": pa.array(r.choice(["O", "F"], rows)),
            "l_shipdate": _dates(r, rows, "1995-01-02", 2500),
        }
    )


def write_csv(table: pa.Table, path: str) -> pa.Table:
    """Write `table` as CSV and return it as read back, so expected
    answers are computed from the very values the program parses."""
    pacsv.write_csv(table, path)
    return pacsv.read_csv(path)


# ----------------------------------------------------- expected answers


class TableFacts:
    """Expected answers for one CSV as `put` lays it out: its rows,
    partition keys in `readPartition` order, and aggregates."""

    def __init__(self, table: pa.Table, partitions: int, hash_col: str | None):
        self.table = table
        self.rows = table.num_rows
        self.id_col = table.column_names[0]
        keys = self._keys(partitions, hash_col)
        self.key_of_row = keys
        uniq, counts = np.unique(keys, return_counts=True)
        order = sorted(range(len(uniq)), key=lambda i: str(uniq[i]))
        self.keys = [str(uniq[i]) for i in order]
        self.key_rows = {str(uniq[i]): int(counts[i]) for i in order}
        self.numeric = [
            c
            for c in table.column_names
            if pa.types.is_integer(table[c].type) or pa.types.is_floating(table[c].type)
        ]

    def _keys(self, partitions: int, hash_col: str | None) -> np.ndarray:
        if hash_col is not None:
            col = self.table[hash_col]
            if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
                filled = pc.fill_null(col, 0)
            else:
                filled = pc.fill_null(col, "NULL")
            return np.array(pc.cast(filled, pa.string()).to_pylist(), dtype=object)
        # equal-width bins on the first column, in the same double
        # arithmetic as sources.ingest._range_partition_expr
        x = self.table.column(0).to_numpy(zero_copy_only=False).astype(np.float64)
        lo, hi = float(x.min()), float(x.max())
        if hi <= lo:
            return np.array(["index_0"] * len(x), dtype=object)
        width = (hi - lo) / partitions
        b = np.minimum(np.maximum(np.floor((x - lo) / width), 0), partitions - 1)
        return np.array([f"index_{int(v)}" for v in b], dtype=object)

    def ids(self, key: str | None = None) -> list[int]:
        """First-column values in ingest order, optionally of one partition."""
        ids = self.table.column(0).to_numpy(zero_copy_only=False)
        if key is None:
            return ids.tolist()
        return ids[self.key_of_row == key].tolist()

    def agg(self, kind: str, col: str, key: str | None = None) -> float | None:
        c = self.table[col]
        if key is not None:
            c = pc.filter(c, pa.array(self.key_of_row == key))
        if kind == "avg":
            v = pc.mean(c)
        else:
            v = pc.min_max(c)["max" if kind == "max" else "min"]
        return v.as_py()


# ---------------------------------------------------------------- corpus

CORPUS_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()


def write_corpus(seed: int, out_dir: str) -> None:
    """A parquet corpus with the schemas and sizes of the sf0.01 test
    data: ten tables, 60,000 lineitem rows."""
    r = rng(seed, "corpus")
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc = 1500, 100, 2000, 15000, 60000, 10000, 500

    def ts(start: str, days: int, n: int, sort: bool = False) -> pa.Array:
        us = r.integers(0, days * 86_400_000_000, n)
        if sort:
            us = np.sort(us)
        base = np.datetime64(start, "us")
        return pa.array((base + us.astype("timedelta64[us]")), pa.timestamp("us"))

    def day_ts(start: str, days: int, n: int) -> pa.Array:
        base = np.datetime64(start, "D")
        d = (base + r.integers(0, days, n)).astype("datetime64[us]")
        return pa.array(d, pa.timestamp("us"))

    def names(prefix: str, n: int) -> pa.Array:
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)])

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), i64),
                "c_name": names("Customer", n_cust),
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
                "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": r.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), i64),
                "s_name": names("Supplier", n_supp),
                "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
                "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), i64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        r.choice(["small", "red", "blue", "hot", "green", "big", "cold", "old"], n_part),
                        r.choice(["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "cog"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{v}" for v in r.integers(1, 26, n_part)],
                "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                "p_size": pa.array(r.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), i64),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": day_ts("1995-01-01", 2404, n_ord),
                "o_orderpriority": r.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
    }
    qty = r.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_line), 2),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], n_line),
            "l_linestatus": r.choice(["O", "F"], n_line),
            "l_shipdate": day_ts("1995-01-02", 2498, n_line),
        }
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), i64),
            "ts": ts("2024-01-01", 30, n_ev, sort=True),
            "user_id": pa.array(r.integers(0, 150, n_ev), i64),
            "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(r.uniform(0.01, 490.02, n_ev), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)],
        }
    )
    texts = [" ".join(r.choice(_WORDS, int(n))) for n in r.integers(8, 100, n_doc)]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), i64),
            "text": texts,
            "lang": r.choice(["en", "en", "de", "es", "fr", "zh"], n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    labels = r.integers(0, 10, n_doc)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 0.6, (n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_doc), i64),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

