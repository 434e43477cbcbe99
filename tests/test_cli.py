"""EDFS shell end-to-end: the full Terminal.js command grammar driven
through one session against a scratch warehouse (mkdir → put → ls → cat →
getPartitionLocations → readPartition → aggregates → rm)."""

import contextlib
import csv
import io
import os
import shutil
import sys
import tempfile
import threading
import uuid

import pytest

from dsci551_edfs_spark import memo as MEMO
from dsci551_edfs_spark.cli import EdfsShell, main
from dsci551_edfs_spark.sources.registry import load_table

SCRATCH = os.path.join(MEMO.SCRATCH, "test_cli")


@pytest.fixture(scope="module")
def shell(spark):
    os.makedirs(SCRATCH, exist_ok=True)
    warehouse = tempfile.mkdtemp(prefix="wh_", dir=SCRATCH)
    yield EdfsShell(spark, warehouse)
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="module")
def nation_csv(spark, sf_dir):
    path = os.path.join(SCRATCH, "nation.csv")
    load_table(spark, sf_dir, "nation").toPandas().to_csv(path, index=False)
    return path


def test_full_session(shell, nation_csv):
    assert shell.execute("mkdir /data")["status"] == "EDFS200"
    out = shell.execute(f"put {nation_csv} /data/nation.csv 4 n_regionkey")
    assert out["status"] == "EDFS200"

    ls = shell.execute("ls /data")
    assert ls["status"] == "EDFS200"
    assert "nation.csv" in ls["response"]

    cat = shell.execute("cat /data/nation.csv")
    rows = list(csv.DictReader(io.StringIO(cat["response"])))
    assert len(rows) == 25
    # row order restored via the injected index column; index not exposed
    assert rows[0]["n_name"] is not None and "index" not in rows[0]

    locs = shell.execute("getPartitionLocations /data/nation.csv")
    assert locs["status"] == "EDFS200" and len(locs["response"]) >= 1

    part1 = shell.execute("readPartition /data/nation.csv 1")
    n_part1 = len(list(csv.DictReader(io.StringIO(part1["response"]))))
    assert 0 < n_part1 < 25

    avg = shell.execute("getAvg /data/nation.csv n_regionkey")
    assert avg["status"] == "EDFS200"
    assert avg["response"]["result"] == "The overall average is 2.000"

    mx = shell.execute("getMax /data/nation.csv n_regionkey true")
    assert mx["response"]["result"] == "The overall maximum is 4.000"
    assert len(mx["response"]["partitions"]) >= 1  # debug channel

    pruned = shell.execute("getAvg /data/nation.csv n_nationkey false 0")
    assert pruned["status"] == "EDFS200"  # hash partition pruning path

    assert shell.execute("rm /data/nation.csv")["status"] == "EDFS200"
    assert shell.execute("cat /data/nation.csv")["status"] == "EDFS400"


def test_errors(shell):
    assert shell.execute("cat /nope")["status"] == "EDFS400"
    assert shell.execute("frobnicate x")["status"] == "EDFS400"
    assert shell.execute("getAvg /nope")["status"] == "EDFS400"
    assert shell.execute("")["status"] == "EDFS200"


def test_hardcoded_column_aliases(shell):
    """Reference surface parity: getAvgFamilyIncome / firebase_getAvgGripStrn
    bind their NHANES column server-side (fs_commands.py:396-460,
    proj-firebase-flask.py:637-703)."""
    path = os.path.join(SCRATCH, "nhanes.csv")
    with open(path, "w") as f:
        f.write("SEQN,INDFMIN2,DMDYRSUS,MGDCGSZ,BMXARMC\n")
        for i in range(10):
            f.write(f"{i},{10 + i},{i % 5},{30 + i},{25 + i}\n")
    assert shell.execute("mkdir /nhanes")["status"] == "EDFS200"
    assert shell.execute(f"put {path} /nhanes/demo.csv 2 SEQN")["status"] == "EDFS200"

    out = shell.execute("getAvgFamilyIncome /nhanes/demo.csv")
    assert out["response"]["result"] == "The overall average is 14.500"
    out = shell.execute("getAvgTimeInUS /nhanes/demo.csv")
    assert out["response"]["result"] == "The overall average is 2.000"
    out = shell.execute("firebase_getAvgGripStrn /nhanes/demo.csv true")
    assert out["response"]["result"] == "The overall average is 34.500"
    assert len(out["response"]["partitions"]) >= 1  # debug channel works
    out = shell.execute("firebase_getAvgArmCircum /nhanes/demo.csv")
    assert out["response"]["result"] == "The overall average is 29.500"


def test_clear_and_repl_loop(shell):
    """`clear` completes the 11-command Terminal.js grammar: execute()
    returns an action envelope, and the REPL acts on it terminal-side
    (ANSI clear) instead of printing JSON — then exits cleanly on both
    'exit' and EOF."""
    from dsci551_edfs_spark.cli import CLEAR_SEQ, repl

    out = shell.execute("clear")
    assert out["status"] == "EDFS200"
    assert out["response"] == {"action": "clear"}

    lines = iter(["ls /", "clear", "exit"])
    writes = []
    assert repl(shell, input_fn=lambda _: next(lines), write=writes.append) == 0
    assert len(writes) == 2  # ls envelope + clear sequence, no post-exit writes
    assert "Found" in writes[0] or "EDFS" in writes[0]
    assert writes[1] == CLEAR_SEQ

    # EOF (ctrl-d) ends the loop without error
    def eof(_):
        raise EOFError

    assert repl(shell, input_fn=eof, write=writes.append) == 0


def test_cat_emit_is_bounded_and_capped(shell, nation_csv, monkeypatch):
    """The CSV emit path must not driver-materialize the table: it
    collects at most `max_csv_rows + 1` rows (toPandas would collect
    everything), and the row cap truncates with an explicit marker after
    the FIRST rows in ingest order."""
    import dsci551_edfs_spark.cli as CLI

    shell.execute("mkdir /cap")
    assert shell.execute(f"put {nation_csv} /cap/nation.csv 4 n_regionkey")[
        "status"
    ] == "EDFS200"

    # structural: the emit path never calls DataFrame.toPandas
    def _boom(self, *a, **k):
        raise AssertionError("emit path must not driver-materialize via toPandas")

    from pyspark.sql import DataFrame

    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    full = shell.execute("cat /cap/nation.csv")
    assert full["status"] == "EDFS200"
    assert len(list(csv.DictReader(io.StringIO(full["response"])))) == 25

    # capped: 10-row limit on a 25-row table → 10 rows + truncation marker
    monkeypatch.setattr(CLI.EdfsShell, "max_csv_rows", 10)
    capped = shell.execute("cat /cap/nation.csv")
    body = capped["response"]
    assert "# truncated at 10 rows" in body
    data_lines = [
        l for l in body.strip().splitlines()[1:] if not l.startswith("#")
    ]
    assert [l.split(",")[0] for l in data_lines] == [str(i) for i in range(10)]
    part = shell.execute("readPartition /cap/nation.csv 1")
    assert part["status"] == "EDFS200"
    shell.execute("rm /cap/nation.csv")


#: a CSV with a null, quoted strings holding commas and double quotes, a
#: date, a missing date and doubles that print as `57.0`. `put` reads a
#: doubled `""` inside a quoted field as one quote, and the emit quotes
#: the value again, so those rows round-trip byte for byte
GOLDEN_CSV = (
    "id,name,born,score,note\n"
    '1,"Smith, ""Jr""",2001-02-03,57.0,\n'
    "2,plain,2019-12-31,1.5,x\n"
    '3,,2020-01-01,-0.25,"a,b"\n'
    '4,"say ""hi""",,100.0,y\n'
)
GOLDEN_HEADER = "id,name,born,score,note\n"
GOLDEN_ROWS = [
    '1,"Smith, ""Jr""",2001-02-03,57.0,\n',
    "2,plain,2019-12-31,1.5,x\n",
    '3,,2020-01-01,-0.25,"a,b"\n',
    '4,"say ""hi""",,100.0,y\n',
]


def test_emit_text_is_golden(shell, monkeypatch):
    """`cat` and `readPartition` text, byte for byte: clients compare the
    ids and the ingest order of these rows, so the emit must not change
    by one byte (header, quoting, null and number formatting, order,
    the truncation marker)."""
    import dsci551_edfs_spark.cli as CLI

    path = os.path.join(SCRATCH, "golden.csv")
    with open(path, "w") as f:
        f.write(GOLDEN_CSV)
    assert shell.execute(f"put {path} /golden/t.csv 2")["status"] == "EDFS200"

    def text(cmd):
        out = shell.execute(cmd)
        assert out["status"] == "EDFS200", out
        return out["response"]

    assert text("cat /golden/t.csv") == GOLDEN_HEADER + "".join(GOLDEN_ROWS)
    assert text("readPartition /golden/t.csv 1") == GOLDEN_HEADER + "".join(GOLDEN_ROWS[:2])
    assert text("readPartition /golden/t.csv 2") == GOLDEN_HEADER + "".join(GOLDEN_ROWS[2:])

    monkeypatch.setattr(CLI.EdfsShell, "max_csv_rows", 2)
    assert text("cat /golden/t.csv") == (
        GOLDEN_HEADER + "".join(GOLDEN_ROWS[:2]) + "# truncated at 2 rows\n"
    )
    assert text("readPartition /golden/t.csv 2") == GOLDEN_HEADER + "".join(GOLDEN_ROWS[2:])
    shell.execute("rm /golden/t.csv")


def test_cli_query_dispatch(shell):
    """`query <name>` runs any registered catalog query (bounded emit);
    `queries` lists the registry with rows-only markers."""
    out = shell.execute("query pmr_avg /root/testdata/sf0.001")
    assert out["status"] == "EDFS200"
    assert "avg_qty" in out["response"]
    listing = shell.execute("queries")
    assert listing["status"] == "EDFS200"
    assert "pmr_avg" in listing["response"]
    # a genuinely non-SQL query carries the marker; an oracle-backed one
    # must NOT (ann_ivf_topk gained its full oracle in round 8,
    # bpe_train_merges in round 9)
    assert "embedding_pca_project  (rows-only)" in listing["response"]
    assert "ann_ivf_topk  (rows-only)" not in listing["response"]
    assert "bpe_train_merges  (rows-only)" not in listing["response"]
    bad = shell.execute("query no_such_thing")
    assert bad["status"] != "EDFS200"


# ------------------------------------------------ table-handle freshness


def _write_csv(name: str, values: list[int]) -> str:
    """A tiny CSV `id,g,v` with g alternating 0/1 and the given v's."""
    path = os.path.join(SCRATCH, name)
    with open(path, "w") as f:
        f.write("id,g,v\n")
        for i, v in enumerate(values):
            f.write(f"{i},{i % 2},{v}\n")
    return path


def _avg(shell, path: str, col: str = "v") -> str:
    out = shell.execute(f"getAvg {path} {col}")
    assert out["status"] == "EDFS200", out
    return out["response"]["result"]


def _values(shell, cmd: str) -> list[str]:
    """The `v` column of an emit's CSV rows, in order."""
    out = shell.execute(cmd)
    assert out["status"] == "EDFS200", (cmd, out)
    return [r["v"] for r in csv.DictReader(io.StringIO(out["response"]))]


def test_overwriting_put_is_read_fresh(shell):
    first = _write_csv("fresh_1.csv", [1, 2, 3])
    second = _write_csv("fresh_2.csv", [10, 20, 30])
    assert shell.execute(f"put {first} /fresh/t.csv 2 g")["status"] == "EDFS200"
    assert _avg(shell, "/fresh/t.csv") == "The overall average is 2.000"
    assert _values(shell, "cat /fresh/t.csv") == ["1", "2", "3"]
    assert _values(shell, "readPartition /fresh/t.csv 1") == ["1", "3"]
    assert shell.execute(f"put {second} /fresh/t.csv 2 g")["status"] == "EDFS200"
    assert _avg(shell, "/fresh/t.csv") == "The overall average is 20.000"
    # the emitted text is the new version's, not the old one kept
    assert _values(shell, "cat /fresh/t.csv") == ["10", "20", "30"]
    assert _values(shell, "readPartition /fresh/t.csv 1") == ["10", "30"]


def test_rm_drops_the_handle(shell):
    two_keys = _write_csv("rm_1.csv", [1, 2, 3, 4])
    one_key = _write_csv("rm_2.csv", [7])  # only g=0
    assert shell.execute(f"put {two_keys} /gone/t.csv 2 g")["status"] == "EDFS200"
    assert _avg(shell, "/gone/t.csv") == "The overall average is 2.500"
    assert _values(shell, "readPartition /gone/t.csv 1") == ["1", "3"]
    assert _values(shell, "readPartition /gone/t.csv 2") == ["2", "4"]
    assert _values(shell, "cat /gone/t.csv") == ["1", "2", "3", "4"]

    assert shell.execute("rm /gone/t.csv")["status"] == "EDFS200"
    assert shell.execute("cat /gone/t.csv")["status"] == "EDFS400"
    assert shell.execute("readPartition /gone/t.csv 1")["status"] == "EDFS400"

    assert shell.execute(f"put {one_key} /gone/t.csv 2 g")["status"] == "EDFS200"
    assert _avg(shell, "/gone/t.csv") == "The overall average is 7.000"
    # partition keys and text come from the new version too: one key left
    assert _values(shell, "readPartition /gone/t.csv 1") == ["7"]
    assert _values(shell, "cat /gone/t.csv") == ["7"]
    assert shell.execute("readPartition /gone/t.csv 2")["status"] == "EDFS400"


def test_put_from_another_shell_is_seen(spark, shell):
    old = _write_csv("other_1.csv", [1, 2, 3, 4])
    new = _write_csv("other_2.csv", [5])
    assert shell.execute(f"put {old} /shared/t.csv 2 g")["status"] == "EDFS200"
    assert _avg(shell, "/shared/t.csv") == "The overall average is 2.500"
    assert _values(shell, "readPartition /shared/t.csv 1") == ["1", "3"]
    assert _values(shell, "readPartition /shared/t.csv 2") == ["2", "4"]
    assert _values(shell, "cat /shared/t.csv") == ["1", "2", "3", "4"]
    mx = shell.execute("getMax /shared/t.csv v true")["response"]
    assert mx["result"] == "The overall maximum is 4.000"
    assert [p["size"] for p in mx["partitions"]] == [2, 2]

    other = EdfsShell(spark, shell.catalog.warehouse)
    assert other.execute(f"put {new} /shared/t.csv 2 g")["status"] == "EDFS200"
    assert _avg(shell, "/shared/t.csv") == "The overall average is 5.000"
    assert _values(shell, "cat /shared/t.csv") == ["5"]
    assert _values(shell, "readPartition /shared/t.csv 1") == ["5"]
    assert shell.execute("readPartition /shared/t.csv 2")["status"] == "EDFS400"
    mx = shell.execute("getMax /shared/t.csv v true")["response"]
    assert mx["result"] == "The overall maximum is 5.000"
    assert mx["partitions"] == [{"partition": 1, "partial": 5, "size": 1}]
    locations = shell.execute("getPartitionLocations /shared/t.csv")["response"]
    assert locations == {"partitions": {1: {"key": "0", "rows": 1}}}

    assert other.execute("rm /shared/t.csv")["status"] == "EDFS200"
    for cmd in ("getAvg /shared/t.csv v", "getMax /shared/t.csv v true",
                "getPartitionLocations /shared/t.csv"):
        assert shell.execute(cmd)["status"] == "EDFS400", cmd


def _put_table(spark, shell, kind: str) -> tuple[str, list[int]]:
    """A table of `kind` in the shell's warehouse: its path and the `v`
    values of its rows, in ingest order."""
    from dsci551_edfs_spark.sources.ingest import put_dataframe

    path = f"/numbering/{kind}"
    dest = shell.catalog.table_path(path)
    if kind == "hash_null_key":
        # "" is written as Hive's default partition: a null key
        rows = [("x", 1), ("", 5), ("y", 2), ("x", 7)]
        put_dataframe(spark.createDataFrame(rows, "k string, v int"), dest, 3, "k")
    elif kind == "range_bins":
        rows = [(i, 10 * i) for i in range(10)]
        put_dataframe(spark.createDataFrame(rows, "id int, v int"), dest, 3)
    else:  # a parquet table without a partition column
        rows = [(i, 3 * i) for i in range(5)]
        spark.createDataFrame(rows, "id int, v int").coalesce(1).write.mode("overwrite").parquet(dest)
    return path, [r[1] for r in rows]


@pytest.mark.parametrize("kind", ["hash_null_key", "range_bins", "unpartitioned"])
def test_partition_numbering_agrees(spark, shell, kind):
    """`getPartitionLocations`, the `debug` channel and `readPartition
    1..n` number the same partitions in the same order with the same row
    counts, also for a null partition key and a table without a
    partition column; `readPartition n+1` is a user error."""
    path, values = _put_table(spark, shell, kind)
    locations = shell.execute(f"getPartitionLocations {path}")["response"]["partitions"]
    n = len(locations)
    assert list(locations) == list(range(1, n + 1))
    debug = shell.execute(f"getMax {path} v true")["response"]["partitions"]
    assert [(d["partition"], d["size"]) for d in debug] == [(i, loc["rows"]) for i, loc in locations.items()]

    read = []
    for i in range(1, n + 1):
        out = shell.execute(f"readPartition {path} {i}")
        assert out["status"] == "EDFS200", (i, out)
        rows = list(csv.DictReader(io.StringIO(out["response"])))
        assert len(rows) == locations[i]["rows"], (i, out)
        read += [int(r["v"]) for r in rows]
    assert sorted(read) == sorted(values)
    if n == 1:
        assert read == values  # the whole table, in ingest order
    assert shell.execute(f"readPartition {path} {n + 1}")["status"] == "EDFS400"
    shell.execute(f"rm {path}")


def test_default_warehouse_follows_scratch_env(spark, tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    assert main(["--", "mkdir", "/m"]) == 0
    assert '"EDFS200"' in capsys.readouterr().out
    assert (tmp_path / "warehouse" / "m").is_dir()


# ------------------------------------------------------- job counts


@contextlib.contextmanager
def _job_group(spark):
    """Run the block's Spark jobs in a fresh job group; yields a callable
    returning how many jobs the group has launched so far."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_warm_aggregates_run_no_jobs(spark, shell):
    path = os.path.join(SCRATCH, "jobs_nhanes.csv")
    with open(path, "w") as f:
        f.write("SEQN,g,INDFMIN2\n")
        for i in range(12):
            f.write(f"{i},{i % 3},{10 + i}\n")
    assert shell.execute(f"put {path} /jobs/agg.csv 3 g")["status"] == "EDFS200"
    with _job_group(spark) as jobs:
        assert _avg(shell, "/jobs/agg.csv", "INDFMIN2") == "The overall average is 15.500"
        first = jobs()
    # a new table version maps its partials once; every aggregate, its
    # debug channel and the partition map are then answered from them
    assert first >= 1
    for cmd in (
        "getAvg /jobs/agg.csv INDFMIN2",
        "getMax /jobs/agg.csv INDFMIN2 false 1",
        "getMin /jobs/agg.csv INDFMIN2 true",
        "getAvgFamilyIncome /jobs/agg.csv",
        "getPartitionLocations /jobs/agg.csv",
    ):
        with _job_group(spark) as jobs:
            assert shell.execute(cmd)["status"] == "EDFS200", cmd
            assert jobs() == 0, cmd
    with _job_group(spark) as jobs:
        _avg(EdfsShell(spark, shell.catalog.warehouse), "/jobs/agg.csv", "INDFMIN2")
        cold = jobs()
    # a shell that has not read the table yet pays schema inference and
    # the map step
    assert cold > 0


def test_warm_read_partition_runs_no_job_before_emit(spark, shell, nation_csv, monkeypatch):
    assert shell.execute(f"put {nation_csv} /jobs/rp.csv 4 n_regionkey")[
        "status"
    ] == "EDFS200"
    assert shell.execute("readPartition /jobs/rp.csv 1")["status"] == "EDFS200"

    before_emit = []
    with _job_group(spark) as jobs:
        monkeypatch.setattr(
            EdfsShell, "_emit_csv", lambda self, df: before_emit.append(jobs()) or ""
        )
        assert shell.execute("readPartition /jobs/rp.csv 2")["status"] == "EDFS200"
    assert before_emit == [0]


def test_read_partition_after_aggregate_runs_no_job_before_emit(spark, shell, nation_csv, monkeypatch):
    assert shell.execute(f"put {nation_csv} /jobs/agg_rp.csv 4 n_regionkey")[
        "status"
    ] == "EDFS200"
    _avg(shell, "/jobs/agg_rp.csv", "n_nationkey")  # maps the partials

    before_emit = []
    with _job_group(spark) as jobs:
        monkeypatch.setattr(
            EdfsShell, "_emit_csv", lambda self, df: before_emit.append(jobs()) or ""
        )
        assert shell.execute("readPartition /jobs/agg_rp.csv 1")["status"] == "EDFS200"
    # the partition keys come from the partials: no second metadata job
    assert before_emit == [0]


def _emit_jobs(spark, shell, cmd: str) -> tuple[str, list[int]]:
    """Run an emit command in a fresh job group: its text and the stage
    count of each job it ran."""
    sc = spark.sparkContext
    with _job_group(spark):
        group = sc.getLocalProperty("spark.jobGroup.id")
        out = shell.execute(cmd)
    assert out["status"] == "EDFS200", (cmd, out)
    tracker = sc.statusTracker()
    return out["response"], [len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group)]


def test_warm_emits_run_one_job_with_one_stage(spark, shell, nation_csv):
    """Once the partials are mapped, the first `readPartition` or `cat` of
    a table version is one bounded top-k job (`TakeOrderedAndProject`)
    with one stage: no range-sampling job and no shuffle, as a full sort
    read through `toLocalIterator` would add. Its text is kept on the
    table handle, so an identical repeat runs no job."""
    assert shell.execute(f"put {nation_csv} /jobs/emit.csv 4 n_regionkey")[
        "status"
    ] == "EDFS200"
    assert shell.execute("getPartitionLocations /jobs/emit.csv")["status"] == "EDFS200"
    for cmd in ("readPartition /jobs/emit.csv 2", "readPartition /jobs/emit.csv 3", "cat /jobs/emit.csv"):
        first, stages = _emit_jobs(spark, shell, cmd)
        assert stages == [1], cmd
        again, stages = _emit_jobs(spark, shell, cmd)
        assert again == first and stages == [], cmd


def test_emit_texts_are_kept_within_the_row_cap(spark, shell, nation_csv, monkeypatch):
    """A handle keeps emitted texts while the rows summed over them stay
    within `max_csv_rows`; an emit past that budget is served whole but
    not kept, so its repeat runs its job again."""
    monkeypatch.setattr(EdfsShell, "max_csv_rows", 30)
    assert shell.execute(f"put {nation_csv} /budget/n.csv 4 n_regionkey")[
        "status"
    ] == "EDFS200"
    locations = shell.execute("getPartitionLocations /budget/n.csv")["response"]["partitions"]
    assert [loc["rows"] for loc in locations.values()] == [5] * 5

    texts = {}
    for cmd, rows in (("cat /budget/n.csv", 25), ("readPartition /budget/n.csv 1", 5),
                      ("readPartition /budget/n.csv 2", 5)):
        texts[cmd], stages = _emit_jobs(spark, shell, cmd)
        assert stages == [1], cmd
        assert len(list(csv.DictReader(io.StringIO(texts[cmd])))) == rows, cmd
        assert "# truncated" not in texts[cmd], cmd
    # 25 + 5 rows fill the budget of 30: the third text is not kept
    for cmd, jobs in (("cat /budget/n.csv", 0), ("readPartition /budget/n.csv 1", 0),
                      ("readPartition /budget/n.csv 2", 1)):
        again, stages = _emit_jobs(spark, shell, cmd)
        assert again == texts[cmd] and len(stages) == jobs, cmd
    shell.execute("rm /budget/n.csv")


def test_concurrent_first_emits_run_one_job(shell, nation_csv, monkeypatch):
    """Concurrent first callers of one emit on a fresh table version wait
    for one emit and get the same text."""
    assert shell.execute(f"put {nation_csv} /race/n.csv 4 n_regionkey")[
        "status"
    ] == "EDFS200"
    emits = []
    emit_csv = EdfsShell._emit_csv

    def counted(self, df):
        emits.append(df)
        return emit_csv(self, df)

    monkeypatch.setattr(EdfsShell, "_emit_csv", counted)
    start = threading.Barrier(8, timeout=60)
    outs = [None] * 8

    def read(i):
        start.wait()
        outs[i] = shell.run("readPartition", ["/race/n.csv", "3"])

    threads = [threading.Thread(target=read, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(o is not None and o["status"] == "EDFS200" for o in outs), outs
    assert len({o["response"] for o in outs}) == 1
    assert len(list(csv.DictReader(io.StringIO(outs[0]["response"])))) == 5
    assert len(emits) == 1
    shell.execute("rm /race/n.csv")
