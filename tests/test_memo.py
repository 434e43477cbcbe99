"""Per-corpus memo store (dsci551_edfs_spark/memo.py): deterministic
paths, build-once/reload-forever, corpus-version invalidation, and the
cross-SparkSession survival that DataFrame-valued caches lacked."""

import os

import pytest

from dsci551_edfs_spark import memo as MEMO


@pytest.fixture()
def scratch(tmp_path, monkeypatch):
    monkeypatch.setattr(MEMO, "SCRATCH", str(tmp_path))
    MEMO.BUILD_SECONDS.clear()
    return str(tmp_path)


def test_scratch_root_follows_env(tmp_path):
    """One scratch root: with SPARK_GRAFT_SCRATCH set, the memo store,
    the query catalog's scratch dirs and their shared constant all land
    under it (a fresh interpreter, since the root is read at import)."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import json\n"
        "from dsci551_edfs_spark import memo, queries_base\n"
        "print(json.dumps([queries_base.SCRATCH, memo.SCRATCH,"
        " queries_base._scratch_dir('x')]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=root,
        env=dict(os.environ, SPARK_GRAFT_SCRATCH=str(tmp_path)),
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    qb, memo_root, made = json.loads(out.strip().splitlines()[-1])
    assert qb == memo_root == str(tmp_path)
    assert os.path.dirname(made) == str(tmp_path)
    assert os.path.basename(made).startswith("x_")


def test_memo_path_deterministic_and_version_sensitive(scratch, sf_dir):
    p1 = MEMO.memo_path("t", sf_dir, ["region"])
    assert p1 == MEMO.memo_path("t", sf_dir, ["region"])
    assert p1 != MEMO.memo_path("t", sf_dir, ["region"], version=2)
    assert p1 != MEMO.memo_path("t", sf_dir, ["nation"])
    assert p1.startswith(os.path.join(scratch, "memo"))


def test_fingerprint_tracks_source_mtime(scratch, sf_dir, tmp_path):
    # a copied corpus dir with touched mtimes fingerprints differently
    import shutil

    alt = tmp_path / "alt_sf"
    alt.mkdir()
    src = os.path.join(sf_dir, "region.parquet")
    dst = str(alt / "region.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    os.utime(dst, (1, 1))
    assert MEMO.corpus_fingerprint(sf_dir, ["region"]) != MEMO.corpus_fingerprint(
        str(alt), ["region"]
    )


def test_dataframe_memo_builds_once_then_reloads(scratch, spark, sf_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "node")

    df1 = MEMO.dataframe_memo(spark, "five", sf_dir, ["region"], build)
    assert MEMO.BUILD_SECONDS["five"] > 0
    df2 = MEMO.dataframe_memo(spark, "five", sf_dir, ["region"], build)
    assert calls == [1]  # second call served from disk
    assert sorted(r["node"] for r in df2.collect()) == [0, 1, 2, 3, 4]
    assert df1.schema == df2.schema


def test_dataframe_memo_served_across_build_failure_cleanup(
    scratch, spark, sf_dir
):
    # a failed build leaves no ready memo; the next build succeeds
    def bad():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        MEMO.dataframe_memo(spark, "flaky", sf_dir, ["region"], bad)
    assert not MEMO.is_ready(MEMO.memo_path("flaky", sf_dir, ["region"]))
    out = MEMO.dataframe_memo(
        spark, "flaky", sf_dir, ["region"], lambda: spark.range(2)
    )
    assert out.count() == 2


def test_layout_memo_markers_gate_readiness(scratch, spark, sf_dir):
    def build(tmp):
        spark.range(3).write.parquet(os.path.join(tmp, "a"))
        spark.range(4).write.parquet(os.path.join(tmp, "b"))

    path = MEMO.layout_memo(
        "lay", sf_dir, ["region"], build, markers=("a/_SUCCESS", "b/_SUCCESS")
    )
    assert MEMO.BUILD_SECONDS["lay"] > 0
    assert spark.read.parquet(os.path.join(path, "b")).count() == 4
    MEMO.BUILD_SECONDS.clear()
    path2 = MEMO.layout_memo(
        "lay", sf_dir, ["region"], build, markers=("a/_SUCCESS", "b/_SUCCESS")
    )
    assert path2 == path and MEMO.BUILD_SECONDS["lay"] == 0.0


def test_nested_build_seconds_count_once(scratch, spark, sf_dir):
    """A layout whose build serves another memo (shingle_posting over
    shingle_sets): each tag books only its own build seconds, so the
    tags sum to no more than the wall time that actually ran."""
    import time

    def inner():
        time.sleep(0.5)
        return spark.range(3)

    def outer(tmp):
        served = MEMO.dataframe_memo(spark, "inner", sf_dir, ["region"], inner)
        served.write.parquet(tmp)

    t0 = time.perf_counter()
    MEMO.layout_memo("outer", sf_dir, ["region"], outer, markers=("_SUCCESS",))
    wall = time.perf_counter() - t0
    assert MEMO.BUILD_SECONDS["inner"] >= 0.5
    assert MEMO.BUILD_SECONDS["outer"] > 0
    assert MEMO.BUILD_SECONDS["inner"] + MEMO.BUILD_SECONDS["outer"] <= wall


def test_build_seconds_exact_across_threads(scratch, monkeypatch):
    """16 threads each book 200 nested builds on a per-thread fake clock
    that ticks 1 s per read: every inner build books 1 s and every
    outer 2 s, so a lost update, or a nesting stack shared between
    threads, breaks the exact totals."""
    import sys
    import threading
    import types

    ticks = threading.local()

    def perf_counter():
        ticks.n = getattr(ticks, "n", 0) + 1
        return float(ticks.n)

    monkeypatch.setattr(MEMO, "time", types.SimpleNamespace(perf_counter=perf_counter))

    def work():
        for _ in range(200):
            with MEMO._booked_build("outer"):
                with MEMO._booked_build("inner"):
                    pass

    threads = [threading.Thread(target=work) for _ in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert MEMO.BUILD_SECONDS == {"inner": 3200.0, "outer": 6400.0}


def test_stale_fingerprint_pruned_same_corpus_only(scratch, spark, sf_dir, tmp_path):
    """Regenerated test data changes the fingerprint → the superseded
    memo is GC'd on the next build; memos of the SAME tag for OTHER
    corpora (tests sf0.001 / gate sf0.01 / bench sf0.1 coexist) are
    never touched."""
    import shutil as _sh

    # a second corpus with the same table but different mtime
    alt = tmp_path / "sfalt"
    alt.mkdir()
    src = os.path.join(sf_dir, "region.parquet")
    dst = str(alt / "region.parquet")
    (_sh.copytree if os.path.isdir(src) else _sh.copy)(src, dst)

    build = lambda: spark.range(3)  # noqa: E731
    p_main = MEMO.memo_path("gc", sf_dir, ["region"])
    p_alt = MEMO.memo_path("gc", str(alt), ["region"])
    MEMO.dataframe_memo(spark, "gc", sf_dir, ["region"], build)
    MEMO.dataframe_memo(spark, "gc", str(alt), ["region"], build)
    assert MEMO.is_ready(p_main) and MEMO.is_ready(p_alt)

    # "regenerate" the alt corpus: new mtime → new fingerprint → rebuild
    os.utime(dst, (2, 2))
    p_alt2 = MEMO.memo_path("gc", str(alt), ["region"])
    assert p_alt2 != p_alt
    MEMO.dataframe_memo(spark, "gc", str(alt), ["region"], build)
    assert MEMO.is_ready(p_alt2)
    assert not os.path.exists(p_alt)  # stale version of SAME corpus GC'd
    assert MEMO.is_ready(p_main)  # other corpus untouched


def test_load_table_plan_cache_identity(spark, sf_dir, tmp_path):
    """load_table resolves a table to ONE DataFrame per (session,
    table version) — the r9 plan cache that removed ~0.1 s of py4j
    re-resolution per mention across the bench suite. A new session
    resolves its own plan, and rewriting a table's file is a new
    version."""
    import shutil

    from dsci551_edfs_spark.sources.registry import load_table

    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a is b
    c = load_table(spark, sf_dir, "region")
    assert c is not a
    # a different sf_dir spelling of the same path still hits (abspath
    # normalization)
    d = load_table(spark, sf_dir.rstrip("/") + "/", "nation")
    assert d is a

    other = spark.newSession()
    e = load_table(other, sf_dir, "nation")
    assert e is not a and e.sparkSession is other
    assert load_table(other, sf_dir, "nation") is e
    assert load_table(spark, sf_dir, "nation") is a

    alt = tmp_path / "alt_sf"
    alt.mkdir()
    src = os.path.join(sf_dir, "nation.parquet")
    dst = str(alt / "nation.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    f = load_table(spark, str(alt), "nation")
    assert load_table(spark, str(alt), "nation") is f
    os.utime(dst, (1, 1))
    g = load_table(spark, str(alt), "nation")
    assert g is not f
    assert g.count() == a.count()


def test_session_cached_stamps_and_sessions(spark):
    """memo.session_cached: one value per (session, key), rebuilt when
    the stamp changes, never cached under a None stamp."""
    made = []

    def make():
        made.append(1)
        return len(made)

    key = ("test_session_cached", object())
    assert MEMO.session_cached(spark, key, "v1", make) == 1
    assert MEMO.session_cached(spark, key, "v1", make) == 1
    assert MEMO.session_cached(spark, key, "v2", make) == 2
    assert MEMO.session_cached(spark, key, None, make) == 3
    assert MEMO.session_cached(spark, key, None, make) == 4
    assert MEMO.session_cached(spark, key, "v2", make) == 2
    assert MEMO.session_cached(spark.newSession(), key, "v2", make) == 5


def test_session_cached_threads_lose_no_entry(spark):
    """16 threads (more than cores) fill one fresh session's store with
    a shortened switch interval: every key written is there afterwards,
    so neither the store's creation nor an insert is lost."""
    import sys
    import threading

    fresh = spark.newSession()
    n_threads, n_keys = 16, 200
    start = threading.Barrier(n_threads)

    def fill(t):
        start.wait(timeout=60)
        for i in range(n_keys):
            MEMO.session_cached(fresh, ("stress", t, i), 0, lambda: (t, i))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fill, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)

    def missing():
        raise AssertionError("entry lost")

    for t in range(n_threads):
        for i in range(n_keys):
            assert MEMO.session_cached(fresh, ("stress", t, i), 0, missing) == (t, i)


def test_dataframe_memo_wiped_and_rebuilt(scratch, spark, sf_dir):
    """A memo dir deleted mid-session is rebuilt, and the read plan
    served after it lists the new files, not the deleted ones."""
    import shutil

    def build():
        return spark.range(7)

    first = MEMO.dataframe_memo(spark, "wipe", sf_dir, ["region"], build)
    assert first.count() == 7
    shutil.rmtree(MEMO.memo_path("wipe", sf_dir, ["region"]))
    again = MEMO.dataframe_memo(spark, "wipe", sf_dir, ["region"], build)
    assert again.count() == 7


def test_text_layout_wiped_and_rebuilt(scratch, spark, sf_dir):
    """A bucketed text layout deleted mid-session is rebuilt AND
    re-declared: the session's catalog entry over the old files would
    fail with FILE_NOT_EXIST."""
    import glob
    import shutil

    from dsci551_edfs_spark.sources.shared_text_layout import token_tf

    n = token_tf(spark, sf_dir).count()
    (layout,) = glob.glob(os.path.join(scratch, "memo", "tok_tf_b16_*"))
    shutil.rmtree(layout)
    assert token_tf(spark, sf_dir).count() == n


def test_promote_sweeps_dead_builders_tmp_dirs(scratch, spark, sf_dir):
    """A killed build leaves ``<memo>.tmp.<pid>`` behind; the next
    promote of the tag removes it when that pid is dead, and keeps the
    tmp dir of a live pid (a concurrent builder)."""
    import subprocess
    import sys

    path = MEMO.memo_path("sweep", sf_dir, ["region"])
    gone = subprocess.Popen([sys.executable, "-c", "pass"])
    gone.wait()
    dead_tmp = f"{path}.tmp.{gone.pid}"
    live_tmp = f"{path}.tmp.{os.getppid()}"
    os.makedirs(dead_tmp)
    os.makedirs(live_tmp)
    MEMO.dataframe_memo(spark, "sweep", sf_dir, ["region"], lambda: spark.range(1))
    assert MEMO.is_ready(path)
    assert not os.path.exists(dead_tmp)
    assert os.path.isdir(live_tmp)


def test_spread_small_parallelizes_single_partition(spark, sf_dir):
    """spread_small fans a tiny (one-split-sized) frame out to default
    parallelism and leaves LARGE frames untouched (no extra shuffle at
    scale). Since optimization r14 the small/large decision comes from
    Catalyst's sizeInBytes estimate vs maxPartitionBytes — not from a
    df.rdd.getNumPartitions() probe, which cost a full plan→RDD
    conversion on the driver per call (guide §7.3, the r13
    derive_rank_partitions fix applied to this helper's many callers)."""
    from dsci551_edfs_spark.plans.hints import spread_small

    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    sp = spread_small(one)
    assert sp.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sp.count() == 100
    # estimate 8 B/row × 3e8 rows ≈ 2.4 GB ≥ parallelism/4 input splits
    # at the default 128 MB split size for any parallelism ≤ 75: stays
    # untouched without ever planning an RDD (plan-only assertion)
    wide = spark.range(300_000_000).repartition(
        spark.sparkContext.defaultParallelism
    )
    assert spread_small(wide) is wide
