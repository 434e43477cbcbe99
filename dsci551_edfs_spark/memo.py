"""Per-corpus memo store: parquet-backed "fit once, serve many" artifacts.

Iterative per-corpus artifacts — BFS hop tables, single-linkage labels,
the persisted IVF index layout — are computed once per corpus VERSION
and served from disk afterwards. The memo path is a pure function of
the memo tag plus the source tables' identity fingerprint (file size +
mtime under the sf_dir), so:

- a fresh process (the driver bench, a new judge session) RELOADS the
  settled artifact instead of rebuilding — steady-state cost is a
  (possibly partition-pruned) parquet read, and the bench can itemize
  build vs probe honestly;
- regenerating the test data invalidates the memo automatically (the
  fingerprint changes → a new path);
- caching a PATH rather than a DataFrame means nothing dies with the
  SparkSession that built it: `localCheckpoint` blocks are
  session-scoped, parquet files are not. (A DataFrame memo keyed only
  by sf_dir returned dead plans to later sessions in the same process.)

Builds are atomic: write into a pid-suffixed tmp dir, `os.rename` into
place. Concurrent builders race benignly — one rename wins, the loser
discards its tmp and reads the winner's artifact. A tmp dir whose pid
is no longer alive is a killed build; the next promote of its tag
sweeps it.

Session values (read plans, catalog declarations, small driver-side
fits) are cached in ONE place, `session_cached`: a store on the
SparkSession object, each entry checked against the version stamp of
the data it came from, so a rebuilt or regenerated source is a miss.

At 100 TB the same contract holds with the scratch root pointed at the
shared filesystem / object store the cluster already uses for shuffle
spill or checkpoints; the fingerprint generalizes to the table's
snapshot/commit id instead of local stat().
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import threading
import time
from typing import Callable, Hashable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def scratch_root() -> str:
    """The one scratch root every program write falls under:
    $SPARK_GRAFT_SCRATCH, else `.scratch` next to the package."""
    return os.environ.get(
        "SPARK_GRAFT_SCRATCH",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
        ),
    )


SCRATCH = scratch_root()

# seconds THIS process spent building each memo tag, accumulated over
# its builds and exclusive of memo builds nested inside them (0.0 when
# the artifact was already on disk), so sum(BUILD_SECONDS.values()) is
# the real build time whatever the call order. bench.py reads this to
# itemize once-per-corpus build cost apart from steady-state medians.
BUILD_SECONDS: dict[str, float] = {}
_BUILD_LOCK = threading.Lock()
# per thread: the nested-build seconds of each build in progress
_BUILDING = threading.local()

_SESSION_LOCK = threading.Lock()


def session_cached(
    spark: SparkSession, key: Hashable, stamp: Hashable, make: Callable[[], T]
) -> T:
    """The value ``make()`` built for ``key`` in this session, built
    again when ``stamp`` differs from the stamp stored with it. A
    ``None`` stamp (no version to check against) is never cached.

    The store is a dict on the session object, so it is freed with the
    session and a new session (``newSession()``) starts empty. ``make``
    runs outside the lock: two threads may both build on a miss, and
    the later one's value is kept.
    """
    if stamp is None:
        return make()
    with _SESSION_LOCK:
        store = spark.__dict__.setdefault("_edfs_session_store", {})
        hit = store.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = make()
    with _SESSION_LOCK:
        store[key] = (stamp, value)
    return value


def success_stamp(path: str) -> int | None:
    """mtime_ns of ``path``'s ``_SUCCESS`` marker: changes whenever the
    artifact is rebuilt; ``None`` when it is not there."""
    try:
        return os.stat(os.path.join(path, "_SUCCESS")).st_mtime_ns
    except OSError:
        return None


def corpus_fingerprint(sf_dir: str, tables: Sequence[str]) -> str:
    """Identity of the source tables: name + size + mtime_ns per file
    (recursing into directory-style parquet). Any regeneration of the
    test data changes this, which changes the memo path."""
    parts: list[str] = []
    for t in sorted(tables):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for fname in sorted(files):
                    st = os.stat(os.path.join(root, fname))
                    parts.append(f"{t}/{fname}:{st.st_size}:{st.st_mtime_ns}")
        else:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def memo_path(
    tag: str, sf_dir: str, tables: Sequence[str], version: int = 1
) -> str:
    """Deterministic per-(tag, corpus-version) directory under SCRATCH.
    The corpus NAME is part of the basename (not just the fingerprint
    hash) so stale-version pruning never crosses corpora — sf0.001
    (tests), sf0.01 (oracle gate) and sf0.1 (bench) memos coexist."""
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{corpus_fingerprint(sf_dir, tables)}"
        f"|v{version}".encode()
    ).hexdigest()[:12]
    corpus = os.path.basename(os.path.abspath(sf_dir).rstrip("/")) or "corpus"
    return os.path.join(SCRATCH, "memo", f"{tag}_{corpus}_{key}")


def is_ready(path: str, markers: Sequence[str] = ("_SUCCESS",)) -> bool:
    return all(os.path.isfile(os.path.join(path, m)) for m in markers)


def _promote(tmp: str, path: str) -> None:
    """Atomic tmp→final rename; losing a race to another builder is fine."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.exists(path):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise
    _prune_stale(path)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _prune_stale(keep_path: str) -> None:
    """Drop sibling memos of the same tag built against OLD corpus
    fingerprints (testdata regeneration changes the hash, so superseded
    artifacts would otherwise accumulate forever), and the tmp dirs of
    its builders whose pid is dead (a killed build leaves its
    ``.tmp.<pid>`` behind). A live pid's tmp dir is a concurrent build
    and is kept. Best-effort: a concurrent reader of a stale memo only
    exists if it is mid-migration across corpus versions, which the
    fingerprint contract already declares undefined."""
    parent, base = os.path.split(keep_path)
    tag = base.rsplit("_", 1)[0]
    try:
        siblings = os.listdir(parent)
    except OSError:
        return
    for d in siblings:
        stem, _, pid = d.partition(".tmp.")
        if d == base or stem.rsplit("_", 1)[0] != tag:
            continue
        if pid and (not pid.isdigit() or _pid_alive(int(pid))):
            continue
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


@contextlib.contextmanager
def _booked_build(tag: str):
    """Time one successful build of ``tag`` into BUILD_SECONDS[tag],
    minus the time of memo builds nested inside it (a layout whose
    build serves another memo): those are booked to their own tags."""
    stack = _BUILDING.__dict__.setdefault("stack", [])
    stack.append(0.0)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        nested = stack.pop()
    total = time.perf_counter() - t0
    if stack:
        stack[-1] += total
    with _BUILD_LOCK:
        BUILD_SECONDS[tag] = BUILD_SECONDS.get(tag, 0.0) + total - nested


def dataframe_memo(
    spark: SparkSession,
    tag: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], DataFrame],
    version: int = 1,
) -> DataFrame:
    """Serve `build()`'s result from a per-corpus parquet memo.

    On miss: run the (possibly iterative, checkpoint-heavy) build once,
    persist the SETTLED frame, and serve the parquet read — so every
    later caller, in any process or SparkSession, pays only the read.
    """
    path = memo_path(tag, sf_dir, tables, version=version)
    if not is_ready(path):
        with _booked_build(tag):
            tmp = f"{path}.tmp.{os.getpid()}"
            build().write.mode("overwrite").parquet(tmp)
            _promote(tmp, path)
    else:
        BUILD_SECONDS.setdefault(tag, 0.0)
    # the read plan costs a parquet-footer pass + a py4j analysis
    # round-trip per call; a rebuild (a dir wiped mid-session) writes a
    # new _SUCCESS, so a plan listing the deleted part files is a miss
    return session_cached(
        spark,
        ("dataframe_memo", path),
        success_stamp(path),
        lambda: spark.read.parquet(path),
    )


def layout_memo(
    tag: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[str], None],
    markers: Sequence[str],
    version: int = 1,
) -> str:
    """Serve a multi-directory on-disk LAYOUT (e.g. the IVF index:
    `buckets/` hive-partitioned corpus + `centroids/`) from the memo.
    `build(tmp_path)` writes the layout into tmp; `markers` are the
    layout-relative files whose presence means "complete"."""
    path = memo_path(tag, sf_dir, tables, version=version)
    if not is_ready(path, markers):
        with _booked_build(tag):
            tmp = f"{path}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            build(tmp)
            _promote(tmp, path)
    else:
        BUILD_SECONDS.setdefault(tag, 0.0)
    return path
