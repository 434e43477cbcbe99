"""bench.py contract lints — cheap import-level checks that the driver's
evidence pipeline cannot silently rot: every HEADLINE name resolves,
the r1-comparable subset stays frozen (it is the ONLY cross-round
comparable number), and the `@q` memo/split declarations match the
code they describe."""

import importlib
import os
import sys


def _bench():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return importlib.import_module("bench")


# the round-1 suite: the first 25 HEADLINE entries, frozen forever —
# reordering or replacing any of them silently breaks the
# value_r1_comparable_25q series every VERDICT compares against BASELINE
R1_SET = [
    "pmr_avg_pruned",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "join_region_revenue",
    "window_topk_orders",
    "topk_orders_global",
    "events_tumbling_window",
    "dedup_exact_groups",
    "minhash_dedup_pairs",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "embedding_dup_pairs",
    "embedding_dup_pairs_lsh",
    "ann_brute_force_topk",
    "text_stats",
    "lang_id",
    "token_frequencies",
    "asof_join_last_purchase",
    "range_join_purchase_hour",
    "events_session_window",
    "stateful_user_stats",
    "multimodal_decode",
    "multimodal_frame_sample",
]


def test_headline_names_resolve():
    bench = _bench()
    from dsci551_edfs_spark.queries import QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dupes


def test_r1_comparable_prefix_is_frozen():
    bench = _bench()
    assert bench.HEADLINE[:25] == R1_SET


def test_queries_split_import_surface():
    """Round-13 split pin (verdict r12 #5): the per-family q_* modules
    register into the shared dicts, no module exceeds 3,000 lines, and
    the facade exposes the registry and its entry points only — helpers
    are imported from the module that defines them."""
    import inspect

    import dsci551_edfs_spark.queries as Q
    from dsci551_edfs_spark import q_analytics_b, q_embeddings, q_reference, q_tuning

    for name in (
        "QUERIES",
        "ORACLES",
        "SCRATCH",
        "warm_memos",
        "_t",
        "_scratch_dir",
        "q",
    ):
        assert hasattr(Q, name), name
    # no re-export of family-module globals
    for mod, name in (
        (q_embeddings, "_BLOCKING_TRUTH_CAP"),
        (q_embeddings, "_sample_codebooks"),
        (q_tuning, "_LSH_CONFIGS"),
        (q_tuning, "_lsh_detect_p_sql"),
        (q_analytics_b, "_lr_scored_frame"),
        (q_analytics_b, "_lr_trained_model"),
    ):
        assert hasattr(mod, name) and not hasattr(Q, name), name
    assert len([k for k in vars(Q) if not k.startswith("__")]) < 40
    assert len(Q.QUERIES) >= 307
    assert set(Q.ORACLES) <= set(Q.QUERIES)
    # size bound: the maintainability risk the split exists to remove
    import dsci551_edfs_spark as pkg
    import os as _os

    pkg_dir = _os.path.dirname(pkg.__file__)
    for f in sorted(_os.listdir(pkg_dir)):
        if f.endswith(".py"):
            with open(_os.path.join(pkg_dir, f)) as fh:
                n = sum(1 for _ in fh)
            assert n <= 3000, f"{f} has {n} lines (>3000)"
    # registration really comes from the family modules
    assert inspect.getmodule(Q.QUERIES["pmr_avg"]) is q_reference
    assert inspect.getmodule(Q.QUERIES["quality_lr_ece"]) is q_analytics_b


def test_memoized_queries_resolve():
    """Every `@q(memo=True)` query is registered once and benched."""
    bench = _bench()
    from dsci551_edfs_spark.queries import QUERIES
    from dsci551_edfs_spark.queries_base import MEMO_QUERIES

    assert len(set(MEMO_QUERIES)) == len(MEMO_QUERIES)
    for qname in MEMO_QUERIES:
        assert qname in QUERIES, qname
        assert qname in bench.HEADLINE, qname


# ---------------------------------------------------------- timed purity

# Queries whose TIMED region legitimately writes: the write IS the
# operator under measurement. Everything else must route once-per-corpus
# materializations through the memo store (dsci551_edfs_spark/memo.py),
# which bench.py warms OUTSIDE the timed region — r8's
# edfs_datasource_scan re-ran put_dataframe inside its timed call for a
# round because nothing enforced this.
TIMED_WRITE_WHITELIST = {
    "avro_roundtrip": "write+read roundtrip: the format write is the op",
    "edfs_cat_roundtrip": "put->cat roundtrip: put IS the measured op",
    "edfs_read_partition": "put->readPartition roundtrip, same contract",
    "stream_exactly_once_sink": "the idempotent sink WRITE is the op",
    "streaming_merge_upsert": "CDC feed write + replay is the operator",
    "streaming_quality_gate": "feed write + gated stream run IS the op",
    "streaming_drift_psi": "feed write + monitored stream run IS the op",
    "streaming_conformal_coverage": (
        "feed write + coverage-monitored stream run IS the op"
    ),
    "streaming_gram_novelty": (
        "feed write + novelty-monitored stream run IS the op"
    ),
    "jsonl_roundtrip": "write+read roundtrip",
    "orc_roundtrip": "write+read roundtrip",
    "csv_roundtrip": "write+read roundtrip",
}

_WRITE_MARKERS = (
    "_scratch_dir(",
    "put_dataframe(",
    ".write",
    "write_jsonl(",
    "write_orc(",
    "write_avro(",
    "write_csv(",
    "write_bucketed(",
    ".saveAsTable(",
    ".save(",
)
_MEMO_MARKERS = ("layout_memo(", "dataframe_memo(")


def _local_imports(fn, src):
    """name -> object for the package imports written INSIDE fn's
    source (`from .x import y [as z]`, `from . import m`), parsed with
    ast: the function-local import idiom every shared-layout consumer
    uses, invisible to fn's globals."""
    import ast
    import importlib
    import textwrap

    out = {}
    for node in ast.walk(ast.parse(textwrap.dedent(src))):
        if not isinstance(node, ast.ImportFrom):
            continue
        base = (
            fn.__module__.rsplit(".", node.level)[0] if node.level else ""
        )
        mod = ".".join(p for p in (base, node.module) if p)
        if not mod.startswith("dsci551_edfs_spark"):
            continue
        holder = importlib.import_module(mod)
        for alias in node.names:
            obj = getattr(holder, alias.name, None)
            if obj is None:  # a submodule not yet imported
                obj = importlib.import_module(f"{mod}.{alias.name}")
            out[alias.asname or alias.name] = obj
    return out


def _callees(fn, src):
    """The package-defined functions fn's source references. Resolution
    is static: names that look like calls in the source are looked up
    in fn's globals and its function-local imports (following one
    `module.attr` hop), keeping only functions defined under
    dsci551_edfs_spark."""
    import re
    import types

    ns = {**getattr(fn, "__globals__", {}), **_local_imports(fn, src)}
    targets = []
    for name in re.findall(r"\b([A-Za-z_]\w*)\s*\(", src):
        obj = ns.get(name)
        if obj is not None:
            targets.append(obj)
    for mod, attr in re.findall(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\(", src):
        holder = ns.get(mod)
        if isinstance(holder, types.ModuleType):
            obj = getattr(holder, attr, None)
            if obj is not None:
                targets.append(obj)
    return [
        obj
        for obj in targets
        if isinstance(obj, types.FunctionType)
        and getattr(obj, "__module__", "").startswith("dsci551_edfs_spark")
    ]


def _source(fn):
    import inspect

    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):
        return None


def _package_callees(fn, depth=3, seen=None):
    """fn plus the package-defined functions it references (`_callees`),
    transitively to `depth` levels — PRUNED at memo-store boundaries: a
    frame whose source routes through dataframe_memo/layout_memo is
    exempt and its callees are not descended into (whatever they write
    runs once-per-corpus, warmed outside the timed region; memo.py's
    own writers are beneath that boundary by construction). This closes
    the r9 one-level gap where a write inside a helper with an unlisted
    name passed the lint silently."""
    if seen is None:
        seen = set()
    if fn in seen or depth < 0:
        return []
    seen.add(fn)
    src = _source(fn)
    if src is None:
        return []
    if any(m in src for m in _MEMO_MARKERS):
        return []  # memo boundary: frame and its subtree are untimed
    out = [(fn, src)]
    for obj in _callees(fn, src):
        out.extend(_package_callees(obj, depth - 1, seen))
    return out


def _reaches_memo(fn, depth=3):
    """Whether a frame within `depth` levels of fn's package call graph
    (breadth first, so each function is read at its shallowest level)
    calls dataframe_memo/layout_memo."""
    frontier, seen = [fn], {fn}
    for _ in range(depth + 1):
        nxt = []
        for f in frontier:
            src = _source(f)
            if src is None:
                continue
            if any(m in src for m in _MEMO_MARKERS):
                return True
            for g in _callees(f, src):
                if g not in seen:
                    seen.add(g)
                    nxt.append(g)
        frontier = nxt
    return False


def test_memo_declarations_match_code():
    """`@q(memo=True)` is the one record of which queries read a
    per-corpus memo: every declared query reaches dataframe_memo/
    layout_memo in its package call graph, and every HEADLINE query that
    reaches one is declared — an undeclared consumer is warmed only if
    another query happens to build its memo first, or a standalone
    timing lands the cold build inside its median (SCALE.md)."""
    bench = _bench()
    from dsci551_edfs_spark.queries import QUERIES
    from dsci551_edfs_spark.queries_base import MEMO_QUERIES

    unreached = [n for n in MEMO_QUERIES if not _reaches_memo(QUERIES[n])]
    undeclared = [
        n
        for n in bench.HEADLINE
        if n not in MEMO_QUERIES and _reaches_memo(QUERIES[n])
    ]
    assert not unreached, f"declared memo=True, no memo reached: {unreached}"
    assert not undeclared, f"reach a memo, not declared: {undeclared}"


def test_headline_timed_regions_do_not_ingest():
    """Every HEADLINE query's timed call must not ingest/build layouts
    per call: a write marker in its source (or in any package helper it
    transitively calls, depth 3, memo-boundary-pruned) requires either
    the memo store (once-per-corpus, warmed untimed) or an explicit
    whitelist entry saying the write is the thing being measured."""
    bench = _bench()
    from dsci551_edfs_spark.queries import QUERIES

    offenders = {}
    for name in bench.HEADLINE:
        if name in TIMED_WRITE_WHITELIST:
            continue
        for fn, src in _package_callees(QUERIES[name]):
            hits = [m for m in _WRITE_MARKERS if m in src]
            if hits:
                offenders[name] = (fn.__qualname__, hits)
                break
    assert not offenders, (
        "timed-region writes outside memo store / whitelist: "
        f"{offenders}"
    )


def test_timed_write_whitelist_entries_resolve():
    bench = _bench()
    from dsci551_edfs_spark.queries import QUERIES

    for qname in TIMED_WRITE_WHITELIST:
        assert qname in QUERIES, qname
        # a whitelist entry for a non-HEADLINE query is dead config, but
        # harmless; only flag unknown query names


def test_ambient_load_metric_shape():
    """The round-11 ambient-load stamp: snapshot/delta helpers return
    the machine-readable fields VERDICT r10 asked for, and the
    canonical-name selection rule prefers the lower-load window."""
    import json
    import os
    import tempfile

    bench = _bench()
    s = bench._ambient_snapshot()
    for k in ("loadavg", "busy_jiffies", "total_jiffies", "own_jiffies"):
        assert k in s
    amb = bench._ambient_load(s, bench._ambient_snapshot())
    assert set(amb) == {
        "ambient_cpu_frac",
        "own_cpu_frac",
        "loadavg_start",
        "loadavg_end",
    }
    assert 0.0 <= amb["ambient_cpu_frac"] <= 1.0

    with tempfile.TemporaryDirectory() as d:
        mk = lambda a: {"ambient_load": {"ambient_cpu_frac": a}}  # noqa: E731
        p1 = bench._place_artifact(mk(0.25), d, 99)
        assert p1.endswith("BENCH_local_r99.json")
        p2 = bench._place_artifact(mk(0.01), d, 99)  # quieter: takes canon
        assert p2.endswith("BENCH_local_r99.json")
        p3 = bench._place_artifact(mk(0.30), d, 99)  # noisier: highload
        assert p3.endswith("BENCH_local_r99_highload.json")
        with open(os.path.join(d, "BENCH_local_r99.json")) as fh:
            assert (
                json.load(fh)["ambient_load"]["ambient_cpu_frac"] == 0.01
            )


def test_split_providers_resolve():
    """Every `@q(split=...)` declaration names a benched query, a real
    last-run timing dict and two distinct `*_s` keys (verdict r11 #4)."""
    bench = _bench()
    from dsci551_edfs_spark.queries import QUERIES
    from dsci551_edfs_spark.queries_base import SPLITS

    assert set(SPLITS) >= {"streaming_quality_gate", "quality_lr_cv"}
    for qname, (timings, k_start, k_steady) in SPLITS.items():
        assert qname in QUERIES, qname
        assert qname in bench.HEADLINE, qname
        assert isinstance(timings, dict)
        assert k_start.endswith("_s") and k_steady.endswith("_s")
        assert k_start != k_steady


def test_drift_flags_rule():
    """Cross-round drift detection as code (verdict r11 #5): a move
    outside the combined spreads (+floor) flags; one inside does not;
    queries absent from the prior window never flag."""
    bench = _bench()
    prev = {
        "queries": {"a": 1.0, "b": 1.0, "c": 0.2},
        "spread_max_minus_min": {"a": 0.1, "b": 0.1, "c": 0.01},
    }
    timings = {"a": 1.5, "b": 1.15, "c": 0.2, "new_q": 3.0}
    spreads = {"a": 0.1, "b": 0.1, "c": 0.01, "new_q": 0.2}
    flags = bench._drift_flags(prev, timings, spreads)
    assert [f["query"] for f in flags] == ["a"]  # 0.5 > 0.1+0.1+0.05
    assert flags[0]["ratio"] == 1.5
    assert flags[0]["band_s"] == 0.25


def test_drift_flags_two_window_memory():
    """Verdict r12 #7: a flag fires only if the move exceeds the band
    against EVERY prior canonical window that measured the query — one
    noisy previous window can't fire a spurious flag on its own."""
    bench = _bench()
    noisy = {  # r-1: a noisy window says 'a' regressed hugely
        "queries": {"a": 0.5, "b": 1.0},
        "spread_max_minus_min": {"a": 0.05, "b": 0.1},
    }
    quiet = {  # r-2: the quiet window agrees with the new number
        "queries": {"a": 1.45, "b": 1.0},
        "spread_max_minus_min": {"a": 0.05, "b": 0.1},
    }
    timings = {"a": 1.5, "b": 2.0}
    spreads = {"a": 0.05, "b": 0.1}
    flags = bench._drift_flags([noisy, quiet], timings, spreads)
    # 'a' flags vs noisy but NOT vs quiet -> no flag; 'b' flags vs both
    assert [f["query"] for f in flags] == ["b"]
    assert flags[0]["n_windows"] == 2
    assert flags[0]["prev_s"] == 1.0  # newest window's numbers reported
    # a query only the NEWEST window measured still flags on that alone
    flags2 = bench._drift_flags(
        [{"queries": {"z": 1.0}, "spread_max_minus_min": {"z": 0.05}}, {}],
        {"z": 2.0},
        {"z": 0.05},
    )
    assert [f["query"] for f in flags2] == ["z"]
    assert flags2[0]["n_windows"] == 1


def test_r1_quiet_median_measurement(spark):
    """Verdict r12 #3: the headline value_r1_comparable_25q is sourced
    from a DEDICATED quiet median-of-5 pass, not inherited from
    whichever full-suite window won the canonical tie-break."""
    import inspect

    bench = _bench()
    # functional: the measurement helper produces per-query medians,
    # spreads and its own ambient stamp
    fake = {
        "fast": lambda s, _sf: s.range(10),
        "slow": lambda s, _sf: s.range(1000),
    }
    out = bench._measure_r1_quiet(
        spark, fake, ["fast", "slow"], lambda: None, reps=5
    )
    assert out["method"] == "median_of_5"
    assert set(out["queries"]) == {"fast", "slow"}
    assert out["total_s"] == round(sum(out["queries"].values()), 3)
    assert "ambient_cpu_frac" in out["ambient_load"]
    assert all(v >= 0 for v in out["spread_max_minus_min"].values())
    # the shared timed region both bench passes go through: one
    # (construct_s, exec_s) pair per run, the median/spread of the run
    # totals, and release_cached once after the query's runs
    released = []
    r = bench._timed_runs(
        spark, "slow", fake["slow"], "unused", 5, lambda: released.append(1)
    )
    assert len(r["runs"]) == 5 and released == [1]
    assert all(c >= 0 and e >= 0 for c, e in r["runs"])
    totals = sorted(c + e for c, e in r["runs"])
    assert r["median_s"] == round(totals[2], 3)
    assert r["spread_s"] == round(totals[-1] - totals[0], 3)
    assert r["split"] is None  # not declared with @q(split=...)
    # wiring: main() assigns the headline field from the dedicated pass
    src = inspect.getsource(bench.main)
    assert '"value_r1_comparable_25q": r1_quiet["total_s"]' in src


def test_measure_tool_first_steady_growth_and_errors(
    spark, sf_dir, monkeypatch, capsys
):
    """tools/measure.py end to end on the shared timed region: per
    window, first-call and steady columns per query, a raising query
    recorded as an error (the run goes on), and growth ratios against
    the first --sf."""
    import json

    _bench()  # repo root on sys.path
    from dsci551_edfs_spark.queries import QUERIES
    from tools import measure

    def boom(_spark, _sf):
        raise RuntimeError("boom")

    monkeypatch.setitem(QUERIES, "boom_query", boom)
    measure.main(
        ["-n", "2", "--sf", sf_dir, "--sf", sf_dir, "pmr_avg", "boom_query"]
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["reps"] == 2 and "code_sha" in out
    assert [w["sf_dir"] for w in out["windows"]] == [sf_dir, sf_dir]
    for w in out["windows"]:
        q = w["queries"]["pmr_avg"]
        assert set(q["first"]) == {"construct_s", "exec_s"}
        assert set(q["steady"]) == {"construct_s", "exec_s", "total_s", "spread_s"}
        assert all(v >= 0 for v in [*q["first"].values(), *q["steady"].values()])
        assert w["queries"]["boom_query"] == {"error": "RuntimeError: boom"}
        assert w["total_s"] == q["steady"]["total_s"]
        assert 0.0 <= w["ambient_cpu_frac"] <= 1.0
        assert w["memo_warm"] == {}  # neither query is memoized
    assert "growth" not in out["windows"][0]
    growth = out["windows"][1]["growth"]
    assert set(growth) == {"pmr_avg", "boom_query"}
    assert growth["boom_query"] is None
    assert growth["pmr_avg"] > 0


def test_check_correctness_import_stays_bench_free():
    """perfbench imports `value_hash` from tools.check_correctness; that
    import must not pull in bench (its code_sha stamp is imported only
    on the --json path)."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import sys\n"
        "from tools.check_correctness import value_hash\n"
        "assert 'bench' not in sys.modules\n"
        "assert value_hash([(1, 'a')], ['x', 'y'])\n"
    )
    subprocess.run([sys.executable, "-c", probe], cwd=root, check=True)


# module-level containers the package may hold; each has a lifetime
# of its own (the query registry, per-process build seconds, the
# per-query pins and timings that a per-query scope object is to own).
# A value cached per session goes through memo.session_cached instead.
_MODULE_STATE_ALLOWED = {
    "QUERIES", "ORACLES", "MEMO_QUERIES", "SPLITS", "BUILD_SECONDS",
    "_CACHED", "LAST_TIMINGS", "LAST_CV_TIMINGS",
}


def test_no_private_session_caches():
    """No `id(...)` keys (a collected object's id is reused) and no new
    module-level `{}`/`[]` outside the allowlist anywhere in the
    package (`__all__` declarations aside)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "dsci551_edfs_spark"
    id_calls, state = [], []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(pkg.parent)
        id_calls += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "id"
        ]
        for n in tree.body:
            if not isinstance(n, (ast.Assign, ast.AnnAssign)):
                continue
            empty = (isinstance(n.value, ast.Dict) and not n.value.keys) or (
                isinstance(n.value, ast.List) and not n.value.elts
            )
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            state += [
                f"{rel}:{t.id}"
                for t in targets
                if empty
                and isinstance(t, ast.Name)
                and t.id != "__all__"
                and t.id not in _MODULE_STATE_ALLOWED
            ]
    assert not id_calls, id_calls
    assert not state, state


def test_perfbench_traced_names_resolve():
    """`perfbench/run.py --trace 1` wraps each `(owner, attr)` of
    `tracing.TRACED` by name; a rename in the package must not leave one
    behind. The bench directory is only read: no bytecode is written."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench_dir = os.path.join(root, "perfbench")
    saved = sys.dont_write_bytecode
    sys.path.insert(0, bench_dir)
    sys.dont_write_bytecode = True
    try:
        tracing = importlib.import_module("tracing")
    finally:
        sys.dont_write_bytecode = saved
        sys.path.remove(bench_dir)
    assert tracing.TRACED
    missing = [span for owner, attr, span in tracing.TRACED if not callable(getattr(owner, attr, None))]
    assert not missing, missing


# -------------------------------------------------------- reachability

_DEF_NODES = ("FunctionDef", "AsyncFunctionDef", "ClassDef")


def _module_name(root, path):
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _import_bindings(mod, tree, is_pkg):
    """name -> {("mod", module) | ("from", module, attr)} for every
    import anywhere in the file (function-local imports included)."""
    import ast

    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                out.setdefault(name, set()).add(
                    ("mod", a.name if a.asname else name)
                )
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            if node.level:
                base = mod.split(".") if is_pkg else mod.split(".")[:-1]
                base = base[: len(base) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            for a in node.names:
                out.setdefault(a.asname or a.name, set()).add(
                    ("from", src, a.name)
                )
    return out


def test_every_package_def_is_reached():
    """Every top-level def and class of the package is reached from a
    served entry point: the `@q` query bodies, package module-level code
    (`__all__` aside), `__spark_entry__.py`, `bench.py`, `tools/` and
    `perfbench/`, closed transitively over the bodies of reached defs.
    A name resolves through the module's own defs and its imports,
    `module.attr` through the module it names, and an attribute on any
    other receiver (`obj.attr`) reaches every def of that name. Tests
    are not roots: a def only a test calls fails here."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "dsci551_edfs_spark"
    entry = [root / "bench.py", root / "__spark_entry__.py"]
    entry += sorted((root / "tools").rglob("*.py"))
    entry += sorted((root / "perfbench").rglob("*.py"))
    files = {}
    for path in [*sorted(pkg.rglob("*.py")), *entry]:
        files[_module_name(root, path)] = (path, ast.parse(path.read_text()))
    pkg_mods = {m for m, (p, _) in files.items() if pkg in p.parents}
    defs = {
        m: {
            n.name: n
            for n in files[m][1].body
            if type(n).__name__ in _DEF_NODES
        }
        for m in pkg_mods
    }
    binds = {
        m: _import_bindings(m, tree, p.name == "__init__.py")
        for m, (p, tree) in files.items()
    }

    def resolve_attr(mod, name, seen=frozenset()):
        if (mod, name) in seen:
            return set()
        if name in defs.get(mod, {}):
            return {(mod, name)}
        if f"{mod}.{name}" in files:
            return {("mod", f"{mod}.{name}")}
        out = set()
        for b in binds.get(mod, {}).get(name, ()):
            out |= resolve_binding(b, seen | {(mod, name)})
        return out

    def resolve_binding(b, seen=frozenset()):
        return {b} if b[0] == "mod" else resolve_attr(b[1], b[2], seen)

    def resolve(mod, node):
        if isinstance(node, ast.Name):
            out = {(mod, node.id)} if node.id in defs.get(mod, {}) else set()
            for b in binds[mod].get(node.id, ()):
                out |= resolve_binding(b)
            return out
        if isinstance(node, ast.Attribute):
            mods = [r[1] for r in resolve(mod, node.value) if r[0] == "mod"]
            if mods:
                return set().union(*(resolve_attr(x, node.attr) for x in mods))
            return {(x, node.attr) for x in defs if node.attr in defs[x]}
        return set()

    def refs(mod, nodes):
        out = set()
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) or (
                    isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                ):
                    out |= {r for r in resolve(mod, node) if r[0] != "mod"}
        return out

    def is_query(node):
        return any(
            isinstance(d, ast.Call)
            and getattr(d.func, "id", getattr(d.func, "attr", None)) == "q"
            for d in node.decorator_list
        )

    reached = set()
    frontier = set()
    for mod, (_, tree) in files.items():
        if mod not in pkg_mods:
            frontier |= refs(mod, [tree])
            continue
        module_code = []
        for n in tree.body:
            if type(n).__name__ in _DEF_NODES:
                # decorators, defaults and bases run at import time
                module_code += n.decorator_list
                if isinstance(n, ast.ClassDef):
                    module_code += n.bases + [k.value for k in n.keywords]
                else:
                    module_code += n.args.defaults
                    module_code += [d for d in n.args.kw_defaults if d]
                if is_query(n):
                    frontier.add((mod, n.name))
            elif not isinstance(n, (ast.Import, ast.ImportFrom)) and not (
                isinstance(n, ast.Assign)
                and any(getattr(t, "id", None) == "__all__" for t in n.targets)
            ):
                module_code.append(n)
        frontier |= refs(mod, module_code)
    while frontier:
        reached |= frontier
        frontier = {
            r
            for mod, name in frontier
            for r in refs(mod, [defs[mod][name]])
        } - reached

    unreached = [
        f"{mod}.{name}"
        for mod in sorted(defs)
        for name in defs[mod]
        if (mod, name) not in reached
    ]
    assert not unreached, f"package defs no entry point reaches: {unreached}"
