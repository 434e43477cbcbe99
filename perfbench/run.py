"""EDFS-Spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pmr_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs and its whole op
script come from `--seed`; `--seconds` sets the fixed amount of timed
work. With `--trace 0` the last line carries the end-to-end metrics of
BENCHMARK.json; with `--trace 1`, its per-layer metrics, and the spans
are written to `.perfbench/traces/`. All state lives in a per-run
directory under `.perfbench/` that is deleted at exit. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: workload -> the program module it drives, imported inside `setup_s`
SURFACE = {"pmr_read": "dsci551_edfs_spark.http_api", "query_suite": "dsci551_edfs_spark.queries"}
#: Spark cores: at most this many, and never more than the host has
MAX_CPUS = 4


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SURFACE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> dict:
    """Point every place the program or Spark writes at `run_dir`.
    Returns the extra Spark conf."""
    for sub in ("scratch", "local", "tmp", "cwd"):
        os.makedirs(os.path.join(run_dir, sub))
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # Python workers of the `edfs` DataSource import the package
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    os.chdir(os.path.join(run_dir, "cwd"))
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "cwd", "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark, host) -> None:
    """Stop Spark and its JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = host.descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in kids:
        while host.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if host.alive(pid):
            os.kill(pid, signal.SIGKILL)


def tail(lat: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it. The script length fixes it, so it is the same on
    every run of a workload."""
    s = sorted(lat)
    k = max(len(s) - 11, 0)
    return 100.0 * (k + 1) / len(s), s[k]


def main(argv=None) -> int:
    args = parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    found = importlib.util.find_spec("dsci551_edfs_spark")
    if found is None or not found.origin.startswith(ROOT + os.sep):
        # benchmark the checkout's program, never another copy on the path
        print("dsci551_edfs_spark not found next to perfbench/", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    spark = None
    try:
        conf = isolate(run_dir)
        import host

        t0 = time.perf_counter()
        from dsci551_edfs_spark.session import get_spark

        importlib.import_module(SURFACE[args.workload])
        import_s = time.perf_counter() - t0
        if args.workload == "query_suite":
            from suite import QuerySuite as Workload
        else:
            from shell import PmrRead as Workload

        t0 = time.perf_counter()
        wl = Workload(args.seed, args.seconds, os.path.join(run_dir, "work"))
        inputs_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            wl.tracer = tracer
            tracer.install()
        setup_s = import_s + get_spark_s + wl.setup(spark)
        if tracer is not None:
            tracer.uninstall()
            wl.tracer = None
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        gc = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        gc_ms = lambda: sum(b.getCollectionTime() for b in gc)  # noqa: E731
        gc0, window = gc_ms(), host.HostWindow()
        t0 = time.perf_counter()
        lat, records = wl.timed(tracer)
        wall = time.perf_counter() - t0
        diag = window.close(len(lat))
        gc_s = (gc_ms() - gc0) / 1000
        wl.verify()
        stored = wl.stored_bytes_per_input_byte()
        mem_py = host.vm_hwm_mb(os.getpid())
        mem_jvm = host.vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        mem_mb = mem_py + mem_jvm
        wl.close()
        pct, tail_s = tail(lat)
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": len(lat) / wall,
                "op_p50_ms": 1000 * statistics.median(lat),
                "op_tail_ms": 1000 * tail_s,
                "mem_mb": mem_mb,
                "stored_bytes_per_input_byte": stored,
            }
            wanted = spec["end_to_end"]
        else:
            from layers import per_layer

            metrics = per_layer(wl, tracer, lat, records, get_spark_s, gc_s, diag)
            tracer.write(
                os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.jsonl")
            )
            wanted = spec["per_layer"]
            unknown = set(metrics) - {m["name"] for m in wanted}
            if unknown:
                raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        print(
            f"workload={args.workload} seed={args.seed} "
            f"SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} ops={len(lat)} "
            f"tail=p{pct:.1f} ({len(lat)} samples, 10 beyond)"
        )
        print(f"bench overhead (inputs and expected answers): {inputs_s:.3f} s")
        print(
            f"phases: import {import_s:.3f} s, get_spark {get_spark_s:.3f} s, "
            f"setup {setup_s:.3f} s, warm-up {warmup_s:.3f} s, timed {wall:.3f} s"
        )
        print(f"peak RSS: python {mem_py:.1f} MB, JVM {mem_jvm:.1f} MB")
        print("host " + json.dumps({k: round(v, 4) for k, v in diag.items()}))
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {
                # a layer that did no work in this workload reads 0
                m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in wanted
            },
        }
    finally:
        if spark is not None:
            stop_spark(spark, host)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
