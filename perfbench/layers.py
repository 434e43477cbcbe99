"""Per-layer metrics of a traced run, named as in BENCHMARK.json.

Only every other timed op is traced; the untraced ones give the
tracing overhead. A layer that did no work in a workload reads 0.
"""

from __future__ import annotations

import statistics


def per_layer(wl, tracer, lat, records, get_spark_s, gc_s, diag) -> dict[str, float]:
    out = {"session.get_spark_s": get_spark_s, "jvm.gc_s": gc_s}
    out.update({k: v for k, v in diag.items() if k != "host.loadavg_1m"})
    out.update(tracer.layer_metrics())
    out["ingest.bytes_written"] = tracer.written["bytes"]
    out["ingest.files_written"] = tracer.written["files"]

    runs = tracer.run_spans()
    shell_ops = [r for r in records if r["op"] in runs]
    out["http_api.overhead_ms"] = _median_ms(
        [r["rtt_s"] - (runs[r["op"]]["end"] - runs[r["op"]]["start"]) for r in shell_ops]
    )
    out["cli.run_self_ms"] = _median_ms([runs[r["op"]]["self_s"] for r in shell_ops])
    out["cli.emit_rows"] = sum(
        r["response"].count("\n") - 1
        for r in shell_ops
        if r["route"] in ("cat", "readPartition") and isinstance(r["response"], str)
    )

    n = max(len(records), 1)
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = sum(r[key] for r in records) / n

    traced = {r["op"] for r in records}
    t = [s for i, s in enumerate(lat) if i in traced]
    u = [s for i, s in enumerate(lat) if i not in traced]
    out["trace.overhead_frac"] = 1 - (len(t) / sum(t)) / (len(u) / sum(u))

    if hasattr(wl, "layer_metrics"):
        out.update(wl.layer_metrics(records))
    return out


def _median_ms(values: list[float]) -> float:
    return 1000 * statistics.median(values) if values else 0.0

