"""Per-layer metrics and the trace file of a traced run (``--trace 1``).

Every per-layer metric listed in BENCHMARK.json is reported on every
workload; a layer a workload does not reach reports 0 (no calls, no time).
Batch metrics are per pass; streaming metrics are per trigger (durations)
or per run (counts). The trace file holds the spans, each span name's self
time, Spark's per-trigger ``durationMs`` and the stage metrics of every job.
"""

from __future__ import annotations

import json
import os
import statistics

from engine import LLM
from quantiles import percentile

UNITS = {
    "session.start_s": "s",
    "session.warm_workers_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "executor.tasks": "count",
    "collect.residual_s": "s",
    **{f"query.{name}_s": "s" for name in LLM},
    "streaming.trigger_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.batches": "count",
    "kafka_python.latestOffset_ms": "ms",
    "kafka_python.rows_per_batch": "rows",
    "manager.append_s": "s",
    "manager.append_calls": "count",
    "manager.buffer_bytes": "bytes",
    "manager.records_dropped": "count",
    "flight_facade.snapshot_s": "s",
    "flight_facade.doget_rows": "rows",
    "flight_facade.hwm_ms": "ms",
    "client.doget_p50_ms": "ms",
    "client.doget_p99_ms": "ms",
    "generator.late_p99_ms": "ms",
    "kafka_broker.produce_ms": "ms",
    "engine.cpu_s": "s",
    "tracing.overhead_pct": "%",
}


def layer_metrics(out: dict) -> dict[str, tuple[float, str]]:
    engine = out["engine"]
    values = dict.fromkeys(UNITS, 0.0)
    values.update(engine.get("layers", {}))
    spans = engine["trace"]["spans"]
    for key, name in (("session.start_s", "session.start"),
                      ("session.warm_workers_s", "session.warm_workers")):
        values[key] = sum(sp["end"] - sp["start"] for sp in spans if sp["name"] == name)
    values.update({k: v for k, v in out.get("client", {}).items() if k in UNITS})
    values["engine.cpu_s"] = out["report"]["cpu_s"][0]
    values["tracing.overhead_pct"] = 100.0 * engine["trace"]["tracer_overhead_s"] / out["measured_s"]
    return {k: (float(values[k]), UNITS[k]) for k in UNITS}


def client_readings(doget_ms: list[float], doget_rows: list[int], late_ms: list[float],
                    produce_ms: list[float]) -> dict[str, float]:
    """Load-generator-side readings: DoGets as the client sees them, how
    late the open-loop schedule ran, and the broker's produce time."""
    out = {}
    if doget_ms:
        out["client.doget_p50_ms"] = percentile(doget_ms, 0.50)
        out["client.doget_p99_ms"] = percentile(doget_ms, 0.99)
        out["flight_facade.doget_rows"] = statistics.fmean(doget_rows)
    if late_ms:
        out["generator.late_p99_ms"] = percentile(late_ms, 0.99)
    if produce_ms:
        out["kafka_broker.produce_ms"] = statistics.median(produce_ms)
    return out


def write_trace(path: str, args, out: dict, layers: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    trace = out["engine"]["trace"]
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "self_s": trace["self_s"],
        "tracer_overhead_s": trace["tracer_overhead_s"],
        "progress_durationMs": [
            {"batchId": p.get("batchId"), "numInputRows": p.get("numInputRows"),
             "durationMs": p.get("durationMs")}
            for p in out["engine"].get("progress", [])
        ],
        "jobs": trace.get("jobs", []),
        "phases": trace.get("phases", []),
        "spans": trace["spans"],
    }
    with open(path, "w") as fh:
        json.dump(doc, fh)
