"""Per-layer readings for the traced run (``--trace 1``).

Spans are recorded around calls into each layer's public functions, from
here; nothing inside ``roar_spark`` is changed. Spark's own accounting is
read through its public APIs after the timed window: Catalyst phase times
from ``queryExecution().tracker()``, stage metrics from the status store
(filtered by the job group set per query), and the streaming trigger
breakdown from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import statistics
import sys
import time

from spans import Tracer

def install_session_hooks(tracer: Tracer) -> None:
    from roar_spark import session

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(session, "warm_python_workers", "session.warm_workers")


def _install_catalog_hooks(tracer: Tracer) -> None:
    """``load_table`` is imported by name into each operator module, so
    the wrapper replaces every module-level reference to it."""
    import roar_spark.registry  # noqa: F401 — imports every operator module
    from roar_spark import catalog

    original = catalog.load_table
    for name, module in list(sys.modules.items()):
        if (name == "roar_spark" or name.startswith("roar_spark.")) and getattr(
            module, "load_table", None
        ) is original:
            tracer.wrap(module, "load_table", "catalog.load_table")


def _install_stream_hooks(tracer: Tracer) -> None:
    from roar_spark.streaming import manager
    from roar_spark.streaming.flight_facade import RoarFlightServer

    for store in (manager.MemoryStore, manager.ParquetStore):
        tracer.wrap(store, "append", "manager.append")
        tracer.wrap(store, "snapshot", "flight_facade.snapshot")
        tracer.wrap(store, "snapshot_arrow", "flight_facade.snapshot")
    tracer.wrap(manager, "parse_envelope", "ingest.parse_envelope")
    tracer.wrap(RoarFlightServer, "do_get", "flight_facade.do_get")
    tracer.wrap(
        RoarFlightServer, "do_action",
        lambda _self, _ctx, action: f"flight_facade.action_{action.type}",
    )


def _scala_ints(seq) -> list[int]:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def _opt_seconds(option) -> float | None:
    """Epoch seconds of a Scala ``Option[java.util.Date]``."""
    return option.get().getTime() / 1000.0 if option.isDefined() else None


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class LayerProbe:
    """Installs the span hooks and turns spans plus Spark's accounting into
    per-layer metrics. Only spans and jobs that start after
    ``mark_window`` (the end of set-up) count."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.tracer = tracer
        self._sc = spark.sparkContext
        self._window_start = time.time()
        self._phases: list[dict] = []
        _install_catalog_hooks(tracer)
        _install_stream_hooks(tracer)

    def mark_window(self) -> None:
        self._window_start = time.time()

    # --- batch ---------------------------------------------------------------

    def run_query(self, name: str, build):
        """Build and collect one query under its own job group, inside
        ``registry.build`` and ``collect`` spans."""
        t0 = time.perf_counter()
        self._sc.setJobGroup(f"perfbench-{len(self._phases)}", name)
        self.tracer.add_overhead(time.perf_counter() - t0)
        with self.tracer.span(f"query.{name}"):
            with self.tracer.span("registry.build"):
                df = build()
            with self.tracer.span("collect"):
                rows = df.collect()
        t0 = time.perf_counter()
        phases = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        self._phases.append(phases)
        self.tracer.add_overhead(time.perf_counter() - t0)
        return df, rows

    def _jobs(self) -> list[dict]:
        """Every job the status store retains that started in the window."""
        store = self._sc._jsc.sc().statusStore()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            submitted = _opt_seconds(job.submissionTime())
            if submitted is None or submitted < self._window_start:
                continue
            group = job.jobGroup()
            stages = []
            for sid in _scala_ints(job.stageIds()):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped (shuffle reused) or failed attempt
                stages.append({
                    "id": sid,
                    "start": _opt_seconds(sd.submissionTime()),
                    "end": _opt_seconds(sd.completionTime()),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ns": sd.executorCpuTime(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "tasks": sd.numTasks(),
                })
            jobs.append({
                "id": job.jobId(),
                "group": group.get() if group.isDefined() else None,
                "submitted": submitted,
                "stages": stages,
            })
        return jobs

    def _executor(self, jobs: list[dict]) -> dict[str, float]:
        seen: dict[int, dict] = {}
        for job in jobs:
            for st in job["stages"]:
                seen[st["id"]] = st
        return {
            "executor.run_s": sum(s["run_ms"] for s in seen.values()) / 1e3,
            "executor.cpu_s": sum(s["cpu_ns"] for s in seen.values()) / 1e9,
            "executor.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in seen.values())),
            "executor.spill_bytes": float(sum(s["spill_bytes"] for s in seen.values())),
            "executor.tasks": float(sum(s["tasks"] for s in seen.values())),
        }

    def batch_layers(self, ops: list[dict], passes: int) -> tuple[dict, dict]:
        """(per-layer metrics averaged per pass, raw detail for the trace file)."""
        jobs = self._jobs()
        spans = self.tracer.finished(self._window_start)
        by_name: dict[str, list[dict]] = {}
        for sp in spans:
            by_name.setdefault(sp["name"], []).append(sp)

        def within(sp_list, submitted):
            return any(sp["start"] <= submitted <= sp["end"] for sp in sp_list)

        build_spans = by_name.get("registry.build", [])
        load_spans = by_name.get("catalog.load_table", [])
        collect_spans = by_name.get("collect", [])
        build_jobs = sum(1 for j in jobs if within(build_spans, j["submitted"]))
        load_jobs = sum(1 for j in jobs if within(load_spans, j["submitted"]))
        residual = 0.0
        for sp in collect_spans:
            stage_time = _covered([
                (max(st["start"], sp["start"]), min(st["end"], sp["end"]))
                for j in jobs if sp["start"] <= j["submitted"] <= sp["end"]
                for st in j["stages"] if st["start"] is not None and st["end"] is not None
            ])
            residual += max(sp["end"] - sp["start"] - stage_time, 0.0)

        def total(name):
            return sum(sp["end"] - sp["start"] for sp in by_name.get(name, []))

        n = max(passes, 1)
        metrics = {
            "catalog.load_table_calls": len(load_spans) / n,
            "catalog.load_table_s": total("catalog.load_table") / n,
            "catalog.load_table_jobs": load_jobs / n,
            "registry.build_s": total("registry.build") / n,
            "registry.build_jobs": build_jobs / n,
            "collect.residual_s": residual / n,
        }
        for phase in ("analysis", "optimization", "planning"):
            metrics[f"catalyst.{phase}_ms"] = sum(p.get(phase, 0.0) for p in self._phases) / n
        metrics.update({k: v / n for k, v in self._executor(jobs).items()})
        per_query: dict[str, list[float]] = {}
        for op in ops:
            per_query.setdefault(op["name"], []).append(op["s"])
        for name, times in per_query.items():
            metrics[f"query.{name}_s"] = statistics.median(times)
        return metrics, {"jobs": jobs, "phases": self._phases}

    # --- streaming -------------------------------------------------------------

    def stream_layers(self, progress: list[dict]) -> tuple[dict, dict]:
        jobs = self._jobs()
        data_batches = [p for p in progress if p.get("numInputRows", 0) > 0]

        def mean_duration(key):
            vals = [p["durationMs"].get(key, 0.0) for p in data_batches]
            return statistics.fmean(vals) if vals else 0.0

        totals = self.tracer.totals(self._window_start)
        appends = totals.get("manager.append", (0, 0.0))
        snapshot = totals.get("flight_facade.snapshot", (0, 0.0))
        hwm = totals.get("flight_facade.action_hwm", (0, 0.0))
        metrics = {
            "streaming.trigger_ms": mean_duration("triggerExecution"),
            "streaming.addBatch_ms": mean_duration("addBatch"),
            "streaming.queryPlanning_ms": mean_duration("queryPlanning"),
            "streaming.walCommit_ms": mean_duration("walCommit"),
            "streaming.commitOffsets_ms": mean_duration("commitOffsets"),
            "streaming.batches": float(len(data_batches)),
            "kafka_python.latestOffset_ms": mean_duration("latestOffset"),
            "kafka_python.rows_per_batch": (
                statistics.fmean(p["numInputRows"] for p in data_batches) if data_batches else 0.0
            ),
            "manager.append_s": appends[1],
            "manager.append_calls": float(appends[0]),
            "flight_facade.snapshot_s": snapshot[1],
            "flight_facade.hwm_ms": hwm[1] / hwm[0] * 1e3 if hwm[0] else 0.0,
        }
        metrics.update(self._executor(jobs))
        return metrics, {"jobs": jobs}
