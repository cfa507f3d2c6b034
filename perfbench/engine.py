"""The engine process of the benchmark: the system under test.

Started by ``run.py`` with the repository root on ``PYTHONPATH``. It builds
the Spark session through ``roar_spark.session``, then either runs the
batch queries of ``roar_spark.registry`` in a closed loop, or starts the
streaming engine the way ``roar_spark serve --kafka-wire`` does and serves
it over the Flight facade while ``run.py`` produces and reads.

Protocol: events go to stdout as lines ``@@<json>``; commands arrive on
stdin as lines (``go``, ``stop``). Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "window_running", "agg_distinct", "events_hourly",
    "events_sessionize", "asof_latest_order", "scalar_json_extract",
]
LLM = [
    "dedup_exact", "dedup_dataset", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embedding_lsh", "dedup_substring_spans", "dedup_substring_strip",
    "dedup_ngram_jaccard", "sim_brute_topk", "sim_cosine_pairs", "ann_lsh_topk",
    "ann_ivf_topk", "text_stats", "text_fingerprint", "text_tfidf",
    "embedding_knn_classify_bulk", "pack_sequences",
]
QUERY_SETS = {"batch_relational": RELATIONAL, "batch_llm": LLM}
TOPIC = "bench"
MIN_PASSES = 3  # timed batch passes per run, whatever --seconds is


def emit(event: str, **fields) -> None:
    sys.stdout.write("@@" + json.dumps({"event": event, **fields}) + "\n")
    sys.stdout.flush()


def wait_command(expected: str) -> None:
    for line in sys.stdin:
        if line.strip() == expected:
            return
    raise SystemExit(f"engine: stdin closed before {expected!r}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corpus")
    ap.add_argument("--work", required=True)
    ap.add_argument("--bootstrap")
    ap.add_argument("--buffer-limit", type=int, default=100 * 1024 * 1024)
    ap.add_argument("--batch-size", type=int, default=1024)
    ap.add_argument("--trigger-seconds", type=float, default=5.0)
    args = ap.parse_args()

    from roar_spark import session

    tracer = probe = None
    if args.trace:
        from layers import install_session_hooks
        from spans import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}")
        install_session_hooks(tracer)

    spark = session.get_spark(app_name="perfbench")
    spark.range(1000).selectExpr("sum(id)").collect()
    if args.workload != "batch_relational":  # relational runs no Python workers
        session.warm_python_workers(spark)
    if args.trace:
        from layers import LayerProbe

        probe = LayerProbe(spark, tracer)
    try:
        if args.workload in QUERY_SETS:
            result = run_batch(spark, args, probe)
        else:
            result = run_stream(spark, args, probe)
    finally:
        spark.stop()
    emit("result", **result)
    return 0


# --- batch -----------------------------------------------------------------


def run_batch(spark, args, probe) -> dict:
    from roar_spark.registry import QUERIES

    names = list(QUERY_SETS[args.workload])
    rng = random.Random(args.seed)
    spark.read.parquet(os.path.join(args.corpus, "region.parquet")).collect()
    emit("ready")
    ops: list[dict] = []
    outputs: list[tuple] = []

    def run_pass(warmup: bool) -> float:
        traced = probe is not None and not warmup
        rng.shuffle(names)
        pass_s = 0.0
        for name in names:
            op = {"name": name, "ok": True, "warmup": warmup}
            t0 = time.perf_counter()
            try:
                if traced:
                    df, rows = probe.run_query(name, lambda: QUERIES[name](spark, args.corpus))
                else:
                    df = QUERIES[name](spark, args.corpus)
                    rows = df.collect()
                op["s"] = time.perf_counter() - t0
                outputs.append((len(ops), name, df.columns, df.dtypes, rows))
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                op.update(ok=False, s=time.perf_counter() - t0, error=repr(exc)[:300])
            pass_s += op["s"]
            ops.append(op)
        return pass_s

    # The first pass pays every first-use cost (JIT, Python worker forks,
    # codegen) and is reported apart; the timed passes that follow run warm.
    passes: list[float] = []
    cold_s = run_pass(warmup=True)
    emit("warm")
    if probe is not None:
        probe.mark_window()
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        passes.append(run_pass(warmup=False))
    emit("timed_done")
    from check_results import check_batch

    for index, problem in check_batch(args.corpus, outputs):
        ops[index].update(ok=False, error=problem)
    result = {"ops": ops, "passes": passes, "cold_pass_s": cold_s}
    if probe is not None:
        timed = [op for op in ops if not op["warmup"]]
        result["layers"], detail = probe.batch_layers(timed, len(passes))
        result["trace"] = trace_detail(probe, detail)
    return result


# --- streaming -------------------------------------------------------------


def run_stream(spark, args, probe) -> dict:
    from roar_spark.config import EngineConfig
    from roar_spark.sources.kafka_python import kafka_python_envelope_stream
    from roar_spark.streaming.flight_facade import serve_in_thread
    from roar_spark.streaming.manager import StreamEngine

    backfill = args.workload == "stream_backfill"
    config = EngineConfig(
        brokers=args.bootstrap,
        topics=(TOPIC,),
        batch_size=args.batch_size,
        buffer_limit_bytes=args.buffer_limit,
        flush_interval_seconds=args.trigger_seconds,
        starting_offsets="earliest" if backfill else "latest",
        checkpoint_path=os.path.join(args.work, "checkpoints"),
    )
    engine = StreamEngine(
        spark, config, store_base=os.path.join(args.work, "store") if backfill else None
    )
    server = serve_in_thread(engine, 0)
    try:
        env = kafka_python_envelope_stream(spark, config, (TOPIC,)).drop("topic")
        if backfill:
            emit("ready", port=server.port)
            wait_command("go")
            if probe is not None:
                probe.mark_window()
            started = time.time()
            engine.ingest(TOPIC, env)
            emit("started", t=started)
            query = ingest_query(spark, TOPIC)
        else:
            engine.ingest(TOPIC, env)
            query = ingest_query(spark, TOPIC)
            # "latest" resolves at the first trigger: records produced
            # before it would sit below the query's initial offset
            while not query.recentProgress:
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
                time.sleep(0.05)
            if probe is not None:
                probe.mark_window()
            emit("ready", port=server.port)
        wait_command("stop")
        progress = [json.loads(p.json) for p in query.recentProgress]
        stats = {"progress": progress}
        if query.exception() is not None:
            stats["error"] = str(query.exception())[:500]
        if TOPIC in engine.list_streams():
            described = engine.describe_stream(TOPIC)
            stats["records_dropped"] = described["records_dropped"]
            stats["buffer_bytes"] = described["bytes"]
        if probe is not None:
            stats["layers"], detail = probe.stream_layers(progress)
            stats["layers"]["manager.buffer_bytes"] = float(stats.get("buffer_bytes", 0))
            stats["layers"]["manager.records_dropped"] = float(stats.get("records_dropped", 0))
            stats["trace"] = trace_detail(probe, detail)
        return stats
    finally:
        engine.stop()
        server.shutdown()


def trace_detail(probe, detail: dict) -> dict:
    tracer = probe.tracer
    return {
        "spans": tracer.finished(),
        "self_s": tracer.self_times(),
        "tracer_overhead_s": tracer.overhead_s,
        **detail,
    }


def ingest_query(spark, topic: str):
    """The ingest StreamingQuery ``StreamEngine.ingest`` started for ``topic``."""
    for query in spark.streams.active:
        if query.name == f"roar-{topic}":
            return query
    raise RuntimeError(f"no active ingest query for {topic!r}")


if __name__ == "__main__":
    sys.exit(main())
