"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/NOTES.md):

- ``batch_relational`` / ``batch_llm``: the registry's headline queries over
  a generated corpus, closed loop, one client, query order shuffled by the
  seed.
- ``stream_live``: records produced open-loop at a fixed rate into the
  in-repo Kafka broker, ingested by the engine in ``roar_spark serve``'s
  configuration and read back through the Flight facade.
- ``stream_backfill``: a seed-generated backlog drained into a ParquetStore,
  then read whole through plain-topic DoGets.

This process is the load generator: it runs the broker, the producer and
the Flight readers, and starts the engine (``engine.py``) as a separate
process whose process tree it samples for peak RSS. The last line printed
is the result JSON; ``--trace 1`` reports the per-layer metrics instead of
the end-to-end ones and writes the spans to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from engine import TOPIC
from quantiles import percentile
from tracing_report import client_readings, layer_metrics, write_trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_relational", "batch_llm", "stream_live", "stream_backfill")

# Run sizes. "full" is what BENCHMARK.json measures; "toy" is the smoke
# test's size.
SIZES = {
    "full": {"sf": 0.01, "live_rate": 150.0, "backfill_rows_per_s": 2000, "dogets": 15},
    "toy": {"sf": 0.001, "live_rate": 40.0, "backfill_rows_per_s": 100, "dogets": 3},
}
TRIGGER_S = 5.0  # roar_spark serve's flush interval
LIVE_BATCH = 1024  # roar_spark serve's --batch-size, as maxOffsetsPerTrigger
LIVE_BUFFER_BATCHES = 2  # byte cap, in triggers' worth of served rows
LIVE_ROW_BYTES = 120  # Arrow bytes of one served record in the MemoryStore
POLL_S = 0.025  # latency poller period
READER_HZ = 2.0  # reference-client plain DoGets per second
ENGINE_TIMEOUT_S = 170.0
ENGINE_HEAP = "2g"


PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def group_usage(pgid: int) -> tuple[int, int, float]:
    """(processes, summed anonymous RSS bytes, CPU seconds) of process group
    ``pgid``. CPU counts user + system time, plus that of exited children
    the group has reaped.

    RSS leaves out file-backed pages (jars, shared libraries): the kernel
    drops and re-reads those as the host's page cache demands. A child that
    still shares its parent's address space is counted once: when the JVM
    starts a process (``posix_spawn`` is a ``vfork``), the child reports the
    whole JVM's RSS until it calls ``exec``, and a sample taken in that
    window would count the JVM twice."""
    procs: dict[int, tuple[int, tuple, int]] = {}  # pid -> (ppid, layout, anon bytes)
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            if int(fields[2]) != pgid:
                continue
            with open(f"/proc/{entry}/statm") as fh:
                resident, shared = (int(f) for f in fh.read().split()[1:3])
        except OSError:
            continue  # exited while listing
        ticks += sum(int(f) for f in fields[11:15])
        # vsize, start_code, end_code, start_stack: equal for a shared mm
        layout = (fields[20], fields[23], fields[24], fields[25])
        procs[int(entry)] = (int(fields[1]), layout, (resident - shared) * PAGE)
    rss = sum(
        anon for ppid, layout, anon in procs.values()
        if ppid not in procs or procs[ppid][1] != layout
    )
    return len(procs), rss, ticks / TICK


class UsageSampler(threading.Thread):
    """Peak summed RSS of the engine's process group, sampled."""

    def __init__(self, pgid: int, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self._pgid = pgid
        self._period = period
        self._halt = threading.Event()
        self.peak_bytes = 0

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, group_usage(self._pgid)[1])
            self._halt.wait(self._period)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


class Engine:
    """The engine subprocess and its event stream."""

    def __init__(self, args: argparse.Namespace, work: str, extra: list[str]) -> None:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        # Spark's Python workers unpickle roar_spark code: the repository
        # root must be importable in every worker, not only here
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        env["TMPDIR"] = tmp
        # The default driver heap is a share of host RAM, and the JVM grows
        # its heap lazily as GC ergonomics decide: peak RSS then differs
        # between hosts and swings by a third between runs. A fixed,
        # pre-touched heap makes it repeatable; what varies is the memory
        # outside the heap (Python driver and workers, Arrow, JVM native).
        env["SPARK_DRIVER_MEMORY"] = ENGINE_HEAP
        env["SPARK_SUBMIT_OPTS"] = f"-Xms{ENGINE_HEAP} -XX:+AlwaysPreTouch"
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # local[N] follows os.cpu_count(), which counts the host's CPUs, not
        # the ones this process may run on
        env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        cmd = [
            sys.executable, os.path.join(HERE, "engine.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, *extra,
        ]
        self._log = open(os.path.join(work, "engine.log"), "w")
        self.started = time.perf_counter()
        # its own process group: the JVM and the Python workers it forks
        # are stopped with the engine, whichever way the run ends
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, text=True, start_new_session=True,
        )
        self.rss = UsageSampler(self.proc.pid)
        self.rss.start()
        self._watchdog = threading.Timer(ENGINE_TIMEOUT_S, self._signal, (signal.SIGKILL,))
        self._watchdog.daemon = True
        self._watchdog.start()

    def _signal(self, sig: int) -> None:
        try:
            os.killpg(self.proc.pid, sig)
        except ProcessLookupError:
            pass

    def cpu_seconds(self) -> float:
        return group_usage(self.proc.pid)[2]

    def wait_event(self, name: str) -> dict:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                event = json.loads(line[2:])
                if event["event"] == name:
                    return event
        self._log.flush()
        with open(self._log.name) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"engine exited before {name!r}; its log ends:\n{tail}")

    def send(self, command: str) -> None:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        """Stop the engine and every process it started, and wait for them."""
        self._watchdog.cancel()
        self.rss.stop()
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._signal(signal.SIGKILL)
            self.proc.wait()
        deadline = time.time() + 10
        self._signal(signal.SIGTERM)
        while group_usage(self.proc.pid)[0]:
            if time.time() > deadline:
                self._signal(signal.SIGKILL)
            time.sleep(0.1)
        self._log.close()


# --- batch -------------------------------------------------------------------


def run_batch(args, size, work) -> dict:
    from datagen import generate_corpus

    corpus = generate_corpus(os.path.join(HERE, "cache", f"corpus-sf{size['sf']}"), size["sf"])
    engine = Engine(args, work, ["--corpus", corpus])
    try:
        engine.wait_event("ready")
        session_s = time.perf_counter() - engine.started
        # set-up runs until the first timed operation: it includes the
        # warm-up pass, so work moved into a query's first run still shows
        engine.wait_event("warm")
        setup_s = time.perf_counter() - engine.started
        cpu0 = engine.cpu_seconds()
        engine.wait_event("timed_done")
        cpu_s = engine.cpu_seconds() - cpu0
        engine.rss.stop()
        result = engine.wait_event("result")
    finally:
        engine.close()
    ops = result["ops"]
    timed = [op for op in ops if not op["warmup"]]
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        print(f"failed: {op['name']}: {op.get('error')}", file=sys.stderr)
    # one pass = every query once; each query counts with its median over
    # the timed passes, so a slow moment in one pass does not move the run
    per_query: dict[str, list[float]] = {}
    for op in timed:
        per_query.setdefault(op["name"], []).append(op["s"])
    medians = [statistics.median(v) for v in per_query.values()]
    times = [op["s"] * 1e3 for op in timed]
    return {
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (engine.rss.peak_bytes / 2**20, "MB"),
            "wall_s": (sum(medians), "s"),
            "latency_mean_ms": (statistics.fmean(medians) * 1e3, "ms"),
        },
        "report": {
            "session_s": (session_s, "s"),
            "cold_pass_s": (result["cold_pass_s"], "s"),
            "cpu_s": (cpu_s / len(result["passes"]), "s"),
            "samples": (len(times), "count"),
            "latency_p50_ms": (percentile(times, 0.50), "ms"),
            "latency_p99_ms": (percentile(times, 0.99), "ms"),
            "passes": (len(result["passes"]), "count"),
        },
        "engine": result,
        "measured_s": sum(result["passes"]),
    }


# --- streaming ---------------------------------------------------------------


def _flight_rows(table) -> dict:
    """``(kafka_partition, kafka_offset)`` -> row dict, first occurrence."""
    out = {}
    for row in table.to_pylist():
        out.setdefault((row["kafka_partition"], row["kafka_offset"]), row)
    return out


class Poller(threading.Thread):
    """Latency poller: ``hwm`` action, then a ranged DoGet of the new rows.
    Ranged reads restart at the front after an eviction (at-least-once),
    so rows are deduplicated by ``(kafka_partition, kafka_offset)``."""

    def __init__(self, location: str, stop: threading.Event) -> None:
        super().__init__(daemon=True)
        self._location = location
        self._halt = stop
        self.seen: dict[tuple, float] = {}
        self.rows: dict[tuple, dict] = {}
        self.error: str | None = None

    def run(self) -> None:
        import pyarrow.flight as flight

        client = flight.connect(self._location)
        start, head, epoch = 0, None, None
        try:
            while not self._halt.is_set():
                try:
                    hwm = json.loads(next(iter(
                        client.do_action(flight.Action("hwm", TOPIC.encode()))
                    )).body.to_pybytes())
                except KeyError:  # no stream until the first batch bootstraps it
                    if self.seen:
                        raise
                    self._halt.wait(POLL_S)
                    continue
                if hwm["rows"] != start or hwm["epoch"] != epoch:
                    ticket = {"topic": TOPIC, "start": start, "end": hwm["rows"],
                              "start_head": head, "start_epoch": epoch}
                    table = client.do_get(flight.Ticket(json.dumps(ticket).encode())).read_all()
                    now = time.time()
                    for key, row in _flight_rows(table).items():
                        if key not in self.seen:
                            self.seen[key] = now
                            self.rows[key] = row
                    start, head, epoch = hwm["rows"], hwm["head"], hwm["epoch"]
                self._halt.wait(POLL_S)
        except Exception as exc:  # noqa: BLE001 — reported as a failed run
            if not self._halt.is_set():
                self.error = repr(exc)
        finally:
            client.close()


def plain_doget(client):
    """One reference-client read, a plain-topic DoGet of the whole buffer:
    (seconds, table)."""
    import pyarrow.flight as flight

    t0 = time.perf_counter()
    table = client.do_get(flight.Ticket(TOPIC.encode())).read_all()
    return time.perf_counter() - t0, table


def distinct_records(table) -> int:
    """Number of distinct ``(kafka_partition, kafka_offset)`` pairs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    part = table["kafka_partition"].cast(pa.int64())
    return pc.count_distinct(pc.add(pc.multiply(part, 1 << 40), table["kafka_offset"])).as_py()


def wait_hwm(client, rows: int, timeout: float) -> float | None:
    """Poll the ``hwm`` action until ``rows`` rows are served; epoch seconds."""
    import pyarrow.flight as flight

    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            body = next(iter(client.do_action(flight.Action("hwm", TOPIC.encode())))).body
            if json.loads(body.to_pybytes())["rows"] >= rows:
                return time.time()
        except KeyError:
            pass  # no stream until the first batch bootstraps it
        time.sleep(POLL_S)
    return None


def start_broker():
    from roar_spark.sources.kafka_broker import KafkaBroker

    broker = KafkaBroker(default_partitions=2).start()
    broker.create_topic(TOPIC, 2)
    return broker


def _records(batch: list[tuple[int, float, bytes]]):
    from roar_spark.sources.kafka_wire import KafkaRecord

    return [
        KafkaRecord(offset=j, timestamp_ms=int(due * 1000), key=str(i).encode(), value=value)
        for j, (i, due, value) in enumerate(batch)
    ]


def run_stream_live(args, size, work) -> dict:
    import pyarrow.flight as flight

    from datagen import messages
    from roar_spark.sources.kafka_wire import KafkaWireClient

    rate = size["live_rate"]
    horizon = args.seconds + 6 * TRIGGER_S  # warm-up + window + tail
    payloads = messages(args.seed, int(rate * horizon) + 1)
    # byte cap: about LIVE_BUFFER_BATCHES triggers' worth of served rows,
    # so drop-oldest eviction runs in steady state
    buffer_limit = int(LIVE_BUFFER_BATCHES * TRIGGER_S * rate * LIVE_ROW_BYTES)

    t0 = time.perf_counter()
    broker = start_broker()
    broker_s = time.perf_counter() - t0
    engine = Engine(args, work, [
        "--bootstrap", broker.bootstrap,
        "--buffer-limit", str(buffer_limit), "--batch-size", str(LIVE_BATCH),
        "--trigger-seconds", str(TRIGGER_S),
    ])
    stop = threading.Event()
    due: list[float] = []  # due time of record i, epoch seconds
    late: list[float] = []
    reads: list[tuple[float, float, int]] = []  # (due, seconds, rows) per plain DoGet
    produce_ms: list[float] = []
    read_errors: list[str] = []
    try:
        ready = engine.wait_event("ready")
        setup_s = broker_s + time.perf_counter() - engine.started
        location = f"grpc://127.0.0.1:{ready['port']}"
        poller = Poller(location, stop)

        def produce() -> None:
            """Open loop: record i is due at start + i / rate and is stamped
            with that due time as its CreateTime, however late it goes out."""
            with KafkaWireClient(broker.bootstrap) as client:
                t_start = time.time()
                i = 0
                while not stop.is_set() and i < len(payloads):
                    batch = []
                    now = time.time()
                    while i < len(payloads) and t_start + i / rate <= now:
                        batch.append((i, t_start + i / rate, payloads[i]))
                        i += 1
                    for part in (0, 1):
                        recs = [b for b in batch if b[0] % 2 == part]
                        if recs:
                            t_call = time.perf_counter()
                            client.produce(TOPIC, part, _records(recs))
                            produce_ms.append((time.perf_counter() - t_call) * 1e3)
                    sent_at = time.time()
                    for _, d, _ in batch:
                        due.append(d)
                        late.append(sent_at - d)
                    stop.wait(max(t_start + i / rate - time.time(), 0.0))

        def read_plain() -> None:
            """Reference-client reader: plain-topic DoGets on a fixed schedule."""
            client = flight.connect(location)
            try:
                t_next = time.time()
                while not stop.is_set():
                    try:
                        seconds, table = plain_doget(client)
                        reads.append((t_next, seconds, table.num_rows))
                    except KeyError as exc:  # no stream before the first batch
                        if poller.seen:
                            read_errors.append(repr(exc))
                    t_next += 1.0 / READER_HZ
                    stop.wait(max(t_next - time.time(), 0.0))
            finally:
                client.close()

        threads = [threading.Thread(target=produce, daemon=True), poller,
                   threading.Thread(target=read_plain, daemon=True)]
        for t in threads:
            t.start()
        # warm-up: the first data batch bootstraps the schema; the window
        # then starts on a trigger boundary, so it holds whole trigger periods
        deadline = time.time() + 4 * TRIGGER_S
        while not poller.seen and time.time() < deadline:
            time.sleep(POLL_S)
        window_start = (int(time.time() / TRIGGER_S) + 1) * TRIGGER_S
        window_end = window_start + args.seconds
        time.sleep(max(window_start - time.time(), 0.0))
        cpu0 = engine.cpu_seconds()
        time.sleep(max(window_end - time.time(), 0.0))
        window = [k for k in range(len(due)) if window_start <= due[k] < window_end]
        # the producer keeps going until the window's records are served
        tail_deadline = window_end + 3 * TRIGGER_S
        while time.time() < tail_deadline and not all(
            (k % 2, k // 2) in poller.seen for k in window
        ):
            time.sleep(POLL_S)
        cpu_s = engine.cpu_seconds() - cpu0
        stop.set()
        for t in threads:
            t.join(timeout=15)
        engine.send("stop")
        engine.rss.stop()
        result = engine.wait_event("result")
    finally:
        stop.set()
        engine.close()
        broker.shutdown()
    if not window:
        raise RuntimeError("no records were produced in the measured window")
    from check_results import check_stream

    seen = [poller.seen.get((k % 2, k // 2)) for k in window]
    latencies = [(t - due[k]) * 1e3 for k, t in zip(window, seen) if t is not None]
    checked = window[-1] + 1  # every record due before the window closed
    served = {key: row for key, row in poller.rows.items() if key[1] * 2 + key[0] < checked}
    problems = check_stream(payloads[:checked], served, result.get("records_dropped", 0))
    problems += [f"poller: {poller.error}"] if poller.error else []
    problems += [f"engine: {result['error']}"] if result.get("error") else []
    problems += [f"reader: {e}" for e in read_errors]
    for p in problems:
        print(f"failed: {p}", file=sys.stderr)
    window_reads = [(s * 1e3, n) for t, s, n in reads if window_start <= t < window_end]
    doget_ms = [ms for ms, _ in window_reads]
    missing = len(window) - len(latencies)
    return {
        "attempted": len(window) + len(window_reads),
        "failed": missing + len(problems),
        "metrics": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (engine.rss.peak_bytes / 2**20, "MB"),
            "wall_s": (max(t for t in seen if t is not None) - window_start, "s"),
            "latency_mean_ms": (statistics.fmean(latencies), "ms"),
        },
        "report": {
            "cpu_s": (cpu_s, "s"),
            "samples": (len(latencies), "count"),
            "latency_p50_ms": (percentile(latencies, 0.50), "ms"),
            "latency_p99_ms": (percentile(latencies, 0.99), "ms"),
            "doget_p50_ms": (percentile(doget_ms, 0.5), "ms"),
            "doget_p99_ms": (percentile(doget_ms, 0.99), "ms"),
            "offered_rate": (rate, "rows/s"),
            "late_p99_ms": (percentile(late, 0.99) * 1e3, "ms"),
            "records_dropped": (result.get("records_dropped", 0), "count"),
            "buffer_bytes": (result.get("buffer_bytes", 0), "bytes"),
        },
        "engine": result,
        "measured_s": args.seconds,
        "client": client_readings(
            doget_ms, [n for _, n in window_reads], [x * 1e3 for x in late], produce_ms
        ),
    }


def run_stream_backfill(args, size, work) -> dict:
    import pyarrow.flight as flight

    from datagen import messages
    from roar_spark.sources.kafka_wire import KafkaWireClient

    n = int(size["backfill_rows_per_s"] * args.seconds)
    payloads = messages(args.seed, n)
    t0 = time.perf_counter()
    broker = start_broker()
    broker_s = time.perf_counter() - t0
    produce_s: list[float] = []
    with KafkaWireClient(broker.bootstrap) as client:
        for part in (0, 1):
            rows = [(i, 0.0, payloads[i]) for i in range(part, n, 2)]
            for k in range(0, len(rows), 500):
                recs = _records(rows[k:k + 500])
                t = time.perf_counter()
                client.produce(TOPIC, part, recs)
                produce_s.append(time.perf_counter() - t)
    engine = Engine(args, work, [
        "--bootstrap", broker.bootstrap,
        "--batch-size", str(max(n // 4, 1)), "--trigger-seconds", "1",
    ])
    try:
        ready = engine.wait_event("ready")
        setup_s = broker_s + time.perf_counter() - engine.started
        location = f"grpc://127.0.0.1:{ready['port']}"
        client = flight.connect(location)
        try:
            cpu0 = engine.cpu_seconds()
            engine.send("go")
            started = engine.wait_event("started")["t"]
            done = wait_hwm(client, n, timeout=90.0)
            cpu_s = engine.cpu_seconds() - cpu0
            reads, keys, rows, first = [], [], [], None
            for _ in range(size["dogets"]):
                seconds, table = plain_doget(client)
                reads.append(seconds)
                rows.append(table.num_rows)
                keys.append(distinct_records(table))
                if first is None:
                    first = table
        finally:
            client.close()
        engine.send("stop")
        engine.rss.stop()
        result = engine.wait_event("result")
    finally:
        engine.close()
        broker.shutdown()
    if done is None:
        raise RuntimeError(f"backlog of {n} rows not served within 90 s")
    from check_results import check_stream

    problems = [
        f"DoGet served {k} distinct records, expected {n}" for k in keys if k != n
    ]
    problems += check_stream(payloads, _flight_rows(first), result.get("records_dropped", 0))
    problems += [f"engine: {result['error']}"] if result.get("error") else []
    for p in problems:
        print(f"failed: {p}", file=sys.stderr)
    drain_s = done - started
    doget_ms = [s * 1e3 for s in reads]
    return {
        "attempted": len(reads) + 1,
        "failed": len(problems),
        "metrics": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (engine.rss.peak_bytes / 2**20, "MB"),
            "wall_s": (drain_s, "s"),
            "latency_mean_ms": (statistics.fmean(doget_ms), "ms"),
        },
        "report": {
            "cpu_s": (cpu_s, "s"),
            "samples": (len(doget_ms), "count"),
            "latency_p50_ms": (percentile(doget_ms, 0.50), "ms"),
            "latency_p99_ms": (percentile(doget_ms, 0.99), "ms"),
            "drain_rows_per_s": (n / drain_s, "rows/s"),
            "doget_p50_ms": (percentile(doget_ms, 0.5), "ms"),
            "doget_p99_ms": (percentile(doget_ms, 0.99), "ms"),
            "rows": (n, "count"),
        },
        "engine": result,
        "measured_s": drain_s + sum(reads),
        "client": client_readings(doget_ms, rows, [], [x * 1e3 for x in produce_s]),
    }


RUNNERS = {
    "batch_relational": run_batch,
    "batch_llm": run_batch,
    "stream_live": run_stream_live,
    "stream_backfill": run_stream_backfill,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()
    # a terminated run still stops the engine and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "roar_spark", "__init__.py")):
        print(f"run.py: no roar_spark package under {ROOT}; nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = RUNNERS[args.workload](args, SIZES[args.size], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return report(args, out)


def report(args, out: dict) -> int:
    metrics = out["metrics"]
    readable = {**metrics, **out.get("report", {})}
    failed_ratio = out["failed"] / out["attempted"]
    print(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.4g} {u}" for k, (v, u) in readable.items()
    ) + f", failed_ratio={failed_ratio:.4g} ratio")
    if args.trace:
        layers = layer_metrics(out)
        write_trace(os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"), args, out, layers)
        values = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        values = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": values,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
