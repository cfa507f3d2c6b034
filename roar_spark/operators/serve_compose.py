"""Serve→query composition: prove the serving facade's output is the SAME
relational surface as a direct table scan.

Round-1 tested serving (StreamEngine/ParquetStore) and the query corpus in
isolation; this operator composes them end to end: a corpus table flows
through the retention store (append_batch per half → batch directories →
``StreamEngine.fetch`` snapshot) and the snapshot is aggregated with the
exact ROLLUP the corpus runs directly — so the DuckDB oracle is the plain
table aggregation, and a hash match proves the served path loses/alters
nothing (reference analog: querying what the Flight server serves,
flight/server.go:171-208, instead of the topic that fed it).

The ingest conversion uses the A13 converter hook batch-mode: the
"envelope" IS the typed projection and the converter is identity — the
same plug-in surface a custom wire format would use
(kafka/consumer.go:79-86).

Scale shape: ParquetStore appends are executor-side parquet writes (no
driver collect), the snapshot is a multi-directory parquet scan, and the
rollup aggregates with map-side partial aggregation — the whole path is
the documented 100 TB retention design (manager.py ParquetStore).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roar_spark.catalog import load_table
from roar_spark.config import EngineConfig
from roar_spark.operators.relational import dsum
from roar_spark.streaming.manager import StreamEngine

_TOPIC = "orders_feed"

# One live serving tempdir per operator: the snapshot returned to the
# caller lazily scans the store, so the CURRENT invocation's dir must
# outlive the call — but the PREVIOUS one can go.
# Without this, sweep-length sessions accumulate a corpus-sized tempdir
# per invocation. Also the place the buffer cap is set: the serve-compose
# contract is "the store loses/alters NOTHING", so the default 100 MiB
# eviction cap must not silently drop the first batch at larger corpora.
_SERVE_DIRS: dict[str, str] = {}
_SERVE_DIRS_LOCK = threading.Lock()
_NO_EVICT_BYTES = 1 << 50


def _fresh_store_base(tag: str) -> str:
    import shutil
    import tempfile

    # Locked because callers may run concurrently: a concurrent
    # pop+rmtree must not delete a live store dir mid-read or leak the
    # tempdir created between the pop and the store.
    with _SERVE_DIRS_LOCK:
        old = _SERVE_DIRS.pop(tag, None)
        if old:
            shutil.rmtree(old, ignore_errors=True)
        d = tempfile.mkdtemp(prefix=f"roar_serve_{tag}_")
        _SERVE_DIRS[tag] = d
    return d


def served_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (status, priority) over orders SERVED through the
    ParquetStore retention path. Two append_batch calls (even/odd order
    keys) exercise the multi-batch snapshot; results must hash-match the
    direct-table agg_rollup oracle exactly."""
    src = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    engine = StreamEngine(
        spark,
        EngineConfig(buffer_limit_bytes=_NO_EVICT_BYTES),
        store_base=_fresh_store_base("rollup"),
    )
    # identity converter: the envelope is already the typed projection
    engine.register_converter(_TOPIC, lambda env, _schema: env, src.schema)
    engine.register_stream(_TOPIC, [])
    engine.append_batch(_TOPIC, src.filter(F.col("o_orderkey") % 2 == 0))
    engine.append_batch(_TOPIC, src.filter(F.col("o_orderkey") % 2 == 1))
    served = engine.fetch(_TOPIC, limit=-1)
    # engine intentionally NOT stopped: the snapshot lazily scans the store
    # directories; the dir is reclaimed on the NEXT invocation
    # (_fresh_store_base) rather than leaking one per call
    return (
        served.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


def served_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON envelopes through the FULL inference/coercion serve path
    with ``infer_nested=True`` (the Struct/Array extension, SURVEY.md §1.3),
    then queried relationally — the missing serve→query composition for the
    nested lattice (COVERAGE A7-A9 extension).

    events rows are re-serialized as nested JSON payloads
    ``{event_id, event_type, user:{uid, score}, tags:[...]}``; a 10-payload
    sample bootstraps the frozen schema through the nested promotion
    lattice (struct + array fields inferred, not stringified), every
    envelope parses through from_json at the nested carrier shape
    (coerce.carrier_type passes nested targets through typed), and the
    served snapshot is flattened with struct/array accessors and
    aggregated. The oracle is the equivalent flat aggregation DuckDB runs
    directly on events — a hash match proves the nested roundtrip
    (serialize → infer → parse → store → snapshot → flatten) loses
    nothing. Aggregates are chosen order-independent (count / integer sum
    / max / min) so the proof is exact. Scale shape: serialization and
    parsing are per-row codegen projections; the one shuffle is the final
    aggregation."""
    ev = load_table(spark, "events", sf_dir)
    payload = F.to_json(
        F.struct(
            F.col("event_id"),
            F.col("event_type"),
            F.struct(
                F.col("user_id").alias("uid"), F.col("value").alias("score")
            ).alias("user"),
            F.array(F.col("event_type"), F.upper(F.col("event_type"))).alias("tags"),
        )
    )
    env = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").alias("offset"),
        F.lit(0).alias("partition"),
        payload.alias("value"),
    )
    topic = "events_nested_feed"
    engine = StreamEngine(
        spark,
        EngineConfig(infer_nested=True, buffer_limit_bytes=_NO_EVICT_BYTES),
        store_base=_fresh_store_base("nested"),
    )
    # deterministic bootstrap sample: the 10 lowest-offset payloads
    sample = [
        r.value for r in env.orderBy("offset").limit(10).select("value").collect()
    ]
    engine.register_stream(topic, sample)
    engine.append_batch(topic, env)
    served = engine.fetch(topic, limit=-1)
    return (
        served.select(
            "event_type",
            F.col("user.uid").alias("uid"),
            F.col("user.score").alias("score"),
            F.element_at("tags", 2).alias("tag2"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("uid").alias("sum_uid"),
            F.round(F.max("score"), 6).alias("max_score"),
            F.min("tag2").alias("tag_upper"),
        )
        .orderBy("event_type")
    )


def served_rescued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rescued-column extension (config.rescue_columns, SURVEY §2.3.5)
    composed end-to-end through the store: the schema FREEZES on a
    pre-drift sample carrying only {event_id, event_type}, then every
    envelope arrives POST-DRIFT with two extra payload fields (user_id,
    value) — the reference silently drops them forever
    (kafka/consumer.go inferSchema freezes on the first batch); with
    rescue on they land in the reserved ``_rescued`` JSON column, flow
    through the ParquetStore and the snapshot, and are extracted BACK OUT
    relationally. The oracle is the flat aggregation on the original
    events table — a hash match proves the freeze→drift→rescue→serve→
    extract roundtrip loses nothing (shortest-repr double text survives
    the string map exactly).

    Scale shape: rescue is one extra from_json(map) + map_filter
    projection per envelope (codegen, no shuffle); extraction is
    get_json_object; the one shuffle is the final aggregation."""
    import json

    ev = load_table(spark, "events", sf_dir)
    payload = F.to_json(  # to_json omits NULL fields — a row with null
        # user_id/value rescues nothing for them, matching the oracle's
        # NULL semantics (sum/max/min ignore NULLs on both sides)
        F.struct("event_id", "event_type", "user_id", "value")
    )
    env = ev.select(
        F.col("event_id").cast("string").alias("key"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").alias("offset"),
        F.lit(0).alias("partition"),
        payload.alias("value"),
    )
    topic = "events_drifted_feed"
    engine = StreamEngine(
        spark,
        EngineConfig(rescue_columns=True, buffer_limit_bytes=_NO_EVICT_BYTES),
        store_base=_fresh_store_base("rescued"),
    )
    # freeze BEFORE the drift: the bootstrap sample has only the two
    # original fields, so user_id/value are post-freeze by construction
    engine.register_stream(
        topic, [json.dumps({"event_id": 0, "event_type": "click"})]
    )
    engine.append_batch(topic, env)
    served = engine.fetch(topic, limit=-1)
    return (
        served.select(
            "event_type",
            F.get_json_object("_rescued", "$.user_id").cast("long").alias("uid"),
            F.get_json_object("_rescued", "$.value").cast("double").alias("score"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("uid").alias("sum_uid"),
            F.round(F.max("score"), 6).alias("max_score"),
            F.round(F.min("score"), 6).alias("min_score"),
        )
        .orderBy("event_type")
    )


def served_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-cap drop-oldest RETENTION (A16's distributed ParquetStore
    path, stream/manager.go:288-310 eviction loop) end-to-end under the
    oracle. The served_rollup/served_nested pair proves the store loses
    NOTHING below its cap; this proves eviction loses EXACTLY the right
    thing: four deterministic quarter-batches of orders
    (o_orderkey % 4 == 0..3, appended in order) flow through a store
    capped so drop-oldest retention keeps precisely the LAST TWO batches,
    and the aggregation over the surviving snapshot must hash-match plain
    SQL over ``o_orderkey % 4 >= 2``.

    Cap derivation: an UNCAPPED probe pass appends all four quarters and
    reads each one's real on-disk footprint s0..s3 (parquet size is
    encoding-dependent, so it is measured, never estimated); the capped
    store then gets cap = s2 + s3 + s1/2 — strictly between the last two
    batches' total and the last three's, so replaying the same appends
    provably evicts exactly batches 0 and 1 whenever the quarters are
    within ~±33% of each other (a fixed 2.5× single-probe cap only
    tolerated ~±17%; r6 review). The margin is still CHECKED loudly, not
    assumed: the operator raises if the store ends with anything but 2
    batches, rather than returning silently-wrong survivors.

    Scale shape: appends are executor-side parquet writes, eviction is
    O(1) driver metadata plus deferred directory deletes, and the
    surviving snapshot is a 2-directory parquet scan feeding one
    map-side-combined aggregation."""
    topic = "orders_retained"
    src = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def quarter(i: int) -> DataFrame:
        return src.filter(F.col("o_orderkey") % 4 == i)

    probe = StreamEngine(
        spark,
        EngineConfig(buffer_limit_bytes=_NO_EVICT_BYTES),
        store_base=_fresh_store_base("ret_probe"),
    )
    probe.register_converter(topic, lambda env, _schema: env, src.schema)
    probe.register_stream(topic, [])
    sizes = []
    seen = 0
    for i in range(4):
        probe.append_batch(topic, quarter(i))
        total = probe.describe_stream(topic)["bytes"]
        sizes.append(total - seen)
        seen = total

    engine = StreamEngine(
        spark,
        EngineConfig(buffer_limit_bytes=sizes[2] + sizes[3] + sizes[1] // 2),
        store_base=_fresh_store_base("retention"),
    )
    engine.register_converter(topic, lambda env, _schema: env, src.schema)
    engine.register_stream(topic, [])
    for i in range(4):
        engine.append_batch(topic, quarter(i))
    desc = engine.describe_stream(topic)
    if desc["batches"] != 2 or desc["records_dropped"] == 0:
        raise RuntimeError(
            "served_retention: eviction did not converge to the last two "
            f"batches (got {desc}) — cap margin assumption broke; fix the "
            "cap arithmetic rather than trusting these survivors"
        )
    served = engine.fetch(topic, limit=-1)
    return (
        served.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("o_totalprice")).alias("total"),
        )
        .orderBy("o_orderstatus")
    )
