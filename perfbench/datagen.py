"""Inputs for the benchmark: the batch corpus and the streaming messages.

The batch corpus has the schema and value shapes of the TPC-H-like tables
the registry's queries and oracles are written against
(``roar_spark.catalog.TABLES``): uniform keys, 2-decimal
prices, day-granular order/ship dates, an ``events`` table sorted by ``ts``,
a 31-word-vocabulary ``documents`` table with planted duplicates and unit
``embeddings``. It is drawn from a fixed generator seed, so every run of a
given scale reads the same files; the run's ``--seed`` shuffles query order
instead. Streaming messages are drawn from the run's ``--seed``.
"""

from __future__ import annotations

import json
import os
import random
import shutil

CORPUS_SEED = 20240101
CORPUS_VERSION = 1

_ADJ = ["blue", "cold", "hot", "new", "red", "small", "old", "green"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "key scan batch query agg index"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]


def _rows(sf: float, per_sf: int, floor: int = 1) -> int:
    return max(floor, int(round(per_sf * sf)))


def generate_corpus(out: str, sf: float) -> str:
    """Write the ten corpus tables as ``<out>/<table>.parquet``; reuses a
    complete earlier generation of the same scale and version."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = {"sf": sf, "seed": CORPUS_SEED, "version": CORPUS_VERSION}
    stamp_path = os.path.join(out, "_corpus.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if json.load(fh) == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(CORPUS_SEED)

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_cust = _rows(sf, 150_000)
    n_supp = _rows(sf, 10_000)
    n_part = _rows(sf, 200_000)
    n_ord = _rows(sf, 1_500_000)
    n_line = _rows(sf, 6_000_000)
    n_evt = _rows(sf, 1_000_000)
    n_docs = _rows(sf, 50_000, floor=500)
    n_emb = _rows(sf, 20_000, floor=500)
    n_users = _rows(sf, 15_000, floor=10)

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(days("1995-01-02", 2499, n_line), pa.timestamp("us")),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us").astype("int64")
    write("events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.004:  # planted exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and rng.random() < 0.01:  # planted near duplicate
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n_tok)))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    with open(stamp_path, "w") as fh:
        json.dump(stamp, fh)
    return out


# --- streaming messages ------------------------------------------------------

def message(rng: random.Random, i: int) -> dict:
    """Every message carries every field, so the schema the engine freezes
    from its first ten messages is the same for every seed."""
    return {
        "id": i,
        "user": f"u{rng.randrange(500)}",
        "kind": rng.choice(_EVENT_TYPES),
        "amount": round(rng.uniform(0, 1000), 2),
        "ok": rng.random() < 0.9,
        "note": " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(2, 9))),
    }


def messages(seed: int, n: int) -> list[bytes]:
    """``n`` JSON payloads drawn from ``seed``; payload ``i`` has ``id == i``."""
    rng = random.Random(seed)
    return [json.dumps(message(rng, i), separators=(",", ":")).encode() for i in range(n)]
