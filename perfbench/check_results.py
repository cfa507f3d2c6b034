"""Correctness checks, run outside the timed window.

Batch results are compared with ``roar_spark.registry.ORACLES`` evaluated by
DuckDB over the same corpus, with ``tools/check.py``'s comparison: row count,
column names, column types and the exact order-insensitive multiset of rows.
Streamed rows are compared with the payloads the generator produced.
"""

from __future__ import annotations

import json
import os


def check_batch(corpus: str, outputs: list[tuple]):
    """Yield ``(op_index, problem)`` for every result that differs from its
    oracle. ``outputs`` holds ``(op_index, name, columns, dtypes, rows)``."""
    import duckdb

    from roar_spark.catalog import TABLES
    from roar_spark.registry import ORACLES
    from tools.check import canon_duck, canon_spark, rows_key

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(corpus, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        expected: dict[str, tuple] = {}
        for index, name, columns, dtypes, rows in outputs:
            if name not in expected:
                rel = con.sql(ORACLES[name])
                d_cols = [c.lower() for c in rel.columns]
                d_types = {c.lower(): canon_duck(str(t)) for c, t in zip(rel.columns, rel.types)}
                expected[name] = (d_cols, d_types, rel.fetchall(), {})
            d_cols, d_types, d_rows, keys = expected[name]
            s_cols = [c.lower() for c in columns]
            if sorted(s_cols) != sorted(d_cols):
                yield index, f"columns {s_cols} != oracle {d_cols}"
                continue
            s_types = {c.lower(): canon_spark(t) for c, t in dtypes}
            if any(s_types[c] != d_types[c] for c in s_cols):
                yield index, f"types {s_types} != oracle {d_types}"
                continue
            order = tuple(s_cols)
            if order not in keys:  # oracle rows aligned to Spark's column order
                idx = [d_cols.index(c) for c in s_cols]
                keys[order] = rows_key([tuple(r[i] for i in idx) for r in d_rows])
            if len(rows) != len(d_rows):
                yield index, f"{len(rows)} rows != oracle {len(d_rows)}"
            elif rows_key([tuple(r) for r in rows]) != keys[order]:
                yield index, "row values differ from the oracle"
    finally:
        con.close()


def check_stream(payloads: list[bytes], served: dict, records_dropped: int) -> list[str]:
    """Compare served rows with the produced payloads.

    ``served`` maps ``(kafka_partition, kafka_offset)`` to the row dict the
    engine served first; ``payloads[i]`` was produced to partition
    ``i % 2`` at offset ``i // 2``. Every served row must carry its
    payload's values, and the records never served may not outnumber the
    records the engine reports as dropped by eviction."""
    problems = []
    mismatched = 0
    for (partition, offset), row in served.items():
        i = offset * 2 + partition
        if i >= len(payloads):
            problems.append(f"served a record never produced: {partition}/{offset}")
            continue
        expected = json.loads(payloads[i])
        if any(row.get(k) != v for k, v in expected.items()):
            mismatched += 1
            if mismatched <= 3:
                got = {k: row.get(k) for k in expected}
                problems.append(f"record {partition}/{offset}: served {got} != produced {expected}")
    unseen = len(payloads) - len(served)
    if unseen > records_dropped:
        problems.append(f"{unseen} produced records never served, only {records_dropped} dropped")
    return problems
