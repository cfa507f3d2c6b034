"""Anchor-era budget conversion for queries that post-date the r10 anchor
window (the r11 substring-budget protocol, reused verbatim for new gated
queries).

Runs, in ONE session: the bench's calibration probes (quietness
evidence), then ROUND-INTERLEAVED reps — each round runs every anchored
query (the same five r11 used: q1_pricing_summary, dedup_minhash_lsh,
text_fingerprint, agg_distinct, window_running) and every NEW query once,
so a host steal burst lands on anchors and new queries alike instead of
biasing whichever lane it overlapped (the r12 box shows 2-4x
python/shuffle-lane swings WITHIN a session; the r11 sequential protocol
assumed within-session stationarity this box no longer has). Best-of-N
per query over the rounds; the conversion ratio is the median
best/budget ratio over the anchored five (the query-lane conversion —
the probe lane disagreed by 30% in the r11 session); each new query's
anchor-era budget is its best divided by that ratio.

Usage: python tools/budget_convert.py <query> [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ANCHORED = [
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "text_fingerprint",
    "agg_distinct",
    "window_running",
]


def main() -> None:
    new_queries = sys.argv[1:]
    rounds = int(os.environ.get("BUDGET_CONVERT_ROUNDS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import BUDGETS_SF01, run_probes
    from roar_spark.caching import scope
    from roar_spark.registry import QUERIES
    from roar_spark.session import get_spark, warm_python_workers

    spark = get_spark(app_name="budget_convert")
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_python_workers(spark)
    spark.read.parquet(f"{sf_dir}/region.parquet").collect()

    print("start probes:", run_probes(spark))

    order = ANCHORED + new_queries
    best: dict[str, float] = {}
    for rnd in range(rounds):
        for name in order:
            t0 = time.perf_counter()
            with scope():
                rows = QUERIES[name](spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            _ = len(rows)
            best[name] = min(best.get(name, dt), dt)
            print(f"round{rnd} {name}: {dt:.3f}s", flush=True)

    ratios = []
    for name in ANCHORED:
        r = best[name] / BUDGETS_SF01[name]
        ratios.append(r)
        print(f"anchored {name}: best{rounds} {best[name]:.3f}s budget {BUDGETS_SF01[name]} ratio {r:.3f}")
    conv = statistics.median(ratios)
    print(f"conversion ratio (median of {len(ratios)}): {conv:.3f}")

    for name in new_queries:
        print(f"new {name}: best{rounds} {best[name]:.3f}s -> anchor-era budget {best[name] / conv:.3f}")

    print("end probes:", run_probes(spark))


if __name__ == "__main__":
    main()
