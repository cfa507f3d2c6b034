"""Registry-wide physical-plan audit (r11): build every registry query
against $SPARK_GRAFT_SF_DIR (default sf0.01 — plan shape, not timing) and
count the structural red-flag nodes in `explain("formatted")`:
BatchEvalPython/ArrowEvalPython (row-at-a-time Python), CartesianProduct,
SortMergeJoin, BroadcastNestedLoopJoin, Exchange counts. Each query is
built inside a ``caching.scope()``, and the source plan of every
intermediate it materialized is counted too: a checkpointed subtree
prints as a bare ``Scan ExistingRDD`` leaf in the query's own plan.
Prints one JSON line per run; the r11 optimization round's whole-surface
sweep evidence (OPTIMIZATION_r11.md).

A query is flagged (exit 1) when it has a row-UDF, a cartesian product,
an error, or more SortMergeJoins / BroadcastNestedLoopJoins than its
entry in VETTED_JOINS.

Usage: python tools/audit_plans.py [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _nodes(p: str, *names: str) -> int:
    """Numbered detail headers ("(53) SortMergeJoin", optionally followed
    by a "[codegen id : N]" tag) naming one of ``names`` exactly."""
    alt = "|".join(re.escape(n) for n in names)
    pat = rf"^\(\d+\) (?:{alt})(?: \[codegen id : \d+\])? *$"
    return len(re.findall(pat, p, re.M))


def plan_counts(p: str) -> dict:
    """Structural node counts for one explain("formatted") string.

    Tree-lines are no place to count: join lines carry the join type
    between the node name and the id ("SortMergeJoin LeftOuter (53)"),
    so the r11 'Name (' pattern never matched them and the smj/bnlj
    counters read 0 unconditionally (found r12), and a substring also
    matches inside longer names and argument text. Every counter reads
    the numbered detail headers instead, which are one per node and
    type-free (pinned in tests/test_audit_counts.py against a committed
    plan dump)."""
    return {
        "exch": _nodes(p, "Exchange"),
        "bcast": _nodes(p, "BroadcastExchange"),
        "smj": _nodes(p, "SortMergeJoin"),
        "bnlj": _nodes(p, "BroadcastNestedLoopJoin"),
        "cart": _nodes(p, "CartesianProduct"),
        "rowudf": _nodes(p, "BatchEvalPython", "ArrowEvalPython"),
        "arrow_kernels": _nodes(p, "MapInPandas", "FlatMapGroupsInPandas"),
        "wind": _nodes(p, "Window"),
    }


# SortMergeJoin / BroadcastNestedLoopJoin counts per query, recorded from
# one audit at sf0.01 and vetted as the correct strategies in
# OPTIMIZATION_r12.md: the SMJs are full-outer or corpus-sized LeftOuter
# final joins and range-join equi-prefixes, the BNLJs non-equi joins with a
# bounded broadcast side. A query missing here is vetted at 0 of each.
VETTED_JOINS = {
    "join_full_outer": {"smj": 1},
    "dedup_clusters_star": {"smj": 1},
    "dedup_embedding": {"smj": 1},
    "dedup_embedding_lsh": {"smj": 1},
    "embedding_knn_classify_bulk": {"smj": 1},
    "events_range_join": {"smj": 1},
    "q21_waiting_supplier": {"smj": 1},
    "q20_excess_suppliers": {"smj": 1},
    "join_non_equi": {"bnlj": 1},
    "dedup_simhash": {"bnlj": 1},
    "sim_brute_topk": {"bnlj": 1},
    "embedding_knn_classify": {"bnlj": 1},
    "sample_temperature": {"bnlj": 1},
    "q22_idle_customers": {"bnlj": 1},
    "q11_important_parts": {"bnlj": 1},
}


def flag_reasons(row: dict) -> list[str]:
    """Why one audit row is flagged; empty when it is clean."""
    if "err" in row:
        return ["error"]
    reasons = [k for k in ("rowudf", "cart") if row.get(k)]
    vetted = VETTED_JOINS.get(row["q"], {})
    reasons += [
        f"{k} {row[k]} > vetted {vetted.get(k, 0)}"
        for k in ("smj", "bnlj")
        if row.get(k, 0) > vetted.get(k, 0)
    ]
    return reasons


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from roar_spark.caching import scope
    from roar_spark.registry import QUERIES
    from roar_spark.session import get_spark

    spark = get_spark(app_name="roar_spark_audit")
    names = sys.argv[1:] or list(QUERIES)
    rows = []
    for name in names:
        try:
            with scope() as held:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                counts = plan_counts(_formatted(df))
                build_s = round(time.perf_counter() - t0, 2)
                for src, _ in held:
                    for k, v in plan_counts(_formatted(src)).items():
                        counts[k] += v
            rows.append({"q": name, "build_s": build_s, "held": len(held), **counts})
        except Exception as e:  # noqa: BLE001 — audit must cover every row
            rows.append({"q": name, "err": str(e)[:120]})
    print(json.dumps(rows))
    flags = [(r, why) for r in rows if (why := flag_reasons(r))]
    print(
        f"# {len(rows)} queries audited; {len(flags)} flagged "
        f"(row-UDF / cartesian / unvetted SMJ or BNLJ / error)",
        file=sys.stderr,
    )
    for r, why in flags:
        print(f"# FLAG {'; '.join(why)}: {r}", file=sys.stderr)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
