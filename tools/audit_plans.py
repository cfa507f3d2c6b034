"""Registry-wide physical-plan audit (r11): build every registry query
against $SPARK_GRAFT_SF_DIR (default sf0.01 — plan shape, not timing) and
count the structural red-flag nodes in `explain("formatted")`:
BatchEvalPython/ArrowEvalPython (row-at-a-time Python), CartesianProduct,
SortMergeJoin, Exchange counts. Each query is built inside a
``caching.scope()``, and the source plan of every intermediate it
materialized is counted too: a checkpointed subtree prints as a bare
``Scan ExistingRDD`` leaf in the query's own plan. Prints one JSON line
per run; the r11 optimization round's whole-surface sweep evidence
(OPTIMIZATION_r11.md).

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
    flags = [
        r for r in rows if r.get("rowudf") or r.get("cart") or "err" in r
    ]
    print(
        f"# {len(rows)} queries audited; {len(flags)} flagged "
        f"(row-UDF / cartesian / error)",
        file=sys.stderr,
    )
    for r in flags:
        print(f"# FLAG {r}", file=sys.stderr)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
