"""Pin tools/audit_plans.plan_counts against a committed plan dump.

The r11 audit counted joins with a bare 'SortMergeJoin (' pattern, but
formatted-plan join tree-lines interleave the join type between name and
id ("SortMergeJoin LeftOuter (53)") — the pattern could never match and
the smj/bnlj columns read 0 unconditionally. Every counter now reads the
numbered detail headers ("(53) SortMergeJoin"), which are one per node
and type-free. These tests lock the counting against a real committed
plan file (so the fixture cannot drift from what explain actually emits)
plus synthetic corner cases. The flag rule is pinned too: a query at its
vetted SortMergeJoin / BroadcastNestedLoopJoin count passes, one more is
flagged.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from audit_plans import VETTED_JOINS, flag_reasons, plan_counts  # noqa: E402

_REPO = os.path.join(os.path.dirname(__file__), "..")


def test_counts_on_committed_knn_bulk_plan():
    """The committed knn_bulk after-plan has exactly one SortMergeJoin —
    the final corpus LeftOuter join (AdaptiveSparkPlan initial plan; AQE
    rewrites it to broadcast at driver SFs) — which the r11 pattern
    missed entirely."""
    p = open(
        os.path.join(_REPO, "plans", "r12", "embedding_knn_classify_bulk_after.txt")
    ).read()
    c = plan_counts(p)
    assert c["smj"] == 1
    assert c["rowudf"] == 0
    assert c["cart"] == 0
    assert c["arrow_kernels"] >= 1  # the screen's MapInPandas kernel
    assert c["exch"] >= 1


def test_join_type_in_tree_line_does_not_hide_the_join():
    p = (
        "== Physical Plan ==\n"
        "AdaptiveSparkPlan (3)\n"
        "+- SortMergeJoin LeftOuter (2)\n"
        "   +- Scan parquet  (1)\n"
        "\n"
        "(2) SortMergeJoin\n"
        "Left keys [1]: [k]\n"
    )
    assert plan_counts(p)["smj"] == 1


def test_detail_header_only_counted_once_per_node():
    p = "(5) BroadcastNestedLoopJoin\n(9) CartesianProduct\n"
    c = plan_counts(p)
    assert c["bnlj"] == 1
    assert c["cart"] == 1


def test_mid_line_mention_not_counted():
    # a mention inside an argument line or a tree line must not count, and
    # a header counts only under its exact node name
    p = (
        "Arguments: something SortMergeJoin (12) said\n"
        "Arguments: +- Exchange hashpartitioning, :- Exchange SinglePartition\n"
        "Arguments: BroadcastExchange (3), Window (4), MapInPandas (5)\n"
        "Arguments: FlatMapGroupsInPandas (6), BatchEvalPython (7)\n"
        "Arguments: ArrowEvalPython (8)\n"
        "+- BroadcastExchange (13)\n"
        "   +- Window (14)\n"
        "(9) WindowGroupLimit\n"
        "(10) ReusedExchange [Reuses operator id: 3]\n"
    )
    c = plan_counts(p)
    for k in ("smj", "exch", "bcast", "rowudf", "arrow_kernels", "wind"):
        assert c[k] == 0, k


def test_codegen_tagged_header_counted():
    p = "(4) Window [codegen id : 2]\n(7) Exchange\n(8) Scan parquet \n"
    c = plan_counts(p)
    assert c["wind"] == 1
    assert c["exch"] == 1


def test_vetted_join_count_not_flagged():
    for q, vetted in VETTED_JOINS.items():
        row = {"q": q, "smj": 0, "bnlj": 0, "rowudf": 0, "cart": 0, **vetted}
        assert flag_reasons(row) == [], q
    assert flag_reasons({"q": "q1_pricing_summary", "smj": 0, "bnlj": 0}) == []


def test_join_above_vetted_count_flagged():
    for q, vetted in VETTED_JOINS.items():
        for k in ("smj", "bnlj"):
            row = {"q": q, "smj": 0, "bnlj": 0, **vetted}
            row[k] += 1
            assert len(flag_reasons(row)) == 1, (q, k)
    # a query with no vetted entry is vetted at zero
    assert flag_reasons({"q": "q1_pricing_summary", "smj": 1, "bnlj": 0})
