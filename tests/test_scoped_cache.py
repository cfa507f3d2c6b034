"""Materialized intermediates (roar_spark.caching) stay valid however a
caller interleaves building and collecting, and whichever thread runs
them.

Every branch-shared operator intermediate is an eager checkpoint: a fresh
RDD per invocation, owned by the plans that read it. Nothing global is
drained when the next query is built, so building ``a``, building ``b``
and only then collecting ``a`` must return ``a``'s rows. A caller that
opens ``caching.scope()`` frees the scope's blocks on exit; without one,
Spark's ContextCleaner frees them once no plan reads them.
"""

from __future__ import annotations

from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest

from roar_spark import caching
from roar_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"

# build first, build second, then collect first: the first three orders
# pair checkpoint-based operators, the last two persist-era ones
INTERLEAVINGS = [
    ("dedup_minhash_lsh", "dedup_simhash"),
    ("dedup_simhash", "dedup_minhash_lsh"),
    ("dedup_minhash_lsh", "dedup_minhash_lsh"),
    ("text_tfidf", "dedup_ngram_jaccard"),
    ("dedup_ngram_jaccard", "dedup_ngram_jaccard"),
]


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def reference(spark) -> dict[str, Counter]:
    """Each query's row multiset, built and collected inside its own
    scope."""
    ref = {}
    for name in sorted({n for pair in INTERLEAVINGS for n in pair}):
        with caching.scope():
            ref[name] = _rows(QUERIES[name](spark, SF))
    return ref


@pytest.mark.parametrize(
    "first,second", INTERLEAVINGS, ids=[f"{a}-then-{b}" for a, b in INTERLEAVINGS]
)
def test_interleaved_build_then_collect(spark, reference, first, second):
    a = QUERIES[first](spark, SF)
    b = QUERIES[second](spark, SF)
    assert _rows(a) == reference[first]
    assert _rows(b) == reference[second]


def test_two_threads_scoped(spark, reference):
    """Each thread has its own scope: one thread leaving a scope must not
    free the intermediates of a query the other is still running."""
    names = ["dedup_minhash_lsh", "text_tfidf", "dedup_simhash", "dedup_ngram_jaccard"]

    def run(order: list[str]) -> dict[str, Counter]:
        out = {}
        for name in order:
            with caching.scope():
                out[name] = _rows(QUERIES[name](spark, SF))
        return out

    with ThreadPoolExecutor(2) as pool:
        futures = [pool.submit(run, order) for order in (names, names[::-1])]
        results = [f.result(timeout=600) for f in futures]
    for got in results:
        assert got == {n: reference[n] for n in names}


def test_leaving_scope_frees_blocks(spark):
    """Blocks held by a scope are gone once it is left. Only RDDs that
    existed before the scope may remain: the ContextCleaner can free some
    of those meanwhile, but nothing the scope made survives it."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with caching.scope() as held:
        QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
        assert len(held) == 2  # docsets and cand
        inside = set(jsc.getPersistentRDDs().keys())
        assert len(inside - before) >= 2
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_repeated_invocation_reads_its_own_intermediate(spark):
    """A second back-to-back invocation executes over its own
    materialized intermediates: every leaf of its executed plan is a
    checkpoint scan, and no branch goes back to the parquet files."""
    from roar_spark.operators import dedup

    dedup.dedup_ngram_jaccard(spark, SF).collect()
    df2 = dedup.dedup_ngram_jaccard(spark, SF)
    df2.collect()
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan
