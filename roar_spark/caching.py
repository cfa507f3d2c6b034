"""Materialized operator intermediates: one helper, one owner.

An operator whose intermediate feeds more than one branch of its plan
materializes it with ``materialize(df)``: an eager ``localCheckpoint``.
The checkpoint is computed once, race-free (no lazily-filled cache for
concurrently submitted branch scans to populate twice), and every branch
plans over its ``LogicalRDD`` leaf. Each call makes a fresh RDD that
belongs to the plans reading it, so two invocations never share an entry
and nothing global has to decide when to free one.

Who frees the blocks:

- A caller that opens ``with scope():`` owns every intermediate
  materialized inside it (on this thread or task — the scope is a
  ``ContextVar``), and leaving the scope releases their blocks at once.
- Without a scope, Spark's ContextCleaner frees a checkpoint once no
  plan references it.

The one rule: a result, and any frame derived from it, must not be used
after its scope is left.

Executor loss: a local checkpoint cannot be recomputed, so losing the
executor holding its blocks fails the query; the recovery path is
re-running it (SCALE.md, "r12: localCheckpoint executor-loss
adjudication"). A deployment that cannot retry swaps
``localCheckpoint(eager=True)`` for ``checkpoint(eager=True)`` in
``materialize`` after setting a checkpoint dir.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame

_SCOPE: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "roar_spark_scope", default=None
)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df`` and record it in the open scope, if any."""
    cp = df.localCheckpoint(eager=True)
    held = _SCOPE.get()
    if held is not None:
        # a fresh frame over the same logical plan: holding ``df`` itself
        # would keep its executed plan, and with it the checkpoint job's
        # shuffle files, alive until the scope ends
        held.append((df.select("*"), cp))
    return cp


def release(df: DataFrame) -> None:
    """Free a materialized frame's blocks now. ``Dataset.unpersist`` does
    not reach checkpoint blocks, so this goes through the plan's
    ``LogicalRDD`` leaf. Best-effort: a failure (plan-shape drift across
    Spark versions) leaves the blocks to the ContextCleaner, never
    raises."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — degrade to ContextCleaner GC
        pass


@contextlib.contextmanager
def scope():
    """Own the intermediates materialized inside the block; release them
    on exit. Yields the held ``(source, checkpoint)`` pairs: the source
    frame keeps the subtree a checkpoint hides from ``explain`` (it prints
    as ``Scan ExistingRDD``), so plan checks can still inspect it."""
    held: list = []
    token = _SCOPE.set(held)
    try:
        yield held
    finally:
        _SCOPE.reset(token)
        for _src, cp in held:
            release(cp)
