"""In-memory span recorder for the traced run.

Spans (name, start, end, parent, run id) are recorded around calls into the
engine's public functions from the benchmark's own files; nothing inside
``roar_spark`` is changed. ``wrap`` replaces an attribute with a recording
wrapper; ``self_times`` gives each span name's duration minus the part of
it covered by its child spans. Times are wall-clock seconds since the
epoch, so spans line up with the job and stage times Spark reports. The
tracer also times its own bookkeeping: that is the overhead it reports.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict | None] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def wrap(self, owner, attr: str, name) -> None:
        """Record a span around every call of ``owner.attr``. ``name`` is
        the span name, or a function of the call's arguments giving it."""
        original = getattr(owner, attr)
        if getattr(original, "_perfbench_wrapped", False):
            return
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return original(*args, **kwargs)

        wrapper._perfbench_wrapped = True
        setattr(owner, attr, wrapper)

    def finished(self, since: float = 0.0) -> list[dict]:
        """Completed spans that started at or after ``since``."""
        with self._lock:
            return [s for s in self.spans if s is not None and s["start"] >= since]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by direct children."""
        spans = self.finished()
        child_time: dict[int, float] = defaultdict(float)
        for sp in spans:
            if sp["parent"] is not None:
                child_time[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in spans:
            out[sp["name"]] += max(sp["end"] - sp["start"] - child_time[sp["id"]], 0.0)
        return dict(out)

    def totals(self, since: float = 0.0) -> dict[str, tuple[int, float]]:
        """(calls, total seconds) per span name, for spans from ``since``."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for sp in self.finished(since):
            out[sp["name"]][0] += 1
            out[sp["name"]][1] += sp["end"] - sp["start"]
        return {k: (v[0], v[1]) for k, v in out.items()}


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self._tracer = tracer
        self._name = name

    def __enter__(self) -> "_Span":
        t0 = time.perf_counter()
        tr = self._tracer
        stack = tr._stack()
        with tr._lock:
            self._id = len(tr.spans)
            tr.spans.append(None)  # reserves the id; filled in on exit
        self._parent = stack[-1] if stack else None
        stack.append(self._id)
        tr.add_overhead(time.perf_counter() - t0)
        self._start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        end = time.time()
        t0 = time.perf_counter()
        tr = self._tracer
        tr._stack().pop()
        record = {
            "id": self._id,
            "name": self._name,
            "start": self._start,
            "end": end,
            "parent": self._parent,
            "run": tr.run_id,
        }
        with tr._lock:
            tr.spans[self._id] = record
            tr.overhead_s += time.perf_counter() - t0
