"""In-memory spans around the public calls of each engine layer.

The tracer patches functions and methods from the outside, records one span
per call (name, start, end, parent, run id) and restores every patched
attribute on :meth:`Tracer.restore`. Spans stay in memory until the run ends
and the caller writes them out. Nothing here changes the program's code.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict
from collections.abc import Callable
from types import SimpleNamespace


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def call(self, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``; returns its result and
        leaves the span's index in ``self.last``."""
        idx = len(self.spans)
        span = {
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            self.last = idx

    @property
    def active(self) -> bool:
        """True inside a span. A module that imported a patched function
        keeps it after :meth:`restore`; calls to it outside any span are not
        traced."""
        return bool(self._stack)

    def wrap(self, owner, attr: str, name: str, after: Callable | None = None) -> None:
        """Replace ``owner.attr`` by a traced version. ``after(span, args,
        result)`` may annotate the span once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            result = tracer.call(name, orig, *args, **kwargs)
            if after is not None:
                after(tracer.spans[tracer.last], args, result)
            return result

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reduction -------------------------------------------------------------

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer (the span name up to its first dot), the time its spans
        cover minus the time their child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child[i]
        return dict(out)


def span_cost_s(calls: int = 20000) -> float:
    """Seconds one call through :meth:`Tracer.wrap` costs more than a plain
    call, measured on a function that does nothing."""

    def nothing():
        return None

    t0 = time.perf_counter()
    for _ in range(calls):
        nothing()
    plain = time.perf_counter() - t0

    tracer, owner = Tracer("calibrate"), SimpleNamespace(f=nothing)
    tracer.wrap(owner, "f", "calibrate.f")

    def loop():
        for _ in range(calls):
            owner.f()

    t0 = time.perf_counter()
    tracer.call("calibrate", loop)
    traced = time.perf_counter() - t0
    tracer.restore()
    return max(traced - plain, 0.0) / calls
