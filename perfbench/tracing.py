"""Spans recorded by the benchmark around its calls into each layer.

A span has a name, start, end, parent span and request id. Spans stay in
memory and are written out when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover, so
it is never negative.

``Instrumentation`` swaps selected module attributes of the program for
wrappers that open a span around the original call, so calls the program
makes internally (``search`` -> ``load_table``) are attributed too. It is
only applied in the traced phase and ``restore`` undoes it; the untraced
phase runs the program exactly as shipped.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager, nullcontext


class Span:
    __slots__ = ("sid", "parent", "rid", "name", "start", "end")

    def __init__(self, sid: int, parent: int | None, rid, name: str, start: float) -> None:
        self.sid, self.parent, self.rid, self.name = sid, parent, rid, name
        self.start, self.end = start, start

    def as_dict(self) -> dict:
        return {"id": self.sid, "parent": self.parent, "rid": self.rid, "name": self.name,
                "start": self.start, "end": self.end}


class Tracer:
    """Thread-safe span recorder; the parent is the innermost open span of
    the calling thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent.rid
        s = Span(next(self._ids), parent.sid if parent else None, rid, name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict()) + "\n")


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    def span(self, name: str, rid=None):
        return nullcontext()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time (s) of every span: duration minus child coverage, >= 0."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: max(0.0, (s.end - s.start) - covered(children.get(s.sid, []), s.start, s.end))
        for s in spans
    }


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


class Instrumentation:
    """Replace ``module.attr`` with a traced wrapper; ``restore`` puts every
    original back."""

    def __init__(self, tracer: Tracer, targets: list[tuple[object, str, str]]) -> None:
        self._saved = []
        for module, attr, name in targets:
            orig = getattr(module, attr)
            self._saved.append((module, attr, orig))
            setattr(module, attr, _wrap(tracer, name, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()
