"""Span recording around calls into the library, from outside it.

``Tracer.wrap(module, name, span)`` replaces a function with a recorder
in *every* loaded module of the package that bound it, because modules
import functions by name at import time (``index_pipeline`` holds its own
``ivfpq_search``; ``pipeline`` holds its own operators), and the call site
looks the name up in its own module. Spans are kept in memory.

A span records its name, start, end, parent span and op id. A layer's
self time is its duration minus the union of the intervals its child
spans cover (spans opened on other threads can overlap, so children can
too).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "soccer_data_pipeline_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part covered by its children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans while ``enabled``; a disabled wrapper calls straight through."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                if not tracer.enabled:
                    self.idx = None
                    return self
                stack = tracer._stack()
                with tracer._lock:
                    self.idx = len(tracer.spans)
                    tracer.spans.append(
                        Span(name, time.perf_counter(), 0.0,
                             stack[-1] if stack else None, tracer.op)
                    )
                stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                if self.idx is not None:
                    tracer.spans[self.idx].end = time.perf_counter()
                    tracer._stack().pop()
                return False

        return _Ctx()

    # -- patching ----------------------------------------------------------
    def wrap(self, module, name: str, span: str, on_result=None) -> None:
        """Record ``span`` around ``module.name`` wherever it is bound.
        ``on_result`` is called with each traced call's return value."""
        original = getattr(module, name)
        tracer = self

        @functools.wraps(original)
        def recorder(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(span):
                out = original(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, recorder)
                    self._patched.append((mod, attr, original))

    def unwrap_all(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    # -- summaries ---------------------------------------------------------
    def self_by_op(self) -> dict[tuple[int, str], float]:
        """Total self time per (op id, span name)."""
        out: dict[tuple[int, str], float] = defaultdict(float)
        for s, st in zip(self.spans, self_times(self.spans)):
            out[(s.op, s.name)] += st
        return dict(out)

    def totals(self) -> tuple[dict[str, float], dict[str, int]]:
        """(total duration, call count) per span name."""
        dur: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            dur[s.name] += s.end - s.start
            calls[s.name] += 1
        return dict(dur), dict(calls)
