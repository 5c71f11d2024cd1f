"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, op id). Spans nest per thread:
the innermost open span on the calling thread is the parent of the
next one, and a child inherits its parent's op id. Nothing is written
until the run ends (:meth:`Tracer.dump`).

A disabled tracer records nothing: each span site in the untraced run
costs one no-op context manager.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, op)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_ms": {k: v * 1000.0 for k, v in self_times(self.spans).items()},
                    **(extra or {}),
                },
                f,
            )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_self_times(spans: list[Span]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that
    its child spans cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            kids[p.id].append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: (s.end - s.start) - _covered([iv for iv in kids[s.id] if iv[1] > iv[0]])
        for s in spans
    }


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time in seconds summed per span name."""
    per_id = span_self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += per_id[s.id]
    return dict(out)


#: Operator modules whose public functions the traced run wraps.
OPERATOR_MODULES = ("bm25", "similarity", "rrf", "graph", "ann_index", "lexical_index", "dedup")


def instrument_operators(tracer: Tracer) -> int:
    """Wrap every public module-level function of the operator modules
    in a span named ``operators.<module>.<function>``, and rebind each
    name that any loaded ``memories_spark`` module imported directly.
    Call after the program's modules are imported. Returns the number
    of functions wrapped."""
    originals: dict[int, tuple[object, object]] = {}
    for short in OPERATOR_MODULES:
        mod = importlib.import_module(f"memories_spark.operators.{short}")
        for name, fn in list(vars(mod).items()):
            if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                continue
            originals[id(fn)] = (fn, tracer.wrap(f"operators.{short}.{name}", fn))
    for mname, mod in list(sys.modules.items()):
        if mod is None or not mname.startswith("memories_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            hit = originals.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    return len(originals)
