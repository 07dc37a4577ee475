"""In-memory spans for the traced run.

A span is one call into a layer of the program (or one Spark job, or one
micro-batch), with its start and end in wall-clock seconds and the span
that caused it. Spans are kept in memory and written out when the run
ends. Self time is a span's duration minus the part of its interval that
its children cover, so overlapping children (parallel Spark jobs) are
counted once.

``instrument`` installs the benchmark's wrappers around public functions
of the program's modules and returns a callable that removes them; the
program's own files are never changed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, layer: str, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, layer, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        popped = self._stack.pop()
        if popped != s.id:
            raise RuntimeError(f"span {s.name} closed out of order")

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        s = self.open(layer, name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def add(self, parent: Span | None, layer: str, name: str, start: float, end: float, **attrs) -> Span:
        """Record a span measured elsewhere (a Spark job, a micro-batch)."""
        s = Span(len(self.spans), parent.id if parent else None, layer, name, start, end, attrs)
        self.spans.append(s)
        return s

    def deepest_open_at(self, root: Span, t: float) -> Span:
        """The deepest span under ``root`` whose interval contains ``t``."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        node = root
        while True:
            inner = [c for c in kids[node.id] if c.layer != "spark" and c.start <= t <= c.end]
            if not inner:
                return node
            node = inner[-1]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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
    """span id -> duration minus the union of its children's intervals."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids[s.id], s.start, s.end) for s in spans
    }


def instrument(tracer: Tracer, targets: dict[str, object]) -> callable:
    """Wrap every public function defined in each target module (layer
    name -> module) with a span of that layer, rebinding every reference
    held by the program's modules. Returns the function that undoes it."""
    originals: dict[int, tuple[object, object]] = {}
    for layer, module in targets.items():
        for name, fn in list(vars(module).items()):
            if (
                callable(fn)
                and not name.startswith("_")
                and getattr(fn, "__module__", None) == module.__name__
                and not isinstance(fn, type)
            ):
                originals[id(fn)] = (fn, _wrap(tracer, layer, fn))
    rebound: list[tuple[object, str, object]] = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("ssp_spark") or mod is None:
            continue
        for name, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, name, hit[1])
                rebound.append((mod, name, value))

    def undo() -> None:
        for mod, name, value in rebound:
            setattr(mod, name, value)

    return undo


def _wrap(tracer: Tracer, layer: str, fn):
    label = fn.__name__

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(layer, label) as s:
            result = fn(*args, **kwargs)
            s.attrs["result_id"] = id(result)
            return result

    return traced
