"""Spans recorded from the benchmark's own code around calls into the package.

A span has a name, a start, an end and the span that caused it; all spans
of one run share its run id.  Spans are kept in memory and written out when
the run ends.  A span's self time is its duration minus the part of its
interval that its child spans cover.

``Patch`` wraps public functions of the package with spans from outside:
every module of the package that imported a wrapped function by name gets
the wrapper too, and ``Patch.remove`` restores the originals.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict | None = None


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.perf_counter(), float("nan"))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, attrs=None):
        """``fn`` recording a span per call; ``attrs(*args, **kwargs)``, if
        given, computes the span's attributes from the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                if attrs is not None:
                    s.attrs = attrs(*args, **kwargs)
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": [asdict(s) for s in self.spans]}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end <= reach:
            continue
        total += end - max(start, reach)
        reach = end
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - _covered([k for k in kids if k[1] > k[0]])
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


class Patch:
    """Wrap ``(owner, attribute)`` targets with spans for the patch's life."""

    def __init__(self, tracer: Tracer, package: str, targets: list[tuple]):
        """``targets``: ``(owner, attribute, span name[, attrs function])``."""
        self._undo: list[tuple[object, str, object]] = []
        for owner, attr, span_name, *attrs in targets:
            original = getattr(owner, attr)
            wrapper = tracer.wrap(span_name, original, *attrs)
            self._set(owner, attr, wrapper)
            for name, mod in list(sys.modules.items()):
                if mod is owner or not name.startswith(package):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        self._set(mod, key, wrapper)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def remove(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)
