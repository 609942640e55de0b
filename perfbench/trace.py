"""Span recording around module functions, and the self-time arithmetic.

A :class:`Tracer` replaces named functions on modules or classes with
wrappers that record one :class:`Span` per call: layer name, start, end,
thread and parent span. Nothing in the traced package changes; the
wrappers are removed again by :meth:`Tracer.uninstall`.

Self time is a span's duration minus the part of it covered by its child
spans. Children may overlap each other (spans from several worker threads
whose parent is the same root), so the covered part is the measure of the
union of the child intervals, clipped to the parent.
"""

from __future__ import annotations

import functools
import math
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    start: float
    end: float = math.nan
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)
    count: int = 0  # items the call handled (statements, rows, ...)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span) -> float:
    """``span``'s duration minus the union of its children, clipped to it."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end)) for c in span.children
    ]
    return span.duration - union_length(clipped)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``; NaN if empty."""
    if not values:
        return math.nan
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


class Tracer:
    """Collects spans for one root interval (one timed operation).

    ``wrap(owner, attr, layer)`` patches ``owner.attr``; ``counter`` may turn
    the call's arguments and result into an item count for the span.
    Calls made from a thread with no open span become children of the root,
    so worker-thread spans still nest under the operation they belong to.
    """

    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.root: Span | None = None
        self.spans: list[Span] = []
        self.events: dict[str, list[float]] = defaultdict(list)

    # -- patching ----------------------------------------------------------

    def patch(self, owner: object, attr: str, new: object) -> object:
        """Replace ``owner.attr`` until :meth:`uninstall`; returns the old."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, new)
        return original

    def wrap(self, owner: object, attr: str, layer: str, counter=None) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            span = tracer.open(layer)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.close(span)
            if counter is not None:
                span.count += counter(args, kwargs, result)
            return result

        self.patch(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, layer: str) -> Span:
        stack = self._stack()
        span = Span(layer, time.perf_counter())
        span.parent = stack[-1] if stack else self.root
        if self.root is not None:
            with self._lock:
                if span.parent is not None:
                    span.parent.children.append(span)
                self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def begin(self) -> None:
        """Start a root interval; spans opened outside one are dropped."""
        self.spans = []
        self.events = defaultdict(list)
        self._local.stack = []
        self.root = Span("root", time.perf_counter())
        self._local.stack = [self.root]

    def end(self) -> Span:
        root = self.root
        root.end = time.perf_counter()
        self._local.stack = []
        self.root = None
        return root

    def event(self, name: str, value: float) -> None:
        """Record a free-form sample (action durations and the like)."""
        if self.root is not None:
            with self._lock:
                self.events[name].append(value)


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-layer ``self_s`` (summed self time), ``span_s`` (summed
    duration), ``calls`` and ``count``."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"self_s": 0.0, "span_s": 0.0, "calls": 0, "count": 0}
    )
    for s in spans:
        t = out[s.layer]
        t["self_s"] += self_time(s)
        t["span_s"] += s.duration
        t["calls"] += 1
        t["count"] += s.count
    return dict(out)


def uncovered_time(root: Span, spans: list[Span], ignore: frozenset[str] = frozenset()) -> float:
    """The part of ``root`` during which no span of a layer outside
    ``ignore`` was open on any thread."""
    return root.duration - union_length(
        [(max(s.start, root.start), min(s.end, root.end)) for s in spans if s.layer not in ignore]
    )
