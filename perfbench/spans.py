"""Spans, counters and the small statistics the benchmark reports.

A `Tracer` records one span per call into a wrapped public function:
name, start, end, parent span and request id. Spans stay in memory and
are dumped once, at the end of the run. `self_times` turns a span list
into per-name self time (a span's duration minus the part of it that its
child spans cover).
"""

from __future__ import annotations

import functools
import itertools
import math
import threading
import time
from dataclasses import asdict, dataclass
from typing import Callable, Iterable


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    rid: str | None
    start: float
    end: float
    # py4j round trips made while this span was the innermost open one
    py4j: int = 0
    # extra numbers a span records about its call (cells in a cover, ...)
    n: int = 0

    def to_dict(self) -> dict:
        return asdict(self)


class Tracer:
    """Thread-aware span recorder. Each thread keeps its own stack of open
    spans, so concurrent requests nest correctly. A request's root span
    is opened with `open(name, rid)`; the spans under it inherit the id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        #: while False, wrapped functions run without recording
        self.enabled = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def open(self, name: str, rid: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None and parent is not None:
            rid = parent.rid
        sp = Span(next(self._ids), parent.id if parent else None, name, rid,
                  time.perf_counter(), 0.0)
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def wrap(self, fn: Callable, name: str,
             count: Callable[[object], int] | None = None) -> Callable:
        """Return `fn` wrapped in a span named `name`; the span takes its
        request id from its parent. `count(result)` stores a size in the
        span."""

        @functools.wraps(fn)
        def traced(*args, **kw):
            if not self.enabled:
                return fn(*args, **kw)
            sp = self.open(name)
            try:
                out = fn(*args, **kw)
                if count is not None:
                    sp.n = count(out)
                return out
            finally:
                self.close(sp)

        return traced

    def count_py4j(self) -> None:
        sp = self.current()
        if sp is not None:
            sp.py4j += 1


def patch(obj, attr: str, wrapper: Callable[[Callable], Callable]) -> None:
    """Replace `obj.attr` with `wrapper(original)` for the rest of the
    process (the engine process ends with the run)."""
    setattr(obj, attr, wrapper(getattr(obj, attr)))


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id -> self time: duration minus the union of its children."""
    spans = list(spans)
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start) - _covered(kids.get(sp.id, ()), sp.start, sp.end)
        for sp in spans
    }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

#: percentiles a tail may be reported at, low to high
LADDER = (50, 75, 90, 95, 99, 99.9)


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile, q in [0, 100]."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the nearest-rank q-th percentile
    rank (the samples that rank `q` leaves in the tail)."""
    return len(values) - max(1, math.ceil(q / 100.0 * len(values)))


def tail_percentile(values: list[float], min_beyond: int = 10) -> float | None:
    """Highest ladder percentile that leaves at least `min_beyond`
    samples beyond it, or None when even the median does not."""
    best = None
    for q in LADDER:
        if beyond(values, q) >= min_beyond:
            best = q
    return best


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no values")
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])
