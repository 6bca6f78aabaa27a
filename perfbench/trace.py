"""In-memory spans recorded from outside the program.

A ``Recorder`` wraps public functions of the program's modules while it
is active and restores them afterwards; nothing in ``sparkt/`` knows it
is being traced. Spans keep name, start, end, parent and op id; they
stay in memory and are written when the benchmark ends.
"""

from __future__ import annotations

import functools
import itertools
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

#: percentiles the tail rule chooses from, highest last
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None, int]:
    """The highest of ``PERCENTILES`` that still has at least ten
    samples strictly above its nearest-rank value, as
    ``(percentile, value, samples_beyond)``; ``(None, None, 0)`` when
    fewer than eleven samples exist."""
    xs = sorted(samples)
    n = len(xs)
    best = (None, None, 0)
    for p in PERCENTILES:
        i = max(0, math.ceil(p * n / 100) - 1)
        beyond = sum(1 for x in xs if x > xs[i]) if n else 0
        if beyond >= 10:
            best = (p, xs[i], beyond)
    return best


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children (overlapping children are merged first)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Recorder:
    """Collects spans and counters. ``enabled=False`` makes ``span``
    and ``count`` near no-ops, so one code path serves traced and
    untraced passes."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # --------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def suppressed(self):
        """Record no spans or counts on this thread inside the block
        (the harness's own actions, which are not the program's work)."""
        prev = getattr(self._local, "off", False)
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = prev

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled or getattr(self._local, "off", False):
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        if op is None:
            op = getattr(self._local, "op", None)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, op))

    @contextmanager
    def op(self, op: str):
        """Tag every span opened inside (on this thread) with ``op``."""
        prev = getattr(self._local, "op", None)
        self._local.op = op
        try:
            with self.span("op", op=op):
                yield
        finally:
            self._local.op = prev

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled and not getattr(self._local, "off", False):
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    # ------------------------------------------------------- queries
    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    # ------------------------------------------------------ patching
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span
        ``name`` around each call. ``before(args, kwargs)`` runs first
        and its value reaches ``after(args, state, result, seconds)``,
        which runs on return (for counters). Undone by ``unpatch``."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before is not None else None
            t0 = time.perf_counter()
            with rec.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, state, out, time.perf_counter() - t0)
            return out

        if isinstance(orig, staticmethod):
            new = staticmethod(wrapper)
        elif isinstance(orig, classmethod):
            new = classmethod(wrapper)
        else:
            new = wrapper
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
