"""In-memory spans around the engine's public functions.

A :class:`Tracer` replaces module attributes (``module.func`` or
``Class.method``) with wrappers that open a span per call; nothing in
the engine is edited.  Each span records its name, start, end, parent,
the operation (iteration) id it ran in, and the JVM codegen compile
time that elapsed while it was open.  Spans stay in memory until the
run ends.  Spark jobs are attached to spans afterwards by submission
time (:func:`assign_jobs`), because jobs that ``validate()`` submits
from its own thread pool carry no job group of the caller.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional, Tuple


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: Optional[int]
    op: Optional[int]
    end: Optional[float] = None
    codegen_s: float = 0.0
    spark: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records spans; ``codegen_ns`` (optional) reads the JVM's
    cumulative codegen compile time at span boundaries."""

    def __init__(self, codegen_ns: Optional[Callable[[], int]] = None,
                 clock: Callable[[], float] = time.time) -> None:
        self.spans: List[Span] = []
        self.op: Optional[int] = None
        # settable later: the JVM counter exists only once a session does
        self.codegen_ns = codegen_ns
        self._clock = clock
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: List[Tuple[object, str, object]] = []

    def _stack(self) -> List[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        cg0 = self.codegen_ns() if self.codegen_ns else 0
        with self._lock:
            s = Span(len(self.spans), name, self._clock(),
                     stack[-1].sid if stack else None, self.op)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = self._clock()
            if self.codegen_ns:
                s.codegen_s = (self.codegen_ns() - cg0) / 1e9

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr`` (undone by :meth:`restore`)."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def children_index(spans: Iterable[Span]) -> Dict[Optional[int], List[Span]]:
    idx: Dict[Optional[int], List[Span]] = {}
    for s in spans:
        idx.setdefault(s.parent, []).append(s)
    return idx


def covered(intervals: Iterable[Tuple[float, float]], lo: float,
            hi: float) -> float:
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


def self_times(spans: List[Span]) -> Dict[int, float]:
    """``{sid: duration minus the part of it its children cover}``;
    children that overlap each other are counted once."""
    kids = children_index(spans)
    return {s.sid: s.duration - covered(
                ((c.start, c.end) for c in kids.get(s.sid, [])
                 if c.end is not None), s.start, s.end or s.start)
            for s in spans}


def assign_jobs(spans: List[Span], jobs: List[Dict]) -> List[Optional[int]]:
    """For each job (``submit_s`` epoch seconds), the sid of the
    innermost span open at its submission — the open span that started
    last — or None.  Each job's counters are added to that span's
    ``spark`` dict."""
    out: List[Optional[int]] = []
    for job in jobs:
        t = job["submit_s"]
        best: Optional[Span] = None
        for s in spans:
            if s.start <= t <= (s.end if s.end is not None else t) and (
                    best is None or s.start >= best.start):
                best = s
        out.append(best.sid if best else None)
        if best is not None:
            for k, v in job["counters"].items():
                best.spark[k] = best.spark.get(k, 0.0) + v
    return out
