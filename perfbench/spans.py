"""In-memory spans around the program's public layer functions.

A :class:`Tracer` replaces chosen attributes (module functions and class
methods) with wrappers that record one span per call: name, layer, start,
end and the span that caused it.  The span of a call made while another
span is open on the same logical thread is its child; calls submitted to a
``ThreadPoolExecutor`` keep the submitter's span as parent, because
``submit`` is wrapped to carry the caller's context into the pool thread.

Spans below a group span (one per crawl wave) carry its id as ``group``.
Each wrapper also labels the Spark jobs its call submits: it sets the job
description ``perfbench span=<id>`` on the calling thread and restores the
previous label afterwards, so the event log attributes every job (and its
tasks) to the innermost open span.  Spans stay in memory until the run
ends.  Nothing here imports Spark; the Spark context is passed in.
"""

from __future__ import annotations

import contextvars
import itertools
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

JOB_LABEL = "perfbench span=%d"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    group: int | None   # id shared by the spans of one wave
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its children cover.  Children that overlap each other (a wave's
    tail commits run concurrently) are unioned before they are subtracted,
    so concurrent children are not subtracted twice."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: s.duration - union_length(
            [(c.start, c.end) for c in children.get(s.id, ())],
            s.start, s.end,
        )
        for s in spans
    }


class Tracer:
    """Records spans for wrapped calls and labels their Spark jobs.

    ``sc`` is anything with ``getLocalProperty``/``setLocalProperty`` (a
    ``SparkContext``), or None to record spans without labelling jobs.
    """

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._current: contextvars.ContextVar[Span | None] = (
            contextvars.ContextVar("perfbench_span", default=None)
        )
        self._patched: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------------- spans
    def _label(self, span: Span | None):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(_DESC_KEY)
        self.sc.setLocalProperty(
            _DESC_KEY, None if span is None else JOB_LABEL % span.id
        )
        return prev

    def _unlabel(self, prev) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(_DESC_KEY, prev)

    def call(self, name: str, layer: str, fn, *args, on_result=None,
             group: bool = False, **kwargs):
        """Run ``fn`` inside a new span.  A ``group`` span starts a group
        (a wave) that every span below it shares."""
        parent = self._current.get()
        with self._lock:
            sid = next(self._ids)
        span = Span(sid, name, layer, parent.id if parent else None,
                    sid if group else (parent.group if parent else None),
                    self.clock())
        token = self._current.set(span)
        prev = self._label(span)
        try:
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(span, args, out)
            return out
        finally:
            span.end = self.clock()
            self._unlabel(prev)
            self._current.reset(token)
            with self._lock:
                self.spans.append(span)

    # ------------------------------------------------------------- patching
    def _patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             suffix=None, on_result=None, group: bool = False) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.  ``suffix``
        maps the call's arguments to a string appended to the span name
        (for example the table a commit writes); ``on_result(span, args,
        result)`` may copy facts from the result into ``span.attrs``."""
        fn = owner.__dict__[attr]
        base = name or f"{layer}.{attr}"
        tracer = self

        def wrapper(*args, **kwargs):
            full = base if suffix is None else f"{base}.{suffix(args, kwargs)}"
            return tracer.call(full, layer, fn, *args, on_result=on_result,
                               group=group, **kwargs)

        wrapper.__wrapped__ = fn
        self._patch(owner, attr, wrapper)

    def count_calls(self, owner, attr: str, key: str) -> None:
        """Replace ``owner.attr`` by a wrapper that only counts calls."""
        fn = owner.__dict__[attr]
        tracer = self

        def counted(*args, **kwargs):
            with tracer._lock:
                tracer.counts[key] += 1
            return fn(*args, **kwargs)

        counted.__wrapped__ = fn
        self._patch(owner, attr, counted)

    def propagate_into_pools(self) -> None:
        """Run every ``ThreadPoolExecutor`` task in its submitter's context,
        with the submitter's span as the job label of the pool thread."""
        orig = ThreadPoolExecutor.__dict__["submit"]
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            ctx = contextvars.copy_context()
            span = tracer._current.get()

            def run():
                prev = tracer._label(span)
                try:
                    return fn(*args, **kwargs)
                finally:
                    tracer._unlabel(prev)

            return orig(pool, ctx.run, run)

        self._patch(ThreadPoolExecutor, "submit", submit)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
