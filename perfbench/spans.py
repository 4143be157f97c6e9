"""In-memory span tracing around the package's public callables.

A `Tracer` replaces callables on their owning module or class with
wrappers that record a span (name, start, end, parent, thread) per call
and restores the originals on `restore()`. Spans stay in memory; the
benchmark turns them into per-layer figures after the run.

Work that a traced thread hands to a `ThreadPoolExecutor` gets a
`task:<function>` span whose parent is the submitting thread's current
span, so helper-pool work (the pipeline's stage pool, the model build's
checkpoint pool, the waypoint round pool) nests under the call that
started it. Counters (`count`) land on the calling thread's current
span.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import functools
import threading
import time


_UNSET = object()


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "thread",
                 "attrs", "counts")

    def __init__(self, sid, name, start, parent, thread, attrs):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.thread = thread
        self.attrs = attrs
        self.counts: dict[str, int] = {}

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------
    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        if parent is None:
            parent = self.current()
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(),
                        None if parent is None else parent.sid,
                        threading.get_ident(), attrs)
            self.spans.append(span)
        self._local.__dict__.setdefault("stack", []).append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._local.stack
        assert stack and stack[-1] is span, "spans must nest per thread"
        stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        span = self.open(name, **attrs)
        try:
            yield span
        finally:
            self.close(span)

    def count(self, key: str, n: int = 1) -> None:
        """Add n to `key` on the calling thread's current span; calls
        outside any span are not counted."""
        span = self.current()
        if span is None:
            return
        with self._lock:
            span.counts[key] = span.counts.get(key, 0) + n

    # -- patching -----------------------------------------------------
    def patch(self, owner, attr: str, replacement) -> None:
        """Set `owner.attr`; `restore` puts back what `owner` itself
        held (or removes the attribute, when it was inherited)."""
        self._restore.append((owner, attr, owner.__dict__.get(attr, _UNSET)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Record a span named `name` around every call of
        `owner.attr` (a module function or a plain method);
        `attrs_of(args, kwargs)` gives the span's attributes."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def count_calls(self, owner, attr: str, key: str) -> None:
        """Count calls of `owner.attr` on the caller's current span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            tracer.count(key)
            return fn(*args, **kwargs)

        self.patch(owner, attr, counted)

    def propagate_to_pools(self, on_start=None) -> None:
        """Give work submitted to any ThreadPoolExecutor a task span
        parented on the submitting thread's current span; the span's
        `queued` attribute is the submit time. `on_start(fn, args,
        span)` runs in the worker thread before the work does."""
        cls = concurrent.futures.ThreadPoolExecutor
        submit = cls.submit
        tracer = self

        @functools.wraps(submit)
        def traced_submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()
            if parent is None:
                return submit(pool, fn, *args, **kwargs)
            queued = time.perf_counter()
            name = "task:" + getattr(fn, "__name__", type(fn).__name__)

            def task(*a, **kw):
                span = tracer.open(name, parent=parent, queued=queued)
                try:
                    if on_start is not None:
                        on_start(fn, a, span)
                    return fn(*a, **kw)
                finally:
                    tracer.close(span)

            return submit(pool, task, *args, **kwargs)

        self.patch(cls, "submit", traced_submit)

    def restore(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            if original is _UNSET:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)


# -- span arithmetic ---------------------------------------------------

def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
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
    """sid -> span duration minus the part of its interval covered by
    its children. Children of one span may overlap (concurrent stages,
    helper-pool tasks), so the covered part is the union of the child
    intervals, not their sum."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.duration - union_length(children.get(s.sid, ()),
                                              s.start, s.end)
            for s in spans}


def subtree(spans: list[Span], roots) -> list[Span]:
    """The spans under (and including) the spans in `roots`."""
    keep = {s.sid for s in roots}
    out = list(roots)
    for s in spans:  # parents precede children in open order
        if s.parent in keep and s.sid not in keep:
            keep.add(s.sid)
            out.append(s)
    return out
