"""In-memory span recorder and the self-time arithmetic over its spans.

A span is ``(request_id, span_id, parent_id, name, start, end, attrs)``
with ``perf_counter`` times, which on Linux read the system-wide
monotonic clock, so spans recorded by the client process and by the
server process line up on one time axis.

Spans are kept in a list and written out once, when the run ends.
Wrapping is done from outside the program: :func:`wrap` replaces a
module or class attribute with a function that records a span around
the original call and leaves the result untouched.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    rid: str
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_list(self) -> list:
        return [self.rid, self.sid, self.parent, self.name, self.start,
                self.end, self.attrs]


class Recorder:
    """Collects spans per thread; one request at a time per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def begin_request(self, rid: str | None) -> None:
        """Spans recorded on this thread from now on belong to ``rid``;
        None records nothing."""
        self._local.rid = rid
        self._local.stack = []

    def current(self) -> tuple[str | None, list[int]]:
        return getattr(self._local, "rid", None), getattr(self._local, "stack", [])

    def span(self, name: str) -> "_Active":
        return _Active(self, name)


class _Active:
    def __init__(self, rec: Recorder, name: str) -> None:
        self.rec, self.name, self.attrs = rec, name, {}
        self.rid: str | None = None

    def __enter__(self) -> "_Active":
        rid, stack = self.rec.current()
        if rid is None:
            return self
        self.rid = rid
        self.sid = next(self.rec._ids)
        self.parent = stack[-1] if stack else None
        stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if self.rid is None:
            return
        end = time.perf_counter()
        _, stack = self.rec.current()
        stack.pop()
        if exc_type is not None:
            self.attrs["error"] = exc_type.__name__
        with self.rec._lock:
            self.rec.spans.append(Span(self.rid, self.sid, self.parent,
                                       self.name, self.start, end, self.attrs))


def wrap(rec: Recorder, owner: Any, attr: str, name: str,
         on_result: Callable[[Any, dict], None] | None = None) -> None:
    """Replace ``owner.attr`` with a span-recording wrapper. ``on_result``
    may add attributes from the return value."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with rec.span(name) as s:
            out = orig(*args, **kwargs)
            if on_result is not None and s.rid is not None:
                on_result(out, s.attrs)
            return out

    setattr(owner, attr, traced)


def timed(owner: Any, attr: str, into: dict, key: str) -> None:
    """Replace ``owner.attr`` with a wrapper that adds each call's
    duration (s) to ``into[key]``; for set-up steps, traced or not."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def timer(*args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            into[key] = into.get(key, 0.0) + time.perf_counter() - t

    setattr(owner, attr, timer)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(lo, hi)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(spans: list[Span]) -> list[Span]:
    """Copies of ``spans`` with each span clipped to its parent's
    (clipped) interval, so a tree's self times sum to its root. A child
    can outlast its parent across processes: the server span ends a
    moment after the client has already read the response."""
    by_id = {s.sid: s for s in spans}
    out: dict[int, Span] = {}

    def fit(s: Span) -> Span:
        if s.sid not in out:
            p = by_id.get(s.parent) if s.parent is not None else None
            if p is None:
                out[s.sid] = s
            else:
                pc = fit(p)
                lo = min(max(s.start, pc.start), pc.end)
                hi = max(min(s.end, pc.end), lo)
                out[s.sid] = Span(s.rid, s.sid, s.parent, s.name, lo, hi, s.attrs)
        return out[s.sid]

    return [fit(s) for s in spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, children are clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.sid: s.dur - covered([(max(c.start, s.start), min(c.end, s.end))
                                    for c in kids.get(s.sid, [])])
            for s in spans}
