"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary: the
tracer replaces a layer's public function (a module attribute) with a
timing wrapper, so every call the engine makes through that attribute —
including calls between the engine's own modules — opens a span. Nothing
inside the engine is edited.

Each span carries (id, name, start, end, parent, trace_id, thread). A span
opened on a thread with no open span (the runner builds the drift check on
a helper thread) takes the innermost open span of the thread that set
``trace_id`` as its parent, so self time still nests under the operation.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    thread: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._trace_id = ""
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def trace(self, trace_id: str, name: str = "op"):
        """Root span of one operation; spans inside share ``trace_id``."""
        prev, self._trace_id = self._trace_id, trace_id
        self._main_stack = self._stack()
        try:
            with self.span(name):
                yield
        finally:
            self._trace_id = prev

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = self.clock()
        try:
            yield sid
        finally:
            end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self._trace_id,
                                       threading.current_thread().name))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that records span ``name``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def restore(self) -> None:
        """Put every wrapped function back (reverse order of wrapping)."""
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the part of its interval its children cover.

    Children may overlap each other (threads) and are clipped to the
    parent's interval, so self time is never negative."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
        covered = _covered([(a, b) for a, b in clipped if b > a])
        out[s.id] = max(0.0, s.duration - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, tuple[int, float, float]]:
    """span name -> (calls, total seconds, self seconds)."""
    st = self_times(spans)
    agg: dict[str, list] = {}
    for s in spans:
        a = agg.setdefault(s.name, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s.duration
        a[2] += st[s.id]
    return {k: (v[0], v[1], v[2]) for k, v in agg.items()}


def format_self_times(spans: list[Span]) -> str:
    rows = sorted(self_time_by_name(spans).items(), key=lambda kv: -kv[1][2])
    lines = [f"{'layer span':<44} {'calls':>6} {'total_s':>9} {'self_s':>9}"]
    lines += [f"{name:<44} {n:>6} {tot:>9.3f} {slf:>9.3f}" for name, (n, tot, slf) in rows]
    return "\n".join(lines)
