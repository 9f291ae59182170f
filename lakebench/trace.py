"""In-memory spans recorded by the benchmark around the program's public
entry points.

The benchmark never edits program code: ``Tracer.patch`` swaps a public
function or method for a wrapper that records a span and calls the
original, and ``Tracer.unpatch`` restores it. Spans are kept in memory and
summarised when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float
    parent: int | None
    op: str | None  # operation id of the benchmark operation it belongs to

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
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
    """Span duration minus the part of its interval its children cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, [])
                if c.end > s.start and c.start < s.end
            ]
        )
        out[s.id] = s.duration - covered
    return out


def self_time_residuals(spans: list[Span]) -> dict[int, float]:
    """For every root span: |root duration - sum of the self times of the
    root and all its descendants|. Zero when children nest inside their
    parents without overlapping each other."""
    st = self_times(spans)
    by_id = {s.id: s for s in spans}

    def root_of(s: Span) -> Span:
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
        return s

    sums: dict[int, float] = {}
    for s in spans:
        r = root_of(s)
        sums[r.id] = sums.get(r.id, 0.0) + st[s.id]
    return {rid: abs(by_id[rid].duration - total) for rid, total in sums.items()}


class Tracer:
    """Collects spans. Parents come from a per-thread stack; a span opened
    on a thread with an empty stack (a ``foreachBatch`` callback thread)
    takes the main thread's innermost open span as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = self._stack()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[int]:
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        sid = next(self._ids)
        op = self.op
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def patch(
        self,
        owner: object,
        attr: str,
        name: str,
        after: Callable[[tuple, object], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``after``
        runs inside the span with ``(args, result)`` when the call
        returns, for counters sampled at the boundary."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = orig(*args, **kwargs)
                if after is not None:
                    after(args, result)
                return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
