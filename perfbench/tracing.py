"""In-memory spans and the self-time arithmetic.

A span is a named interval with a parent; spans of one workload run
share a trace id.  Times are epoch seconds taken from a monotonic clock
anchored once, so Python-side spans line up with the millisecond epoch
timestamps of Spark's event log.  Spans stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

__all__ = ["Span", "Tracer", "covered", "self_time"]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.dur - covered([(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Collects spans for one run.  Not thread-safe: the benchmark is a
    single closed-loop client on one thread."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._epoch0 = time.time()
        self._perf0 = time.perf_counter()
        self._patches: list[tuple[object, str, object]] = []

    def now(self) -> float:
        return self._epoch0 + (time.perf_counter() - self._perf0)

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        s = Span(len(self.spans), name, start, end, parent, self.trace_id, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.add(name, self.now(), 0.0, self.current, **attrs)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.now()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanning wrapper until
        :meth:`unwrap_all`.  Wrap the attribute the caller looks up, e.g.
        the name a module imported, not the defining module's copy."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
