"""In-memory span recorder and the statistics the benchmark reports.

A span is one timed call into a layer: name, start, end, parent span
and the id of the query or job it belongs to. Spans are kept in memory
and written once, when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0

    def add(self, sid, name, start, end, parent, trace_id) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, trace_id))

    def new_id(self) -> int:
        with self._lock:
            sid = self._next
            self._next += 1
        return sid

    def self_times(self, roots: set[int] | None = None) -> dict[str, float]:
        """Seconds of self time per span name, over the subtrees of
        ``roots`` (every span when ``roots`` is None)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        keep = None
        if roots is not None:
            keep, stack = set(), list(roots)
            while stack:
                sid = stack.pop()
                keep.add(sid)
                stack.extend(c.sid for c in children.get(sid, []))
        out: dict[str, float] = {}
        for s in self.spans:
            if keep is not None and s.sid not in keep:
                continue
            covered = _union([(c.start, c.end) for c in children.get(s.sid, [])])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union(intervals: list[tuple[float, float]]) -> float:
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


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above
    it, as ``(percentile, value)``; the median when there are too few
    samples for any such percentile."""
    vals = sorted(values)
    n = len(vals)
    if n <= beyond:
        return 50.0, median(vals)
    idx = n - beyond - 1
    return round(100.0 * (idx + 1) / n, 1), vals[idx]
