"""In-memory spans recorded around each call into an engine layer.

A span is (id, name, start, end, parent, run id). Each thread keeps its own
stack of open spans; a span opened on a thread with nothing open (a
streaming ``foreachBatch`` sink runs on a callback thread) takes as parent
the innermost span open on the thread that created the tracer, which is
blocked waiting for that callback. Spans stay in memory and are written
with the run record when the benchmark ends. A span's self time is its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (clipped to the parent, so a child that overruns cannot make self time
    negative)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: s.duration - union_length(clip(children[s.id], s.start, s.end)) for s in spans
    }


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._root = threading.get_ident()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stacks[threading.get_ident()]
        with self._lock:
            outer = stack or self._stacks[self._root]
            parent = outer[-1].id if outer else None
            s = Span(len(self.spans), name, time.time(), 0.0, parent, self.run_id, attrs)
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def totals(self, prefix: str = "", since: float | None = None) -> dict[str, dict[str, float]]:
        """name -> {"n", "total_s", "self_s"} over spans whose name starts
        with ``prefix`` (and that started at or after ``since``)."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if not s.name.startswith(prefix) or (since is not None and s.start < since):
                continue
            t = out.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            t["n"] += 1
            t["total_s"] += s.duration
            t["self_s"] += selfs[s.id]
        return out

    def records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
