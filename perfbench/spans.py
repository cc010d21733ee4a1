"""In-memory spans for the traced run.

A span is (name, start, end, parent, run id).  Spans are kept in a list
while the benchmark runs and written out once, at the end.  A span's
self time is its duration minus the part of its interval that its child
spans cover; children may overlap each other, so the covered part is the
length of the union of their intervals, clipped to the parent.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - union_length(children.get(s.id, ()), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records nested spans on the driver thread.  The default clock is
    epoch seconds, the time base of Spark's job records.  A disabled
    tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool = True, clock=time.time):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._clock(), float("nan"), parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per layer (span name up to the first ``:``): span count, total
        and self seconds."""
        own = self_times(self.spans)
        table: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = table.setdefault(s.name.split(":")[0], {"spans": 0, "total_s": 0.0, "self_s": 0.0})
            row["spans"] += 1
            row["total_s"] += s.seconds
            row["self_s"] += own[s.id]
        return table

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
