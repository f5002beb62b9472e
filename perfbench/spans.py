"""In-memory span recorder for the traced run.

A span is (id, name, start, end, parent, run_id); spans are kept in memory
and written as JSON lines when the run ends. A span's self time is its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import contextlib
import dataclasses
import itertools
import json
import time


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the cover of its direct children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records nested spans when ``enabled``; a no-op otherwise."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent, self.run_id))

    def busy(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def child_shares(self, name: str) -> dict[str, float]:
        """Child span name -> its share of the spans called ``name``: the
        summed duration of their direct children of that name over their
        summed duration; ``"self"`` is the share no child covers."""
        parents = {s.id: s for s in self.spans if s.name == name}
        total = sum(s.end - s.start for s in parents.values())
        if not total:
            return {}
        shares: dict[str, float] = {}
        for s in self.spans:
            if s.parent in parents:
                shares[s.name] = shares.get(s.name, 0.0) + (s.end - s.start) / total
        st = self_times(self.spans)
        shares["self"] = sum(st[i] for i in parents) / total
        return shares

    def write_to(self, f) -> None:
        """Append the spans, with their self time, as JSON lines to ``f``."""
        st = self_times(self.spans)
        for s in sorted(self.spans, key=lambda s: s.start):
            f.write(json.dumps({**dataclasses.asdict(s), "self_s": st[s.id]}) + "\n")
