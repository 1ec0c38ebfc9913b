"""In-memory spans around the benchmark's calls into the engine.

A span records a name, start, end, its parent span and the run it
belongs to, plus the counters read around it. Spans stay in memory and
are written out once, when the benchmark ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    metrics: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), float("nan"), parent, run_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, **header) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **header,
                    "spans": [
                        {**asdict(s), "self_s": st}
                        for s, st in zip(self.spans, self_times(self.spans))
                    ],
                },
                f,
                indent=1,
            )


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out
