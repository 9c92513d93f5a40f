"""In-memory spans recorded around calls into the program's layers.

A span is (name, start, end, parent).  Spans are kept in a list and
written out once, when the benchmark ends.  A span's self time is its
duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict


class Spans:
    def __init__(self):
        self.names: list[str] = []
        self.starts: list[int] = []
        self.ends: list[int] = []
        self.parents: list[int] = []
        self._stack: list[int] = []

    def open(self, name: str) -> int:
        i = len(self.names)
        self.names.append(name)
        self.parents.append(self._stack[-1] if self._stack else -1)
        self.ends.append(0)
        self._stack.append(i)
        self.starts.append(time.perf_counter_ns())
        return i

    def close(self, i: int) -> None:
        self.ends[i] = time.perf_counter_ns()
        if self._stack.pop() != i:
            raise RuntimeError(f"span {self.names[i]} closed out of order")

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_ns(self) -> list[int]:
        """Self time of every span, in nanoseconds.  Spans nest strictly
        (``close`` enforces it), so the children of a span never overlap
        and their summed durations are the part of it they cover."""
        out = [e - s for s, e in zip(self.starts, self.ends)]
        for i, p in enumerate(self.parents):
            if p >= 0:
                out[p] -= self.ends[i] - self.starts[i]
        return out

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total and self seconds."""
        agg: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for i, self_ns in enumerate(self.self_ns()):
            a = agg[self.names[i]]
            a["calls"] += 1
            a["total_s"] += (self.ends[i] - self.starts[i]) / 1e9
            a["self_s"] += self_ns / 1e9
        return dict(agg)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, name in enumerate(self.names):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": name,
                            "start_ns": self.starts[i],
                            "end_ns": self.ends[i],
                            "parent": self.parents[i],
                        }
                    )
                    + "\n"
                )


class _SpanCtx:
    __slots__ = ("spans", "name", "i")

    def __init__(self, spans: Spans, name: str):
        self.spans = spans
        self.name = name

    def __enter__(self):
        self.i = self.spans.open(self.name)
        return self

    def __exit__(self, *exc):
        self.spans.close(self.i)
        return False
