"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent) plus the process-tree CPU counters at
both ends. Opening a span also makes its name the Spark job description, so
the event log attributes the jobs run inside it to the same layer; closing
it restores the parent's. A span's self time is its duration minus the time
its children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import procstat


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in begin/end themselves

    def begin(self, name: str) -> None:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "parent": parent, "cpu0": procstat.cpu()})
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        self.spans[-1]["start"] = t1 = time.perf_counter()
        self.overhead_s += t1 - t0

    def end(self) -> None:
        t0 = time.perf_counter()
        span = self.spans[self._stack.pop()]
        span["end"] = t0
        span["cpu1"] = procstat.cpu()
        self.sc.setJobDescription(self.spans[self._stack[-1]]["name"] if self._stack else None)
        self.overhead_s += time.perf_counter() - t0

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    @contextmanager
    def span(self, name: str):
        self.begin(name)
        try:
            yield
        finally:
            self.end()

    def self_times(self) -> list[dict]:
        """Each closed span with ``self_s`` and per-kind ``self_cpu``
        (driver, jvm, py_worker), both net of its children."""
        out = []
        for i, s in enumerate(self.spans):
            kids = [c for c in self.spans if c["parent"] == i]
            cpu = {k: s["cpu1"][k] - s["cpu0"][k] - sum(c["cpu1"][k] - c["cpu0"][k] for c in kids) for k in s["cpu0"]}
            dur = s["end"] - s["start"]
            out.append(
                {
                    "name": s["name"],
                    "parent": None if s["parent"] is None else self.spans[s["parent"]]["name"],
                    "start_s": s["start"] - self.spans[0]["start"],
                    "end_s": s["end"] - self.spans[0]["start"],
                    "self_s": dur - sum(c["end"] - c["start"] for c in kids),
                    "self_cpu": cpu,
                }
            )
        return out
