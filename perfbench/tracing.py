"""Step timer and span recorder used around the benchmark's calls into
the library.

``Recorder.step(name, layer)`` always times the step (the end-to-end
metrics need the step durations), and with tracing on it also records a
span ``(id, op, name, layer, start, end, parent)``.  Spans stay in memory
until the worker ends; ``self_times`` turns one op's spans into per-layer
self time, which is a span's duration minus the part of it covered by
its child spans.  Nothing inside the package is instrumented.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self, trace: bool):
        self.trace = trace
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.steps: dict[str, float] = {}

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id
        self.steps = defaultdict(float)

    @contextmanager
    def step(self, name: str, layer: str):
        if not self.trace:
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.steps[name] += time.perf_counter() - t0
            return
        sid = len(self.spans)
        span = {"id": sid, "op": self.op_id, "name": name, "layer": layer,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()
            self.steps[name] += span["end"] - span["start"]

    def self_times(self, op_id: int) -> dict[str, float]:
        """Per-layer self time of one op's spans (children never overlap
        their siblings: the benchmark's calls are sequential)."""
        spans = [s for s in self.spans if s["op"] == op_id]
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)
