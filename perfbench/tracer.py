"""In-memory spans around calls into the engine's layers.

A span is (name, start, end, parent).  Spans are recorded by the benchmark's
own files around each public call it makes; nothing inside the engine is
instrumented.  The layer of a span is the part of its name before the
first dot (`kernel.contour_seg` -> `kernel`).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans in memory; `enabled=False` makes `span` a no-op so the
    untraced path runs the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def record(self, name: str, start: float, end: float) -> None:
        """A top-level span timed elsewhere (e.g. on another thread)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end, "parent": None})

    def total(self, name: str) -> float:
        """Summed duration of every span called `name`."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans cover.
        Children of one span never overlap (calls are sequential), so the
        covered time is the sum of the children's durations."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child_time[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)
