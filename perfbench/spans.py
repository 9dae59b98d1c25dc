"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, name, parent, start, end) in epoch seconds, so it shares
a clock with the Spark event log's stage times. Spans stay in memory
and are written once, when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """``cpu_clock`` returns CPU seconds used so far; each span records
    the CPU spent inside it as ``cpu_s``."""

    def __init__(self, cpu_clock) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._cpu = cpu_clock

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self._open(name, time.time(), attrs)
        self._stack.append(rec["id"])
        c0, t0 = self._cpu(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            rec["cpu_s"] = self._cpu() - c0
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        """Record a span measured elsewhere (a micro-batch reported by the
        streaming listener)."""
        rec = self._open(name, start, attrs, parent=parent)
        rec["end"] = end
        return rec

    def _open(self, name, start, attrs, parent=-1) -> dict:
        if parent == -1:
            parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": None, **attrs}
        self.spans.append(rec)
        return rec

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def cpu_total(self, name: str) -> float:
        return sum(s.get("cpu_s", 0.0) for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: Σ (duration − the part of it its children cover)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
