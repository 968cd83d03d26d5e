"""Spans recorded around the benchmark's calls into each layer.

A span is (id, name, layer, start, end, parent, run id). Spans are kept
in memory and written as JSON lines when the run ends. A layer's self
time is the sum over its spans of duration minus the part covered by
child spans.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = "setup"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, func: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": f"{layer}.{func}", "layer": layer,
            "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, layer: str, func: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        """Record a span timed elsewhere (a kernel call in a worker
        process) as a child of parent, by default of the current span.
        Returns its id."""
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "id": len(self.spans), "name": f"{layer}.{func}", "layer": layer,
            "start": start, "end": end, "parent": parent, "run_id": self.run_id,
        })
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, hi = 0.0, s["start"]
            # union of child intervals (worker spans overlap each other)
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, hi), min(b, s["end"])
                if b > a:
                    covered += b - a
                    hi = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
