"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run_id). Spans are kept in memory and
written out once, when the benchmark ends. A span's self time is its
duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, span: dict) -> float:
        """`span`'s duration minus the part its children cover."""
        covered, reach = 0.0, span["start"]
        kids = sorted((c for c in self.spans if c["parent"] == span["id"]),
                      key=lambda c: c["start"])
        for c in kids:
            lo, hi = max(c["start"], reach), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        return span["end"] - span["start"] - covered

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
