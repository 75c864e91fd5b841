"""Spans around the benchmark's calls into the engine.

A span records name, start, end and parent span.
Spans are kept in memory and written once, when the run ends. When a
SparkContext is attached, entering a span also sets the job description
and a ``perfbench.span`` local property, so every Spark job the call
starts carries the id of the innermost open span into the event log
(see eventlog.py).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Tag Spark jobs with the open span (traced runs only)."""
        self._sc = sc

    def _tag(self, rec: dict | None) -> None:
        if self._sc is None:
            return
        self._sc.setJobDescription(rec["name"] if rec else None)
        self._sc.setLocalProperty(SPAN_PROPERTY, str(rec["id"]) if rec else None)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def subtree(self, span_id: int) -> set[int]:
        """Ids of a span and all its descendants."""
        out = {span_id}
        for s in self.spans:  # parents precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
