"""Spans recorded around the benchmark's calls into the engine.

A span is (id, name, start, end, parent, run). Spans are kept in memory and
written out once, when the run ends. While a span is open its key is the
Spark job description, so the event-log parser can map every job the call
starts back to the span. A disabled tracer records nothing and leaves the
job description alone.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark_context = None  # set once a session exists

    @staticmethod
    def key(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def _describe(self, desc: str | None) -> None:
        if self.spark_context is not None:
            self.spark_context.setJobDescription(desc)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe(self.key(rec["id"]))
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(self.key(parent["id"]) if parent else None)

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.closed(), **extra}, f)
