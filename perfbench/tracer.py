"""Spans recorded around the benchmark's calls into each layer.

A span holds name, start, end, the span that caused it and the run id.
Spans stay in memory and are written out once, at the end of the run.
A span's self time is its duration minus the part its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def off(self):
        """Record nothing inside: the untraced part of a traced run."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def record(self, kind: str, **data) -> None:
        """Keep a non-span record (plan-node metrics, host evidence)."""
        if self.enabled:
            self.records.append({"kind": kind, "run_id": self.run_id, **data})

    def self_times(self) -> dict[int, float]:
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path: str, **extra) -> None:
        selfs = self.self_times()
        spans = [{**s, "self_s": selfs[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, "records": self.records,
                       **extra}, f, indent=1, default=str)
