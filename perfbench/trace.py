"""In-memory spans, written once as one JSON trace at the end.

A span is (id, name, start, end, parent); times are seconds since the
tracer started. A span's self time is its duration less the time its
children (spans whose parent is its id) cover.
"""
from __future__ import annotations

import contextlib
import json
import time

SCHEMA_VERSION = 1
SPAN_KEYS = ("id", "name", "start", "end", "parent")


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "start": time.perf_counter() - self.t0, "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def dump(self, path: str, **extra) -> None:
        doc = {"schema": SCHEMA_VERSION, "spans": self.spans, **extra}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
