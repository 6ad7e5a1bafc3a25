"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, parent, name, start, end, run id, thread). Spans nest per
thread: a span opened inside another on the same thread is its child.
Nothing inside the package is patched; spans wrap the public calls.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, on: bool = True):
        """Record a span when tracing is enabled and ``on`` (ops pass
        False for their untraced half); yields the span dict."""
        if not (self.enabled and on):
            yield {}
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "name": name,
            "run": self.run_id,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds. Self time is a
        span's duration minus the part of it its children cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += max(0.0, dur - covered.get(s["id"], 0.0))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
