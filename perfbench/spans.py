"""In-memory spans for traced runs.

A span records name, start, end, parent span and cycle id; spans are
written out once, when the run ends. With tracing off ``span`` returns
a no-op context, so untraced runs pay one attribute check per call
site.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cycle = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def _span(self, name: str):
        stack = self._stack()
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "cycle": self.cycle,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext({})
        return self._span(name)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str, cycle) -> float:
        """Seconds spent in spans called ``name`` during ``cycle``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["cycle"] == cycle)

    def write(self, path: str, counters: list[dict]) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["start"]), "counters": counters}, f)
