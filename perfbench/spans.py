"""In-memory span recorder for the traced run.

The benchmark opens a span around each call it makes into one of the
package's layers (``session``, ``sources``, ``plans``, ``operators``,
``streaming``). A span records its name, start, end, parent span and the
run id; spans stay in memory and are written out once, at exit. With
tracing off every call is a no-op, so the untraced run measures the
program alone.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # spans opened on a callback thread (foreachBatch) belong to the
        # span the main thread is in, e.g. the streaming run that drives them
        with self._lock:
            for s in reversed(self.spans):
                if s["end"] is None and s["thread"] == self._main.ident:
                    return s["id"]
        return None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._parent()
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": parent,
                "run": self.run_id,
                "thread": threading.get_ident(),
                "start": time.time(),
                "end": None,
            }
            self.spans.append(rec)
        self._stack().append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack().pop()

    def total(self, name: str) -> float:
        """Summed duration of the finished spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def finished(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.finished(), f)
