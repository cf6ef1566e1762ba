"""In-memory spans for the traced run: name, start, end, parent. Written
once, as JSON, when the run ends."""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record the enclosed block as a span; the innermost open span is
        its parent. ``attrs`` (and keys the block adds to the yielded
        record) are kept with it."""
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured before tracing could wrap it."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its direct children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f, indent=1)
