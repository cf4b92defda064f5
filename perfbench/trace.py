"""In-memory span recorder: run → query → {build → load_table…, sink}.
Spans are kept in a list and written out when the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time[i]
        return out

    def under(self, roots: set[int]) -> list[dict]:
        """Every span inside one of the spans numbered in ``roots``."""
        inside: list[bool] = []
        for s in self.spans:
            p = s["parent"]
            inside.append(p is not None and (p in roots or inside[p]))
        return [s for s, keep in zip(self.spans, inside) if keep]

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f)
