"""In-memory spans recorded around the benchmark's calls into the library.

A span has a name, start and end (``time.perf_counter`` seconds), the id
of the span that was open when it started (its parent) and the id of the
query it belongs to.  Spans stay in memory until ``dump`` writes them out.
A disabled tracer records nothing and its ``span`` is a no-op.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.query: int | None = None
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "query": self.query, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover.
        Children of one span never overlap (one thread opens them in
        turn), so the covered time is the sum of their durations."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def median_self(self, name: str) -> float:
        """Median self time of the spans called ``name`` (0.0 if none)."""
        own = self.self_times()
        vals = [own[s["id"]] for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            json.dump([dict(s, self=own[s["id"]]) for s in self.spans], f)
