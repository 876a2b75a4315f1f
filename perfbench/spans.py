"""In-memory spans around the benchmark's own calls into the library.

A span has a name, start, end, parent and run id. Spans are kept in memory
and written as one JSON file when the traced run ends; a span's self time is
its duration minus the time its child spans cover. Untraced runs use
``NullTracer``, whose spans cost one no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from pathlib import Path


class NullTracer:
    enabled = False

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> dict:
        """Record a finished span; its parent defaults to the open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = self.add(name, time.time(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        covered: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - covered[s["id"]]
        return dict(out)

    def dump(self, directory: Path, extra: dict) -> Path:
        directory.mkdir(parents=True, exist_ok=True)
        path = directory / f"{self.run_id}.json"
        path.write_text(
            json.dumps({"run": self.run_id, "self_s": self.self_times(),
                        "spans": self.spans, **extra}, indent=1)
        )
        return path
