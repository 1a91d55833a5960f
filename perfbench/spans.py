"""In-memory spans for the traced run, written once at the end.

A span is ``(id, name, start, end, parent, cpu)``; the run-level fields
(workload, seed, run id) are added when the spans are written. A span's self
time is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, workload: str, seed: int, run_id: str) -> None:
        self.workload, self.seed, self.run_id = workload, seed, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        c0 = time.process_time()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["cpu"] = time.process_time() - c0
            self._stack.pop()

    def wrap(self, fn, name: str):
        """``fn`` with a span around every call."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (children never overlap here:
        every span is opened and closed on the main thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "workload": self.workload, "seed": self.seed,
                                    "run_id": self.run_id}) + "\n")
