"""In-memory spans recorded from the benchmark's side of each layer call.

A span has a name, a start, an end, the span that caused it and the
operation it belongs to.  Spans stay in memory and are written out once,
when the run ends.  ``patched`` swaps a module attribute for a wrapper
that records a span around every call, so the calls ``cli.main`` makes
into each layer are timed without touching the package.
"""

from __future__ import annotations

import contextlib
import json
import time
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, module, attrs: dict[str, str]):
        """Record a span named ``attrs[a]`` around each call of
        ``module.a`` while the context is open."""
        saved = {a: getattr(module, a) for a in attrs}
        try:
            for a, name in attrs.items():
                setattr(module, a, self.wrap(name, saved[a]))
            yield
        finally:
            for a, fn in saved.items():
                setattr(module, a, fn)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, name: str) -> list[float]:
        """Span duration minus the time its direct children cover."""
        out = []
        for i, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == i)
            out.append(s["end"] - s["start"] - kids)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")
