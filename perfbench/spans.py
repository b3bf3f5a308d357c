"""In-memory spans recorded around calls into the program's layers.

A span is (name, start, end, parent, pass_id). Times are wall-clock
epoch seconds so they line up with the millisecond timestamps in
Spark's event log. Spans stay in memory until the run ends; nothing is
written while a pass is being timed.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class SpanRecorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "pass_id": self.pass_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span around
        every call. The program's files stay untouched; only the module
        attribute the program looks up at call time is swapped."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name over the spans of timed passes:
    span duration minus the part of its interval covered by its direct
    children. ``spans`` is a recorder's full list (parents are indices)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["pass_id"] is None:
            continue
        covered = 0.0
        last_end = s["start"]
        for c in sorted(children.get(i, []), key=lambda c: c["start"]):
            lo = max(c["start"], last_end)
            hi = min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                last_end = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
