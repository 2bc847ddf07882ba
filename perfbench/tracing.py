"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start and end (wall seconds), the span that caused it
and the run id. Spans stay in memory and are written once, at the end of
the run, each with its self time: its duration minus the part of it that
its children cover. With tracing off every call is a no-op.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a finished span, e.g. one derived from a progress event."""
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append({
                "id": sid, "parent": parent, "run": self.run_id, "name": name,
                "start": start, "end": end, **attrs,
            })
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "parent": parent, "run": self.run_id,
                    "name": name, "start": start, "end": time.time(), **attrs,
                })

    def with_self_times(self) -> list[dict]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered = _union_within(children.get(s["id"], []), s["start"], s["end"])
            out.append({**s, "self_s": max(0.0, s["end"] - s["start"] - covered)})
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.with_self_times():
                f.write(json.dumps(s) + "\n")


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
