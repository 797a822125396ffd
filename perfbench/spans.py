"""In-memory span recorder for traced runs.

A span is (name, start, end, parent, run id).  Spans stay in memory and
are written out once, when the run ends.  A layer's self time is its
spans' duration minus the part of that interval their child spans
cover.
"""

from __future__ import annotations

import functools
import threading
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def begin(self, name: str) -> int:
        parents = self._parents()
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "start": time.time(), "end": None,
                "parent": parents[-1] if parents else None,
                "run": self.run_id,
            })
        parents.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        parents = self._parents()
        if parents and parents[-1] == sid:
            parents.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sid)
        return traced


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus time covered by children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        own = (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def total_time(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["name"] == name and s["end"] is not None)
