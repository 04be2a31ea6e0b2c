"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run id) plus the counts recorded
at its boundary. Spans nest through a stack (the benchmark's Python
process is single-threaded), are kept in memory and written as JSON
once, at the end of the run. A layer's self time is its span's
duration minus the part of that interval covered by its child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": self.clock(), "end": None, "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            rec["end"] = self.clock()

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans, now=self.clock())

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, total duration, total self time and
        the summed counts."""
        st = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0, "counts": {}})
            agg["calls"] += 1
            agg["total_s"] += (s["end"] if s["end"] is not None else self.clock()) - s["start"]
            agg["self_s"] += st[s["id"]]
            for k, v in s["counts"].items():
                if isinstance(v, (int, float)):
                    agg["counts"][k] = agg["counts"].get(k, 0) + v
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **(extra or {})}, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict], now: float | None = None) -> dict[int, float]:
    """Self time per span id; a span still open counts as ending ``now``."""
    def end(s):
        return now if s["end"] is None else s["end"]

    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], end(s)))
    return {
        s["id"]: (end(s) - s["start"]) - _covered(children.get(s["id"], []), s["start"], end(s))
        for s in spans
    }


def subtree_self_sum(spans: list[dict], root_id: int) -> float:
    """Sum of the self times of ``root_id`` and all its descendants;
    equals the root's duration when children nest inside parents and
    siblings do not overlap."""
    st = self_times(spans)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    total, todo = 0.0, [root_id]
    while todo:
        i = todo.pop()
        total += st[i]
        todo.extend(kids.get(i, []))
    return total


class NullTracer:
    """Stand-in for untraced runs: same interface, records nothing."""

    run_id = None
    spans: list = []

    @contextmanager
    def span(self, name: str, **counts):
        yield counts
