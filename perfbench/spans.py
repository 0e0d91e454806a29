"""In-memory spans for the traced run.

A span is (id, parent, name, start, end, run id, attributes). Spans are
kept in a list and written once, at the end, with each span's self time:
its duration minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.time(), "end": None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int, **attrs):
        """Record a finished span measured elsewhere (a Spark job)."""
        self.spans.append({"id": len(self.spans), "parent": parent,
                           "name": name, "start": start, "end": end,
                           "run": self.run_id, **attrs})

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], ())]
            )
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, counts: dict) -> None:
        self_s = self.self_times()
        spans = [{**s, "self_s": self_s[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans, "counts": counts},
                      f, indent=1, default=str)


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
