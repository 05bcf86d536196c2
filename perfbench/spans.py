"""In-memory spans for the traced run.

A span holds name, start, end (``time.time()``), parent and one trace id per
operation. The benchmark opens a root span around each operation it times
and wraps the package's public functions (patched from here, only in the
traced run) in child spans. Intervals seen outside the process — stub
requests, streaming progress events — are attached afterwards under the
span that was open when they started. A span's self time is its duration
minus the part of it its children cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


def merge_intervals(intervals) -> list[tuple[float, float]]:
    """The union of ``(start, end)`` intervals as sorted, disjoint ones."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ambient: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False, ambient: bool = False):
        """A span around the block. ``root`` starts a new trace; otherwise
        the parent is the innermost open span of this thread or, on a
        thread with none open (Spark's stream thread), the newest open
        ``ambient`` span."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            parent = None if root else (stack[-1] if stack else (self._ambient[-1] if self._ambient else None))
            sp = {"id": next(self._ids), "name": name, "start": time.time(), "end": None,
                  "parent": parent["id"] if parent else None}
            sp["trace"] = parent["trace"] if parent else sp["id"]
            if ambient:
                self._ambient.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            with self._lock:
                if ambient:
                    self._ambient.remove(sp)
                self.spans.append(sp)

    def patch(self, owner, attr: str, name: str, root: bool = False) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, root=root):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- intervals recorded outside the process ---------------------------------

    def _innermost_at(self, t: float) -> dict | None:
        best = None
        for sp in self.spans:
            if sp["start"] <= t <= sp["end"] and (best is None or sp["start"] >= best["start"]):
                best = sp
        return best

    def attach_busy(self, name: str, intervals: list[tuple[float, float]]) -> None:
        """Attach endpoint request intervals. Overlapping intervals under the
        same parent merge into one busy span, so concurrent requests are not
        counted twice."""
        by_parent: dict[int, list[tuple[float, float]]] = {}
        parents = {}
        for s, e in intervals:
            p = self._innermost_at(s)
            if p is None:
                continue
            parents[p["id"]] = p
            by_parent.setdefault(p["id"], []).append((s, min(e, p["end"])))
        for pid, iv in by_parent.items():
            p = parents[pid]
            for s, e in merge_intervals(iv):
                self.spans.append({"id": next(self._ids), "name": name, "start": s, "end": e,
                                   "parent": pid, "trace": p["trace"]})

    def attach_enclosing(self, name: str, start: float, end: float, attrs: dict) -> None:
        """Attach an interval that encloses work already traced (a streaming
        micro-batch): its siblings that fall inside it become its children."""
        p = self._innermost_at(start)
        if p is None:
            return
        sp = {"id": next(self._ids), "name": name, "start": start, "end": min(end, p["end"]),
              "parent": p["id"], "trace": p["trace"], **attrs}
        for other in self.spans:
            if other["parent"] == p["id"] and start <= other["start"] and other["end"] <= sp["end"]:
                other["parent"] = sp["id"]
        self.spans.append(sp)

    # -- analysis ------------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        out = {}
        for sp in self.spans:
            clipped = [(max(c["start"], sp["start"]), min(c["end"], sp["end"])) for c in kids.get(sp["id"], ())]
            covered = sum(e - s for s, e in merge_intervals(iv for iv in clipped if iv[1] > iv[0]))
            out[sp["id"]] = (sp["end"] - sp["start"]) - covered
        return out

    def self_time_by_name(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + st[sp["id"]]
        return out

    def write(self, path: str) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**sp, "self_s": st[sp["id"]]}) + "\n")
