"""Spans around calls into the engine's public functions.

A span records (id, name, start, end, parent, run id) in memory. While a
span is open, Spark jobs started from this thread carry the span id as
their job group, so the event log attributes each job to the innermost
open span. Streaming jobs carry their query's run id instead (Spark sets
it), which the workload stores on the drain span as ``run_ids``.

Tracing is off unless ``Tracer.enabled`` is set: a disabled tracer opens
no spans and sets no job groups, so untraced passes pay nothing for it.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, rec) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call while tracing is on."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # --- queries over the recorded spans ---------------------------------

    def named(self, name: str, **attrs) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items())
        ]

    def outermost(self, name: str) -> list[dict]:
        """Spans called ``name`` that have no ancestor of the same name."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"] == name:
                    return True
                p = by_id.get(p["parent"])
            return False

        return [s for s in self.named(name) if not nested(s)]

    def subtree(self, span: dict) -> list[dict]:
        """``span`` and every span opened inside it (children are always
        recorded after their parent)."""
        out, ids = [span], {span["id"]}
        for s in self.spans:
            if s["parent"] in ids:
                out.append(s)
                ids.add(s["id"])
        return out

    def groups(self, spans) -> set:
        """Job groups of ``spans`` and all their descendants."""
        ids: set = set()
        for s in spans:
            for d in self.subtree(s):
                ids.add(d["id"])
                ids.update(d.get("run_ids", ()))
        return ids

    @staticmethod
    def duration(spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def self_time(self, span: dict) -> float:
        """Duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - self.duration(kids)

    def summary(self) -> dict:
        """Per span name: calls, total seconds, self seconds."""
        out: dict = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += self.self_time(s)
        return {k: {m: round(v, 4) for m, v in row.items()} for k, row in out.items()}
