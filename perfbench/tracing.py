"""In-memory spans for the traced run.

A span is (id, name, start, end, parent, op). Spans opened on the
thread that started an operation nest through a thread-local stack;
spans opened on a worker thread (run_pipeline overlaps its stages from
a thread pool) have no stack of their own and hang under the
operation's root span. Counts recorded on a span are kept beside it.
Nothing is written until :meth:`Tracer.dump` at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class Tracer:
    """Spans of one run, kept in memory."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self.op: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        """Record one span; yields its dict so callers can add counts."""
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.perf_counter(),
                   "end": None,
                   "parent": stack[-1] if stack else self._root,
                   "op": self.op if op is None else op, "counts": {}}
            self.spans.append(rec)
        stack.append(sid)
        is_root = op is not None
        if is_root:
            self.op, self._root, rec["parent"] = op, sid, None
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if is_root:
                self.op, self._root = None, None

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [(max(c["start"], rec["start"]), min(c["end"], rec["end"]))
                for c in self.spans if c["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - covered(kids)

    def by_name(self, name: str, op_ids=None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (op_ids is None or s["op"] in op_ids)]

    def dump(self, path: str, metrics: dict) -> None:
        spans = [dict(s, self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "spans": spans}, fh, indent=1)


class NullTracer:
    """Stands in for :class:`Tracer` when tracing is off."""

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        yield {"counts": {}}


@contextlib.contextmanager
def traced_stages(tracer: Tracer):
    """Wrap ``StageRunner.run`` so every pipeline stage call records a
    span named ``stage.<name>`` carrying the stage's ``rows_out``."""
    from lamapi_spark.pipeline.checkpoint import StageRunner

    original = StageRunner.run

    def run(self, stage, build, fingerprint="", inputs=()):
        with tracer.span(f"stage.{stage}") as rec:
            out = original(self, stage, build, fingerprint, inputs)
            # stages finish concurrently: find this stage's own record
            meta = next((m for m in reversed(self.metrics)
                         if m.get("stage") == stage), {})
            rec["counts"]["rows_out"] = meta.get("rows_out")
            return out

    StageRunner.run = run
    try:
        yield
    finally:
        StageRunner.run = original
