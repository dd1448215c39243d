"""Span tracer for the traced run.

Spans (name, start, end, parent, run id) are kept in memory.  Entering
a span tags the Spark jobs it issues with ``setJobGroup("<run>/<id>")``
so the event log (eventlog.py) attributes every task to the innermost
span; leaving it restores the parent's tag.  Layer calls are wrapped
from the benchmark side by replacing public module attributes with
timing wrappers (``instrument``); the program's code is not changed.

A span's self time is its wall minus the wall of its direct children.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """While ``enabled`` is false, spans record nothing and tag nothing
    (untraced runs, and the traced run's untraced control jobs)."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = None          # set once the SparkContext exists
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group(self, sid: int) -> str:
        return f"{self.run_id}/{sid}"

    def _tag(self) -> None:
        if self.sc is None:
            return
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(self.group(top), self.spans[top]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "run": self.run_id,
                           "parent": self._stack[-1] if self._stack
                           else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(sid)
        self._tag()
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()
            self._tag()

    # -- queries over the recorded spans --------------------------------

    def wall(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def children(self, sid: int) -> list[int]:
        return [s["id"] for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, sid: int) -> float:
        return self.wall(sid) - sum(self.wall(c) for c in self.children(sid))

    def dump(self, stream) -> None:
        """Write the spans to ``stream``, one JSON object per line."""
        for s in self.spans:
            stream.write(json.dumps(s) + "\n")
        stream.flush()


def wrap(tracer, owner, attr: str, name: str) -> None:
    """Replace ``owner.attr`` by a wrapper that runs it inside a span.
    Callers that look the attribute up at call time (module globals,
    class attributes) see the wrapper."""
    orig = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(name):
            return orig(*args, **kwargs)

    traced.__wrapped__ = orig
    setattr(owner, attr, traced)


def instrument(tracer) -> None:
    """Wrap the public layer entry points the workloads reach."""
    from python_fmask_spark import pipeline, session, sources
    from python_fmask_spark.functions import dedup
    from python_fmask_spark.plans import lineage, sinks

    wrap(tracer, session, "get_spark", "session.start")
    wrap(tracer, sources, "register_views", "sources.register")
    wrap(tracer, pipeline, "materialize_pass1", "pipeline.pass1")
    wrap(tracer, pipeline, "materialize_thresholds", "pipeline.thresholds")
    wrap(tracer, pipeline, "classify", "pipeline.classify_build")
    wrap(tracer, sinks, "write_mask", "sinks.write")
    wrap(tracer, lineage.StageRunner, "run", "lineage.stage")
    wrap(tracer, dedup, "minhash_clusters", "dedup.clusters")
