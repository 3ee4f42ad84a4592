"""In-memory span tracer for the benchmark's traced run.

A span is opened around a call into one layer's public function. Each
span gets its own Spark job group, so after the run the status tracker
tells which jobs, stages and tasks each span launched. Spans stay in
memory until :meth:`Tracer.dump`.

:func:`patched` wraps the program's functions where the pipeline looks
them up (module attributes), from outside the program: nothing in the
package is edited, and the originals are restored on exit.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def resolve_spark_counts(self) -> None:
        """Attach own and inclusive Spark job/stage/task counts to every
        span (run once, after the traced work: the status store is fed
        asynchronously)."""
        time.sleep(0.5)
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{rec['id']}")
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    stages += 1
                    tasks += st.numTasks if st else 0
            rec["own"] = {"jobs": len(jobs), "stages": stages, "tasks": tasks}
        incl = {rec["id"]: dict(rec["own"]) for rec in self.spans}
        for rec in reversed(self.spans):  # children have larger ids
            rec["spark"] = incl[rec["id"]]
            if rec["parent"] is not None:
                for k, v in rec["spark"].items():
                    incl[rec["parent"]][k] += v

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed
        per layer."""
        child_time: dict[int, float] = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            out[rec["layer"]] += rec["end"] - rec["start"] - child_time[rec["id"]]
        return dict(out)

    def by_name(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def dump(self, path: str) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        rows = [
            {**r, "start": r["start"] - t0, "end": r["end"] - t0} for r in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f)


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str, str]], tracer: Tracer):
    """Replace ``getattr(owner, attr)`` with a traced wrapper for each
    ``(owner, attr, span_name, layer)``; restore the originals on exit."""
    saved = []
    try:
        for owner, attr, name, layer in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(orig, name, layer))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
