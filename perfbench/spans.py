"""Span recorder and Spark status-store counters for the traced run.

A span is (id, name, start, end, parent, run id) plus counters. Spans
are kept in memory and written as one JSON file when the run ends.
With a SparkContext attached, each span tags its Spark jobs with a
job group and, right after the wrapped call returns, reads per-stage
counters through the in-process status store (no UI, no REST):

    setJobGroup -> statusTracker().getJobIdsForGroup
      -> getJobInfo(j).stageIds -> statusStore().lastStageAttempt(sid)

The counters are read before ``spark.ui.retainedStages`` can evict the
stages of a long loop.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval that children cover
    (children may overlap each other; the union is subtracted)."""
    lo, hi = span["start"], span["end"]
    cover, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        a, b = max(lo, c["start"]), min(hi, c["end"])
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return (hi - lo) - cover


def stage_counters(sc, group: str) -> dict:
    """Sum the status-store counters of every stage run by the jobs of
    ``group``. Stages shared by several jobs are counted once."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "exec_run_ms": 0}
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran or was evicted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["exec_run_ms"] += st.executorRunTime()
    return out


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op
    that still yields a dict, so the untraced path runs the same code."""

    def __init__(self, run_id: str, enabled: bool, sc=None) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}:{rec['id']}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec["counters"] = stage_counters(self.sc, group)
                if parent is not None:
                    self.sc.setJobGroup(f"{self.run_id}:{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, start: float, end: float, parent: dict | None = None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. a superstep interval
        taken from ``SuperstepRunner.metrics``)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "start": start, "end": end, "attrs": dict(attrs)}
        if self.enabled:
            self.spans.append(rec)
        return rec

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def with_counters_total(self, span: dict) -> dict:
        """Counters of ``span`` plus those of all its descendants (a
        child span's jobs run under the child's own job group)."""
        tot = dict(span.get("counters", {}))
        for c in self.children(span):
            for k, v in self.with_counters_total(c).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    def write(self, path: str) -> None:
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["duration_s"] = s["end"] - s["start"]
            rec["self_s"] = self_time(s, self.children(s))
            out.append(rec)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": out}, fh, indent=1)
