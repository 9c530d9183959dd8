"""Spans around the benchmark's calls into the engine's modules.

A traced run wraps the public methods of the engine objects it hands
out (``Table``, ``Session``, ``Engine``) so every call, including the
calls those objects make on each other, records a span: name, start,
end, parent span and the workload operation it belongs to. Each span
also tags its Spark jobs with a job group and reads the job and task
counts back from ``statusTracker()``. Spans stay in memory and are
written out when the run ends.

An untraced run installs no wrappers; ``span`` then costs one context
manager entry and records nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from perfbench import stats


class Tracer:
    def __init__(self, spark, enabled: bool, driver_only=frozenset()):
        """``driver_only`` names spans below which no Spark job ever
        runs; they skip the job-group calls, which would cost more than
        the calls they wrap (a Session.apply takes microseconds)."""
        self.enabled = enabled
        self.driver_only = driver_only
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker() if enabled else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.op_id: int | None = None  # the workload operation in progress
        self.bookkeeping_s = 0.0  # time spent recording, inside the run

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = self._next_id
        self._next_id += 1
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "attrs": attrs, "jobs": 0, "tasks": 0}
        track_jobs = name not in self.driver_only
        if track_jobs:
            self._sc.setJobGroup(f"perfbench-{sid}", name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if track_jobs:
                rec["jobs"], rec["tasks"] = self._job_counts(f"perfbench-{sid}")
                if self._stack:
                    self._sc.setJobGroup(f"perfbench-{self._stack[-1]['id']}",
                                         self._stack[-1]["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _job_counts(self, group: str) -> tuple[int, int]:
        jobs = list(self._tracker.getJobIdsForGroup(group))
        tasks = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for s in (info.stageIds if info is not None else []):
                st = self._tracker.getStageInfo(s)
                tasks += st.numTasks if st is not None else 0
        return len(jobs), tasks

    def wrap(self, obj, methods: dict) -> None:
        """Record a span named ``methods[m]`` around every call of
        ``obj.m``, including calls ``obj`` makes on itself. No-op when
        tracing is off."""
        if not self.enabled:
            return
        for m, span_name in methods.items():
            bound = getattr(obj, m)

            def traced(*a, _f=bound, _n=span_name, **kw):
                with self.span(_n):
                    return _f(*a, **kw)

            functools.update_wrapper(traced, bound)
            setattr(obj, m, traced)

    def mark(self) -> int:
        """Id the next span will get; pass it to ``since``."""
        return self._next_id

    def since(self, first_span: int) -> list[dict]:
        return [s for s in self.spans if s["id"] >= first_span]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, default=str) + "\n")


def layer_totals(spans: list[dict]) -> dict:
    """Span name -> {"calls", "self_s", "jobs", "tasks"} over ``spans``."""
    selfs = stats.self_times(spans)
    out: dict = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})
        agg["calls"] += 1
        agg["self_s"] += selfs[s["id"]]
        agg["jobs"] += s["jobs"]
        agg["tasks"] += s["tasks"]
    return out


def subtree_jobs(spans: list[dict], root_id: int) -> int:
    """Spark jobs run by span ``root_id`` and every span below it."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total, todo = 0, [root_id]
    by_id = {s["id"]: s for s in spans}
    while todo:
        sid = todo.pop()
        total += by_id[sid]["jobs"]
        todo.extend(k["id"] for k in kids.get(sid, []))
    return total
