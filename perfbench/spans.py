"""Spans and Spark work counters for the traced run.

``Tracer`` records a span around each wrapped call: name, start, end,
the span that caused it, and the op id it belongs to.  Spans stay in
memory and are written out once, when the run ends.  A disabled tracer
wraps nothing and records nothing, so the untraced run measures the
program alone.

``SparkWork`` counts Spark jobs and stages between two marks taken from
the driver's status store.  It counts by job-id and stage-id
watermarks, never by list size: the store keeps only the most recent
1,000 jobs, so a list-size difference goes wrong (even negative) once a
session has run more jobs than that.  It reads the store rather than
``statusTracker().getJobIdsForGroup``, which does not see the jobs a
streaming query runs on its own thread.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


_ABSENT = object()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._wrapped: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, object]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        op = parent_op if op is None else op
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "op": op}
                )

    def wrap(self, owner, attr: str, name: str, op_arg: int | None = None):
        """Replace ``owner.attr`` (a class or an instance attribute) by a
        wrapper that records a span around each call.  ``op_arg`` names
        the positional argument that carries the op id, if any."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            op = args[op_arg] if op_arg is not None and len(args) > op_arg else None
            with self.span(name, op):
                return fn(*args, **kwargs)

        original = vars(owner).get(attr, _ABSENT)
        setattr(owner, attr, wrapped)
        self._wrapped.append((owner, attr, original))

    def unwrap(self) -> None:
        """Undo every ``wrap``, newest first."""
        while self._wrapped:
            owner, attr, original = self._wrapped.pop()
            if original is _ABSENT:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


_STAGE_RAN = {"COMPLETE", "FAILED"}


class SparkWork:
    """Job and stage counts from the status store between two marks."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = sc._jvm
        self._empty = jvm.java.util.Collections.emptyList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _jobs(self):
        return self._store.jobsList(None)  # newest first

    def _stages(self):
        return self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )  # newest first

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest stage id) once the listener has
        caught up with every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs, stages = self._jobs(), self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def between(self, a: tuple[int, int], b: tuple[int, int]) -> dict:
        """Work whose ids fall in (a, b]: job count from the id span,
        job wall time summed over the jobs still retained, and stage
        totals over the stages that ran (skipped stages have ids too)."""
        out = {
            "jobs": b[0] - a[0], "job_s": 0.0, "stages": 0, "tasks": 0,
            "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
        }
        jobs = self._jobs()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= a[0]:
                break
            if jid > b[0]:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= a[1]:
                break
            if sid > b[1] or s.status().toString() not in _STAGE_RAN:
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def add_work(total: dict, part: dict) -> dict:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
    return total
