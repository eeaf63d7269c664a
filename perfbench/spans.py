"""Spans and Spark counters for the traced benchmark run.

A span is opened by the benchmark around each call into a library layer.
While it is open, every Spark job the calling thread starts carries the
span's job group, so after the operation the span's jobs, stages, tasks,
executor run time, shuffle, spill and input bytes can be read back from
the status tracker and the application status store. The library is not
changed. Spans are kept in memory and written out once, at the end.

With tracing off, ``span`` and ``instrument`` do nothing, so the untraced
run executes the same benchmark code without the bookkeeping.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import time

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes",
            "spill_bytes", "input_bytes", "job_s")


class Tracer:
    """Collects spans for one benchmark run; ``enabled=False`` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._sc = None
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._pending: list[dict] = []

    def bind(self, spark) -> None:
        """Point the tracer at the session's SparkContext."""
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{sid}"}
        self._stack.append(rec)
        self._sc.setJobGroup(rec["group"], name)
        rec["wall_ms"] = time.time() * 1000
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent["group"], parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)
            self._pending.append(rec)

    @contextlib.contextmanager
    def instrument(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
        ``(owner, attr, name)`` while the block runs, and restore it after."""
        if not self.enabled:
            yield
            return
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        try:
            for (owner, attr, name), (_, _, fn) in zip(targets, saved):
                setattr(owner, attr, self._wrap(fn, name))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def collect(self) -> None:
        """Attach Spark counters to the spans closed since the last call.
        Runs between operations, outside their timed region."""
        if not self._pending:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for rec in self._pending:
            rec.update(_group_counters(store, tracker, rec))
        self._pending.clear()

    def inclusive(self, rec: dict) -> dict:
        """A span's counters plus those of every span nested in it."""
        out = {k: rec.get(k, 0) for k in COUNTERS}
        for child in self.spans:
            if child["parent"] == rec["id"]:
                for k, v in self.inclusive(child).items():
                    out[k] += v
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _group_counters(store, tracker, rec: dict) -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    intervals = []
    for job_id in tracker.getJobIdsForGroup(rec["group"]):
        out["jobs"] += 1
        job = store.job(job_id)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # evicted from the store or never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
    out["job_s"] = _covered_ms(intervals, rec["wall_ms"], rec["wall_end_ms"]) / 1000
    return out


def _covered_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    query execution, forcing planning if it has not run yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            total += phases.apply(phase).durationMs()
    return float(total)
