"""Layer spans measured from outside the engine.

Every call into a ``linkgraph`` layer runs inside ``Spans.call(name)``.
The span always records the call's wall time. With tracing on, the call
also runs under its own Spark job group; when it returns, the group's
jobs and stages are read back from the status tracker and the JVM
status store. This works with ``spark.ui.enabled=false``. From them the
span gets its job and stage counts, executor task time, shuffle and
spill bytes, and ``idle_s``: the part of the call's wall time during
which none of its stages ran (planning, scheduling, Python-side work).

Tracing sets a job group and reads the status store afterwards; it
submits no Spark job of its own, so a traced run and an untraced run of
the same workload run the same number of jobs (``run.py`` checks this).
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_COUNTERS = ("jobs", "stages", "task_s", "idle_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Spans:
    """Records one dict per layer call of one workload pass."""

    def __init__(self, spark, trace: bool, tag: str = ""):
        self.sc = spark.sparkContext
        self.trace = trace
        self.tag = tag  # makes the job group names unique per pass
        self.records: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def call(self, name: str):
        """Time one layer call; the body may add counts to the yielded dict
        (rows out, supersteps, ...)."""
        rec: dict = {"name": name}
        if self.trace:
            group = f"perfbench-{self.tag}-{next(self._ids)}-{name}"
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield rec
        finally:
            t1 = time.time()
            rec["wall_s"] = t1 - t0
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self.group_counters(group, t0, t1))
            self.records.append(rec)

    def group_counters(self, group: str, t0: float, t1: float) -> dict:
        """Spark counters of every job run under ``group`` in [t0, t1]."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(_COUNTERS, 0)
        out["jobs"] = len(job_ids)
        busy = []
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # never attempted
                continue
            if sd.status().toString() == "SKIPPED":  # output reused
                continue
            out["stages"] += 1
            out["task_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                busy.append((sub.get().getTime() / 1000.0,
                             done.get().getTime() / 1000.0))
        out["idle_s"] = max(0.0, (t1 - t0) - _covered(busy, t0, t1))
        return out

    def job_count(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))
