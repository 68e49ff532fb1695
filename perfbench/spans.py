"""Span recorder and Spark status-store collector for perfbench.

Spans are recorded around calls into the program, from outside it.
Each span carries a name, start and end (seconds since the tracer was
created), the id of the span that caused it and the id of its trace
(one per operation). Counts read at the same boundaries are attached to
the span. Spans stay in memory and are written out once, at the end.

Spark work is attributed by job group: the benchmark sets a fresh
group on its thread before each call, so every job the call triggers
(including broadcast builds, which inherit the thread's local
properties) lands in that group. After the call the listener bus is
drained and the group's stages are read from the status store:
``statusTracker().getJobIdsForGroup`` → job stage ids →
``statusStore().lastStageAttempt(stage_id)``. These work with the UI
disabled. The py4j calls are pinned by :func:`selftest`.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# StageData getters summed per group, with the unit conversion to the
# reported metric (executor times are ms except CPU time, which is ns).
_STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_bytes": (("shuffleReadBytes", "shuffleWriteBytes"), 1),
    "spill_bytes": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
}


def empty_counts() -> dict:
    out = {"jobs": 0, "stages": 0}
    out.update({k: 0 for k in _STAGE_FIELDS})
    return out


class StatusStore:
    """Reads job, stage and task counters for one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()

    def new_group(self, name: str) -> str:
        group = f"perfbench-{name}-{next(self._ids)}"
        self.sc.setJobGroup(group, name)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the store reflects the jobs that just ran."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_counts(self, *groups: str) -> dict:
        self.drain()
        tracker = self.sc.statusTracker()
        counts = empty_counts()
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    raise RuntimeError(f"job {job_id} of group {group} left the status store")
                counts["jobs"] += 1
                for stage_id in info.stageIds:
                    self._add_stage(counts, stage_id)
        return counts

    def _add_stage(self, counts: dict, stage_id: int) -> None:
        try:
            stage = self._jsc.statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError as exc:
            if "NoSuchElementException" in str(exc.java_exception):
                return  # planned but never attempted (skipped stage)
            raise
        counts["stages"] += 1
        for key, (getters, scale) in _STAGE_FIELDS.items():
            names = getters if isinstance(getters, tuple) else (getters,)
            counts[key] += sum(getattr(stage, g)() for g in names) * scale


def planning_seconds(df) -> float:
    """Analysis + optimization + physical planning time of ``df``'s
    query, from its QueryPlanningTracker (planning is forced here)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


class Tracer:
    """In-memory span list for a traced run. Untraced runs create none,
    so they never touch the status store."""

    def __init__(self, spark):
        self.store = StatusStore(spark)
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, trace_id: str):
        """Time a block and charge its Spark jobs to it. Yields the span
        dict; its ``counts`` are filled in when the block ends."""
        parent = self._stack[-1] if self._stack else None
        group = self.store.new_group(name)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id,
            "counts": {},
            "_group": group,
        }
        self._stack.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            rec["counts"].update(self.store.group_counts(group))
            # Restore the enclosing span's group for its later jobs.
            if parent is not None:
                self.store.sc.setJobGroup(parent["_group"], parent["name"])
            else:
                self.store.clear_group()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                out = {k: v for k, v in rec.items() if not k.startswith("_")}
                fh.write(json.dumps(out, sort_keys=True) + "\n")


def selftest(spark) -> None:
    """Pin the Spark 4.1 py4j calls the collector relies on: a grouped
    two-stage job must come back with its tasks, run time and shuffle
    bytes, and a tracker phase list must be readable."""
    store = StatusStore(spark)
    group = store.new_group("selftest")
    try:
        rows = spark.range(0, 200_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    finally:
        store.clear_group()
    if len(rows) != 7:
        raise RuntimeError(f"selftest query returned {len(rows)} rows, expected 7")
    c = store.group_counts(group)
    if c["jobs"] < 1 or c["stages"] < 2 or c["tasks"] < 2 or c["shuffle_bytes"] <= 0:
        raise RuntimeError(f"status store returned implausible counts: {c}")
    if planning_seconds(spark.range(10).filter("id > 3")) < 0:
        raise RuntimeError("negative planning time from QueryPlanningTracker")
