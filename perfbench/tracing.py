"""Tracing for the benchmark's traced run.

Two sources, both read from the benchmark's own code:

* spans — wall-clock intervals around calls into the program's public
  functions (name, start, end, parent), recorded by wrapping those
  functions for the duration of one traced call and kept in memory;
* Spark's status store — every job started while a span holds a job
  group (``sc.setJobGroup``) is attributed to that group, and the
  group's stages give task time, shuffle, spill and task skew.
  This works with the UI disabled.
"""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

JOB_GROUP = "spark.jobGroup.id"
JOB_DESC = "spark.job.description"


class Tracer:
    """In-memory span recorder that also assigns Spark job groups."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._groups: list[str | None] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record one span; with ``group``, jobs started inside it are
        tagged with that job group until the span ends."""
        parent = self._stack[-1] if self._stack else None
        if group is not None:
            self._groups.append(self.sc.getLocalProperty(JOB_GROUP))
            self.sc.setJobGroup(group, group)
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "group": group}
            )
            if group is not None:
                prev = self._groups.pop()
                self.sc.setLocalProperty(JOB_GROUP, prev)
                self.sc.setLocalProperty(JOB_DESC, prev)

    def wrap(self, owner, attr: str, span_name, group=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per
        call. ``span_name`` / ``group`` may be callables of the call's
        arguments. Every module of the program that imported the same
        function object by name is patched too; ``unwrap_all`` restores."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            name = span_name(*args, **kwargs) if callable(span_name) else span_name
            grp = group(*args, **kwargs) if callable(group) else group
            with tracer.span(name, grp):
                return orig(*args, **kwargs)

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for key, m in list(sys.modules.items())
                if key.startswith("cpg_spark") and m is not owner and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            t, attr, orig = self._patches.pop()
            setattr(t, attr, orig)


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def task_skew(durations: list[float]) -> float | None:
    """Max task time over median task time; None below two tasks."""
    if len(durations) < 2:
        return None
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else None


def group_stats(sc, group: str) -> dict:
    """Engine counters of every job in one job group."""
    store = sc._jsc.sc().statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    intervals, stage_ids = [], set()
    for jid in job_ids:
        job = store.job(jid)
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
        stage_ids.update(_seq(job.stageIds()))
    out = {
        "jobs": len(job_ids),
        "intervals": intervals,
        "tasks": 0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "task_skew": None,
        "task_durations": [],
    }
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: its map output was reused
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["tasks"] += st.numCompleteTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        durs = [
            _opt(td.duration(), 0) / 1e3
            for td in _seq(store.taskList(sid, st.attemptId(), st.numTasks()))
        ]
        out["task_durations"] += durs
        skew = task_skew(durs)
        if skew is not None:
            out["task_skew"] = max(out["task_skew"] or 0.0, skew)
    return out


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def storage_residual(spark) -> tuple[int, float]:
    """(persisted RDDs, MB in memory + on disk) still held by the block
    manager."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return jsc.getPersistentRDDs().size(), mb
