"""Plumbing shared by the workloads: spans, Spark's own job and stage
counters, memory, and summary statistics.

Spans are recorded only from the benchmark's files, around each call
into a layer of the package. They live in memory and are written out
as JSON when the run ends. With tracing off, ``Tracer.span`` still
yields, but records nothing and sets no job group, so the untraced run
pays for none of it.
"""

from __future__ import annotations

import json
import os
import resource
import threading
import time
from contextlib import contextmanager

import numpy as np
from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "attrs")

    def __init__(self, sid, name, parent, group):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = time.perf_counter()
        self.end = None
        self.group = group
        self.attrs: dict = {}


class Tracer:
    """In-memory span recorder. In traced mode each span runs its Spark
    work under its own job group, so the jobs it launched can be read
    back from Spark's status tracker when the run ends."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stream_groups: list[str] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        group = f"perfbench-{os.getpid()}-{sid}"
        sp = Span(sid, name, stack[-1].id if stack else None, group)
        sc.setJobGroup(group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    def add_stream(self, query) -> None:
        """Micro-batch jobs run under the streaming query's run id as
        their job group; remember it so they are counted too."""
        if self.enabled:
            self.stream_groups.append(str(query.runId))

    def resolve_counters(self) -> None:
        """Attach job, stage, task-time, shuffle and spill counts to
        every span. Done once at the end: Spark's status store is fed
        by an asynchronous listener bus, so reading it right after an
        action can miss the last stage."""
        if not self.enabled:
            return
        time.sleep(0.5)
        for sp in self.spans:
            sp.attrs.update(group_counters(self.spark, [sp.group]))

    def stream_counters(self) -> dict:
        return group_counters(self.spark, self.stream_groups)

    def select(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                **s.attrs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


def group_counters(spark, groups: list[str]) -> dict:
    """Jobs, executed stages, executor run time, shuffle write and
    disk spill for every job launched under the given job groups, read
    from Spark's status tracker and status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = stages = task_ms = shuffle = spill = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(int(sid))
                except Py4JJavaError:  # never attempted, or evicted
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                task_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
    return {
        "jobs": jobs,
        "stages": stages,
        "task_time_s": task_ms / 1000.0,
        "shuffle_write_bytes": shuffle,
        "spill_bytes": spill,
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the Spark
    driver JVM it launched (its VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return pct(values, 50)
