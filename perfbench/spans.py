"""Spans recorded from the benchmark's own code, plus Spark's accounting.

A span is (id, name, parent, start, end, attrs). Spans are kept in
memory and written out once, when the run ends. A span opened with
``spark=True`` runs its body in a Spark job group of its own; when it
closes, the group's job, stage and task counts are read from
``statusTracker()`` and its shuffle, input and CPU figures from the
application status store, which is populated with the UI off.

With tracing disabled every span is a no-op and no job group is set.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "executor_cpu_s",
    "executor_run_s",
)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None, attrs: dict):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.perf_counter()
        self.end = self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Read counters from this session from now on."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, parent: Span | None = None, spark: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, parent.id if parent else None, attrs)
        self.spans.append(s)
        group = f"perfbench-{s.id}"
        if spark:
            self._sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if spark:
                s.attrs.update(self._counters(group))
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _counters(self, group: str) -> dict:
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        out["job_ids"] = job_ids
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # skipped stage: planned, never attempted
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["tasks_failed"] += st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["executor_run_s"] += st.executorRunTime() / 1e3
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                fh,
            )


def rss_mb(pid: int | str = "self", field: str = "VmRSS") -> float:
    """A process's resident set in MB from /proc: current (``VmRSS``) or
    peak (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_retained_mb(spark) -> float:
    """Heap plus non-heap MB the driver JVM holds after full GCs: the
    memory the program keeps alive, without the heap growth that makes
    the JVM's peak resident set vary from run to run.

    Spark's ContextCleaner drops broadcast and shuffle state on its own
    thread after a GC finds it unreachable, so one collection can still
    count it; collect until two in a row agree to within 1 MB."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    prev = None
    for _ in range(8):
        jvm.System.gc()
        used = (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / 2**20
        if prev is not None and abs(used - prev) < 1:
            break
        prev = used
        time.sleep(0.5)
    return used


def steal_jiffies() -> int:
    """Clock ticks the hypervisor gave this machine's CPUs to others (/proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def jvm_pid(spark) -> int:
    """Pid of the driver JVM that PySpark launched for this process."""
    return spark.sparkContext._gateway.proc.pid
