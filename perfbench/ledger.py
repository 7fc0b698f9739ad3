"""Per-call Spark ledger, read from outside the program.

Each call runs under its own Spark job group. After the call the ledger
reads, through the driver's public status APIs (all of which work with
``spark.ui.enabled=false``):

- ``statusTracker`` for the call's job ids and their stage ids;
- ``statusStore().lastStageAttempt`` for tasks, executor run and CPU
  time, shuffle and spill bytes of every stage;
- ``getRDDStorageInfo`` for the RDDs still stored after the action;
- the JVM's garbage-collector beans for GC time.

Nothing here is imported by the program; the benchmark only wraps the
calls it makes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class JobCounters:
    """What the Spark jobs of one phase (build or action) of a call did."""

    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "JobCounters") -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


@dataclass
class CallRecord:
    """One call: its wall split into build and action, and, when traced,
    the Spark counters of each phase."""

    name: str
    layer: str
    cycle: int
    input_rows: int
    build_s: float = 0.0
    action_s: float = 0.0
    #: False if the call raised before returning; such a call is not timed
    ok: bool = True
    build: JobCounters = field(default_factory=JobCounters)
    action: JobCounters = field(default_factory=JobCounters)
    gc_s: float = 0.0
    staged_rdds: int = 0
    staged_mb: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


class SparkLedger:
    """Reads Spark's own counters for the job groups the benchmark sets."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self._jvm = self._sc._jvm

    def begin(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def counters(self, job_ids: list[int]) -> JobCounters:
        out = JobCounters(jobs=len(job_ids))
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    out.stages_skipped += 1
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_run_s += st.executorRunTime() / 1e3
                out.executor_cpu_s += st.executorCpuTime() / 1e9
                out.shuffle_read_mb += st.shuffleReadBytes() / MB
                out.shuffle_write_mb += st.shuffleWriteBytes() / MB
                out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def gc_seconds(self) -> float:
        """Cumulative JVM garbage-collection time, all collectors."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def staged(self) -> tuple[int, float]:
        """RDDs with stored blocks, and their memory plus disk size."""
        n, size = 0, 0
        for info in self._sc._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size / MB


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (JVM, Python workers, ...)."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(pid: int) -> None:
    """Reset ``VmHWM`` of ``pid`` and its descendants to their current
    resident set (``clear_refs`` mode 5), so that a later read covers
    only what ran since."""
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(pid: int) -> float:
    """Summed ``VmHWM`` (peak resident set) of ``pid`` and its descendants."""
    return sum(_vmhwm_kb(p) for p in [pid, *descendants(pid)]) / 1024


def rss_by_process(pid: int) -> dict[str, list[float]]:
    """Peak resident MB of ``pid`` and each descendant, by command name."""
    out: dict[str, list[float]] = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out.setdefault(name, []).append(round(_vmhwm_kb(p) / 1024, 1))
    return out
