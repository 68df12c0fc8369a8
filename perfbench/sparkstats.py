"""Spark-side counters read from outside the program.

Every timed operation runs under its own job group. Jobs, stages and
tasks come from the public ``statusTracker``; executor run time, GC,
shuffle write and spill come from the stage metrics that Spark's
status store keeps for its REST API (``/api/v1/.../stages``), read
through the driver JVM. Jobs started from threads the program spawns
carry no job group, so an operation also owns every ungrouped job that
appeared while it ran (one client, one operation at a time).
"""

from __future__ import annotations

import time


class JobCounters:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._ungrouped: set[int] = set()

    def begin(self, group: str, snapshot: bool = True) -> None:
        """Put the calling thread's next jobs in ``group``; with
        ``snapshot``, remember the ungrouped jobs seen so far so that
        :meth:`collect` can attribute new ones to this operation."""
        self.sc.setJobGroup(group, group)
        if snapshot:
            self._ungrouped = set(self.tracker.getJobIdsForGroup(None))

    def _jobs(self, group: str) -> list[int]:
        own = set(self.tracker.getJobIdsForGroup(group))
        new = set(self.tracker.getJobIdsForGroup(None)) - self._ungrouped
        return sorted(own | new)

    def collect(self, group: str, timeout_s: float = 10.0) -> dict:
        """Counters over the group's jobs, once all of them finished
        (the status store is fed asynchronously by the listener bus)."""
        ids = self._jobs(group)
        deadline = time.monotonic() + timeout_s
        while True:
            infos = [self.tracker.getJobInfo(j) for j in ids]
            if all(i is None or i.status in ("SUCCEEDED", "FAILED")
                   for i in infos) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = {"jobs": len(ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "executor_run_s": 0.0, "jvm_gc_s": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for j in ids:
            it = self.store.job(j).stageIds().iterator()
            while it.hasNext():
                for sd in _seq(self.store.stageData(int(it.next()), False,
                                                    None, False, None)):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1000.0
                    out["jvm_gc_s"] += sd.jvmGcTime() / 1000.0
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += (sd.memoryBytesSpilled()
                                           + sd.diskBytesSpilled())
        return out


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def peak_rss_mb(pid: int) -> float:
    """High-water resident set size (VmHWM) of process ``pid``."""
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0
