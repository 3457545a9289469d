"""Spark counters read from outside the program.

The benchmark tags each phase with its own job group
(``SparkContext.setJobGroup``), then asks Spark which jobs ran under that
group and what their stages did.  Both answers come from the status
store Spark keeps even with the UI disabled:

- job ids per group: ``statusTracker().getJobIdsForGroup``;
- stage ids per job: ``statusTracker().getJobInfo(id).stageIds``;
- stage metrics: ``sc._jsc.sc().statusStore().lastStageAttempt(id)``
  (``stageList(None)`` does not resolve through py4j).

Job counts are what Spark launched, not what the program called: one
``collect`` under AQE can launch several jobs, and a parquet scan can add
a listing job.  A stage that a job skipped (its shuffle output was
reused) counts for nothing.

Peak memory is read without psutil: the Python driver's from
``resource.getrusage`` and the JVM's ``VmHWM`` from ``/proc/<pid>/status``.
CPU time and the host's steal time come from ``/proc`` too; the run
records them beside its walls, so a slow run on a contended host shows
as such.
"""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def __add__(self, other: "StageTotals") -> "StageTotals":
        return StageTotals(*(getattr(self, f.name) + getattr(other, f.name)
                             for f in fields(self)))


class SparkCounters:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._tracker = self._sc.statusTracker()
        self._jvm = spark._jvm

    def set_group(self, group: str | None) -> None:
        """Tag the jobs this thread launches from now on; ``None``
        clears the tag."""
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event to the
        status store, so the counters read next are final."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def totals(self, job_ids: list[int]) -> StageTotals:
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        t = StageTotals(jobs=len(job_ids))
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted, or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            t += StageTotals(
                stages=1, tasks=sd.numCompleteTasks(),
                executor_run_s=sd.executorRunTime() / 1e3,
                executor_cpu_s=sd.executorCpuTime() / 1e9,
                gc_s=sd.jvmGcTime() / 1e3,
                input_bytes=sd.inputBytes(),
                shuffle_read_bytes=sd.shuffleReadBytes(),
                shuffle_write_bytes=sd.shuffleWriteBytes(),
                spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled())
        return t

    def jvm_pid(self) -> int:
        return int(self._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_bytes(pid: int) -> int:
    """Peak resident set of process ``pid`` (Linux ``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb = line.split()[1]
                return int(kb) * 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def process_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read().rsplit(")", 1)[1].split()  # fields 3.. of stat(5)
    return (int(stat[11]) + int(stat[12])) / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from the (virtual) machine's CPUs so far
    (all CPUs summed; 0 on bare metal)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()  # "cpu user nice system idle ... steal"
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def driver_peak_rss_bytes() -> int:
    """Peak resident set of this Python process (Linux reports KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
