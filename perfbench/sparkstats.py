"""Spark counters read from the in-process status store.

Every call the benchmark makes runs under its own job group, so the
jobs, stages and task metrics of one call can be summed after it
returns. The status store is filled by the listener bus, which is
drained before each read. Both work with the Spark UI disabled.
"""

from __future__ import annotations

from dataclasses import dataclass, fields


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0

    def __iadd__(self, other: "Counters") -> "Counters":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


class JobGroups:
    """Issues a unique job group per call and reads its counters back."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        group = f"perfbench/{self._n}/{label}"
        self.sc.setJobGroup(group, label)
        return group

    def counters(self, *groups: str) -> Counters:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = Counters()
        seen: set[int] = set()
        for g in groups:
            for job_id in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job_id)
                out.jobs += 1
                for sid in (info.stageIds if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    d = store.lastStageAttempt(sid)
                    if d.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.tasks += d.numCompleteTasks() + d.numFailedTasks()
                    out.failed_tasks += d.numFailedTasks()
                    out.shuffle_write_bytes += d.shuffleWriteBytes()
                    out.shuffle_read_bytes += d.shuffleReadBytes()
                    out.spill_bytes += d.diskBytesSpilled()
                    out.input_bytes += d.inputBytes()
                    out.executor_run_s += d.executorRunTime() / 1e3
                    out.executor_cpu_s += d.executorCpuTime() / 1e9
        return out


def persisted_rdds(spark) -> int:
    """RDDs the session still holds persisted."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size of the driver JVM (VmHWM)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
