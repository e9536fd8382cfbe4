"""Process, host and Spark counters read without a sampler thread.

JVM CPU comes from ``/proc/<jvm pid>/stat``, GC time from the JVM's
GarbageCollectorMXBeans, host steal from ``/proc/stat``, and Spark
job and stage counters from the scheduler and the status store, which
are readable with the UI off.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
# per-stage counters summed from the status store's stage data
STAGE_KEYS = ("task_cpu_s", "shuffle_bytes", "spill_bytes", "input_records")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def proc_cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def thread_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds per thread name (``comm``, digits dropped) of ``pid``."""
    out: dict[str, float] = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                head, _, rest = f.read().rpartition(")")
        except FileNotFoundError:  # thread ended while listing
            continue
        name = head.split("(", 1)[1].rstrip("0123456789#").strip()
        fields = rest.split()
        out[name] = out.get(name, 0.0) + (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out


def host_steal_s() -> float:
    """CPU seconds stolen from this host's vCPUs by the hypervisor."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


class SparkCounters:
    """Counters of one live SparkContext."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc
        self.sc = self.jsc.sc()
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())
        self._gc_beans = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())

    def next_job_id(self) -> int:
        return int(self.sc.dagScheduler().nextJobId())

    def jvm_cpu_s(self) -> float:
        return proc_cpu_s(self.jvm_pid)

    def gc_s(self) -> float:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans) / 1000.0

    def persistent_rdds(self) -> int:
        return int(self.jsc.getPersistentRDDs().size())

    def stage_metrics(self, job0: int, job1: int) -> dict[int, dict]:
        """Per job id in [job0, job1): summed metrics of the stages that
        job ran (skipped stages carry zeros). Waits for the listener bus
        so the status store holds every finished task. A stage that a
        later job reuses (and skips) counts for the first job only."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        job_stages = {}
        wanted: set[int] = set()
        for j in range(job0, job1):
            ids = store.job(j).stageIds()
            job_stages[j] = {int(ids.apply(i)) for i in range(ids.size())} - wanted
            wanted |= job_stages[j]
        stages: dict[int, dict] = {}
        listed = store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
        for i in range(listed.size()):
            sd = listed.apply(i)
            sid = int(sd.stageId())
            if sid not in wanted:
                continue
            m = stages.setdefault(sid, dict.fromkeys(STAGE_KEYS, 0))
            m["task_cpu_s"] += int(sd.executorCpuTime()) / 1e9
            m["shuffle_bytes"] += int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes())
            m["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            m["input_records"] += int(sd.inputRecords())
        return {
            j: {k: sum(stages[sid][k] for sid in sids if sid in stages) for k in STAGE_KEYS}
            for j, sids in job_stages.items()
        }
