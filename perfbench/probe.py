"""Outside-in collectors: host facts, process counters from ``/proc``,
Spark's status stores, and a Py4J command counter.

Nothing here touches package code. Spark numbers come from the live
status store, which is kept with the UI disabled:

- jobs per job group: ``SparkContext.statusTracker()``;
- stage metrics: ``sc._jsc.sc().statusStore().lastStageAttempt(id)``;
- SQL node row counts: ``sharedState().statusStore().executionMetrics(id)``
  (formatted strings such as ``"1,000,000"``).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_spin_sec() -> float:
    """Fixed single-core reference loop disclosing the host's speed state,
    on the frozen bench's ``cpu_spin_sec`` scale (20M additions): a
    quarter of the loop is timed and scaled by 4."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return round(4 * (time.perf_counter() - t0), 3)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_facts() -> dict:
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "cpu_spin_sec": cpu_spin_sec(), "steal_s": steal_s()}


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def cpu_now(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM plus this Python driver."""
    t = os.times()
    return proc_cpu_s(jvm_pid) + t.user + t.system


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _conv(spark):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


STAGE_KEYS = ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "serial_stage_s")


def job_metrics(spark, groups: list[str]) -> dict:
    """Stage totals for every job launched under ``groups``, plus the
    job intervals (epoch seconds) for wall-time accounting."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    intervals, jobs, seen = [], 0, set()
    for g in groups:
        for j in sc.statusTracker().getJobIdsForGroup(g):
            jd = store.job(j)
            jobs += 1
            start, end = _ms(jd.submissionTime()), _ms(jd.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            for s in sc.statusTracker().getJobInfo(j).stageIds:
                if s in seen:
                    continue
                seen.add(s)
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:  # py4j: stage never attempted (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / 2**20
                if sd.numTasks() == 1:
                    s0, s1 = _ms(sd.submissionTime()), _ms(sd.completionTime())
                    if s0 is not None and s1 is not None:
                        out["serial_stage_s"] += s1 - s0
    out["jobs"] = jobs
    out["intervals"] = intervals
    return out


def busy_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def sql_execution_ids(spark) -> list[int]:
    store = spark._jsparkSession.sharedState().statusStore()
    return [e.executionId() for e in _conv(spark).asJava(store.executionsList())]


def sql_node_rows(spark, execution_ids, match) -> int:
    """Sum of "number of output rows" over plan nodes whose description
    satisfies ``match`` in the given SQL executions."""
    conv = _conv(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for eid in execution_ids:
        values = conv.asJava(store.executionMetrics(eid))
        for node in conv.asJava(store.planGraph(eid).allNodes()):
            if not match(node.name(), node.desc()):
                continue
            for m in conv.asJava(node.metrics()):
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    if v:
                        total += int(v.replace(",", ""))
    return total


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class Py4jCounter:
    """Counts Py4J commands sent while active (wraps the gateway
    client's ``send_command``), leaving out the object-release commands
    that Python's garbage collector sends whenever it runs."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.count = 0

    def __enter__(self):
        orig = self._client.send_command

        def counted(command, *a, **k):
            if not command.startswith("m\nd\n"):
                self.count += 1
            return orig(command, *a, **k)

        self._orig = orig
        self._client.send_command = counted
        return self

    def __exit__(self, *exc):
        self._client.send_command = self._orig
        return False
