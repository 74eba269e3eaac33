"""Spark counters per operation, process memory, and shutdown.

Counters come from Spark's own status store (``AppStatusStore``),
which the listener fills even with the UI disabled: the benchmark tags
each operation's jobs with a job group and, after the operation,
sums the stage metrics of every job in that group.
"""

from __future__ import annotations

import os
import signal
import time

# (metric, StageData getter, scale to the reported unit)
_STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("failed_tasks", "numFailedTasks", 1),
)


class StageCounters:
    """``set_group(g)`` before the jobs of a layer call, ``read(g)``
    afterwards for the summed stage metrics of that group's jobs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def read(self, group: str) -> dict[str, float]:
        """Summed stage metrics of the group's jobs; skipped stages
        (shuffle output reused) count neither as stages nor tasks."""
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        out.update({name: 0.0 for name, _, _ in _STAGE_FIELDS})
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                sd = self.store.lastStageAttempt(stage_id)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for name, getter, scale in _STAGE_FIELDS:
                    out[name] += getattr(sd, getter)() * scale
                out["spill_bytes"] += sd.memoryBytesSpilled()
        out["python_s"] = out["executor_run_s"] - out["executor_cpu_s"]
        return out


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set sizes (MB) of this process ("driver"), the JVM
    and the Python workers."""
    me = os.getpid()
    parts = {"driver": _vm_hwm_kb(me) / 1024.0, "jvm": 0.0, "workers": 0.0}
    for p in _descendants(me):
        kind = "jvm" if "java" in _cmdline(p).split(" ", 1)[0] else "workers"
        parts[kind] += _vm_hwm_kb(p) / 1024.0
    return parts


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the run's cached
    frames, staged fixtures and leaks hold, without the garbage whose
    collection timing makes the JVM's peak RSS vary run to run."""
    jvm = spark.sparkContext._jvm
    runtime = jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        jvm.java.lang.System.gc()
    return (runtime.totalMemory() - runtime.freeMemory()) / 2**20


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the launcher exits when stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for p in procs:
        while _alive(p) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in procs:  # reap any that are our own children
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass
