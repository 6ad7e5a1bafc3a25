"""Counters read beside the engine: Spark jobs/stages/tasks, warehouse
storage, JVM heap and GC, and process RSS.

Spark work per op is the diff of the scheduler's job counter before and
after the op. Job groups are not used: they are thread-local and miss
the jobs the watch stream launches on its own thread.
"""

from __future__ import annotations

import gc
import os
import threading


class SparkJobs:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def next_id(self) -> int:
        return int(self._dag.numTotalJobs())

    def resolve(self, first: int, end: int) -> dict:
        """Jobs, stages and completed tasks of job ids [first, end).
        Call after the listener bus caught up (end of the phase)."""
        tracker = self._sc.statusTracker()
        stages: set[int] = set()
        tasks = 0
        for job_id in range(first, end):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in stages:
                    continue
                stages.add(sid)
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return {"jobs": end - first, "stages": len(stages), "tasks": tasks}


class Jvm:
    def __init__(self, spark):
        from pyspark import SparkContext

        jvm = spark.sparkContext._jvm
        self._system = jvm.java.lang.System
        self._mf = jvm.java.lang.management.ManagementFactory
        self.pid = SparkContext._gateway.proc.pid

    def live_heap_mb(self) -> float:
        """Heap in use right after a forced full GC. Python is collected
        first so py4j releases the JVM objects it no longer references."""
        gc.collect()
        self._system.gc()
        return self._mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        try:
            kids = _children(todo.pop())
        except OSError:
            continue
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``pid`` and every process under it: the Python driver, the JVM and
    Spark's Python workers. Time the host steals from this VM is not
    counted, so the figure holds steady on a contended host."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def host_steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return cpu[7], sum(cpu[:8])


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples RSS of the JVM and of the Python driver plus its Python
    workers (every descendant that is not the JVM) every 0.25 s."""

    PERIOD_S = 0.25

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_peak_mb = 0.0
        self.python_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        jvm = rss_mb(self.jvm_pid)
        py = rss_mb(me) + sum(
            rss_mb(p) for p in descendants(me) if p != self.jvm_pid
        )
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
        self.python_peak_mb = max(self.python_peak_mb, py)

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def tree_usage(root: str) -> tuple[int, int]:
    """(bytes, files) of regular files under ``root``; hardlinked
    copies are counted once, as the disk holds them once."""
    seen: set[tuple[int, int]] = set()
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            try:
                st = os.lstat(os.path.join(dirpath, name))
            except OSError:
                continue
            ident = (st.st_dev, st.st_ino)
            if ident in seen:
                continue
            seen.add(ident)
            total += st.st_size
            files += 1
    return total, files


def snapshot_dirs(root: str) -> int:
    """Directories named ``v<digits>``: one per catalog table snapshot."""
    n = 0
    for _dirpath, dirs, _names in os.walk(root):
        n += sum(1 for d in dirs if d[:1] == "v" and d[1:].isdigit())
    return n
