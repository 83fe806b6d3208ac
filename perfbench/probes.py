"""Read-only probes of the running Spark application: the process tree under
this process (JVM, Python daemon and workers) from /proc, and job / stage
figures from Spark's status tracker and status store."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms grain)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """Every live process below `root` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def python_workers(root: int) -> list[int]:
    """Spark's Python daemon and the workers it forks (they keep its
    command line)."""
    return [p for p in descendants(root) if "pyspark.daemon" in _cmdline(p)
            or "pyspark.worker" in _cmdline(p)]


def worker_peak_rss_mb(root: int) -> float:
    """Max VmHWM over the live Python workers, in MB (0.0 when none)."""
    peak_kb = 0
    for pid in python_workers(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and everything below it, including
    reaped children (cutime/cstime), so exited workers still count."""
    total = 0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


class SparkProbe:
    """Job-group scoped figures: every call made between `start(group)` and
    the next `start` is attributed to `group`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._stage_defaults = [getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)]

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, group: str) -> list[int]:
        ids = set()
        for j in self.job_ids(group):
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def _stage_sum(self, group: str, field: str) -> int:
        total = 0
        for sid in self.stage_ids(group):
            attempts = self._store.stageData(sid, *self._stage_defaults)
            for i in range(attempts.length()):
                total += getattr(attempts.apply(i), field)()
        return total

    def shuffle_write_bytes(self, group: str) -> int:
        return self._stage_sum(group, "shuffleWriteBytes")

    def failed_tasks(self, group: str) -> int:
        return self._stage_sum(group, "numFailedTasks")
