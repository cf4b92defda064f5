"""Layer probes read from outside the engine: /proc for the driver's
process tree, the JVM's management beans and Spark's status store."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: int | str, task: str | None = None) -> list[str] | None:
    path = f"/proc/{pid}/stat" if task is None else f"/proc/{pid}/task/{task}/stat"
    raw = _read(path)
    if raw is None:
        return None
    # comm may hold spaces and parentheses: split after the last ')'.
    head, _, tail = raw.rpartition(")")
    return [head.partition("(")[2]] + tail.split()


def cpu_s(pid: int, children: bool = False) -> float:
    """User+system CPU seconds of a process (plus its reaped children)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # after comm: [1]=state ... utime=f[12], stime=f[13], cutime=f[14], cstime=f[15]
    ticks = int(f[12]) + int(f[13])
    if children:
        ticks += int(f[14]) + int(f[15])
    return ticks / _TICK


def thread_cpu_by_kind(pid: int) -> dict[str, float]:
    """CPU seconds of a JVM's GC and JIT-compiler threads, by thread name."""
    out = {"gc": 0.0, "jit": 0.0}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        f = _stat_fields(pid, tid)
        if f is None:
            continue
        name, secs = f[0], (int(f[12]) + int(f[13])) / _TICK
        # HotSpot thread names, cut to 15 characters by the kernel:
        # "GC Thread#0", "G1 Conc#0", "G1 Refine#0", "C2 CompilerThre".
        if name.startswith(("GC Thread", "G1 ")):
            out["gc"] += secs
        elif name.startswith(("C1 ", "C2 ")):
            out["jit"] += secs
    return out


def status_kb(pid: int, key: str) -> int:
    raw = _read(f"/proc/{pid}/status")
    if raw is None:
        return 0
    for line in raw.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def rss_mb(pid: int) -> float:
    return status_kb(pid, "VmRSS") / 1024.0


def peak_rss_mb(pid: int) -> float:
    return status_kb(pid, "VmHWM") / 1024.0


def _parents() -> dict[int, int]:
    """pid → parent pid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f is not None:
                out[int(name)] = int(f[2])
    return out


def descendants(pid: int) -> list[int]:
    parents = _parents()
    kids: dict[int, list[int]] = {}
    for child, parent in parents.items():
        kids.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        nxt = kids.get(todo.pop(), [])
        out.extend(nxt)
        todo.extend(nxt)
    return out


def cmdline(pid: int) -> str:
    raw = _read(f"/proc/{pid}/cmdline")
    return raw.replace("\0", " ") if raw else ""


def find_jvm(driver_pid: int) -> int | None:
    """The JVM the PySpark driver launched (a java descendant)."""
    for pid in descendants(driver_pid):
        f = _stat_fields(pid)
        if f is not None and f[0] == "java":
            return pid
    return None


def python_workers(jvm_pid: int) -> tuple[int | None, list[int]]:
    """(pyspark daemon pid, its forked worker pids)."""
    tree = descendants(jvm_pid)
    for pid in tree:
        if "pyspark.daemon" in cmdline(pid):
            return pid, descendants(pid)
    return None, []


def steal_s() -> float:
    """Host-wide CPU steal seconds so far (first line of /proc/stat)."""
    raw = _read("/proc/stat") or ""
    parts = raw.split("\n", 1)[0].split()
    return int(parts[8]) / _TICK if len(parts) > 8 else 0.0


class WorkerMeter:
    """Samples the PySpark worker processes under the JVM: distinct
    pids seen and the peak of their summed resident memory."""

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.seen: set[int] = set()
        self.peak_mb = 0.0

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        daemon, workers = python_workers(self.jvm_pid)
        if daemon is None:
            return
        self.seen.update(workers)
        total = rss_mb(daemon) + sum(rss_mb(p) for p in workers)
        self.peak_mb = max(self.peak_mb, total)

    def cpu_s(self) -> float:
        """Daemon CPU, including the workers it has reaped, plus the
        CPU of the workers alive now."""
        if self.jvm_pid is None:
            return 0.0
        daemon, workers = python_workers(self.jvm_pid)
        if daemon is None:
            return 0.0
        return cpu_s(daemon, children=True) + sum(cpu_s(p) for p in workers)
