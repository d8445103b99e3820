"""Process-tree CPU and memory from /proc, host fingerprint and steal share.

The tree is this Python driver, the JVM it launched and the Python
workers the JVM forks. A process's CPU is its own time plus the time of
its children that already exited (``cutime``/``cstime``), so summing over
the live tree counts every process once.
"""

from __future__ import annotations

import os
import platform
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children[st[0]].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def classify(pid: int) -> str:
    """'driver_py' for this process, 'jvm' for java, else 'pyworker'."""
    if pid == os.getpid():
        return "driver_py"
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
        return "jvm"
    return "pyworker"


def cpu_by_class() -> dict[str, float]:
    """CPU seconds so far of the whole tree, split by process class."""
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in tree():
        st = _stat(pid)
        if st:
            out[classify(pid)] += st[1]
    return out


def _status_kb(pid: int, key: str) -> int:
    """One ``kB`` field of /proc/<pid>/status (0 if the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    return sum(_status_kb(pid, "VmHWM") for pid in tree()) / 1024.0


def driver_rss_mb() -> float:
    """Current resident memory of this Python process, in MB."""
    return _status_kb(os.getpid(), "VmRSS") / 1024.0


def descendants_alive() -> list[int]:
    return [p for p in tree() if p != os.getpid()]


def cpu_times() -> list[int]:
    """The aggregate 'cpu' line of /proc/stat (user..steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two samples that the hypervisor stole."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def fingerprint(spark=None) -> dict:
    """Host and toolchain identity, so a result can be read on its own."""
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    out = {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "cpu_model": model,
        "python": platform.python_version(),
    }
    if spark is not None:
        out["spark"] = spark.version
        out["java"] = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return out
