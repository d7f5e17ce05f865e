"""Host context recorded next to every result, and process memory.

Nothing here normalizes a measurement; the record only lets a reader
spot a run made under co-tenant load.
"""

from __future__ import annotations

import os
import platform
import re
import time


def _cpu_times() -> tuple[int, int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7]  # total, idle + iowait, steal


class CpuWindow:
    """Host CPU shares between construction and ``shares()``: busy (any
    process, this one included) and steal (time the hypervisor gave to
    other machines)."""

    def __init__(self):
        self._t0, self._i0, self._s0 = _cpu_times()

    def shares(self) -> tuple[float, float]:
        t1, i1, s1 = _cpu_times()
        total = max(t1 - self._t0, 1)
        return 1.0 - (i1 - self._i0) / total, (s1 - self._s0) / total


def host_load(seconds: float = 0.5) -> tuple[float, float]:
    """(busy, steal) shares over a short window while this process
    sleeps, so busy is other processes' load."""
    w = CpuWindow()
    time.sleep(seconds)
    return w.shares()


def record(busy_window: float = 0.5) -> dict:
    import pyspark

    busy, steal = host_load(busy_window)
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "host_cpu_busy_frac": round(busy, 4),
        "host_cpu_steal_frac": round(steal, 4),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the JVM and its Python
    workers, for the benchmark's own pid)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            m = re.search(rf"^{field}:\s+(\d+)", f.read(), re.M)
    except OSError:
        return 0
    return int(m.group(1)) if m else 0


class PeakRss:
    """Peak resident memory of the engine's processes over a window:
    the largest total VmRSS of the JVM and its Python workers seen at
    the sample points (between ops and at span boundaries)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.peak_kb = 0

    def reset(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        total = sum(_status_kb(p, "VmRSS") for p in descendants(self.root))
        self.peak_kb = max(self.peak_kb, total)

    def peak_mb(self) -> float:
        self.sample()
        return self.peak_kb / 1024.0
