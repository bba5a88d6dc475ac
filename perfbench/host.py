"""Process-tree memory and host-contention readings, from /proc only."""

from __future__ import annotations

import os
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                out[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (the driver JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: RSS with each shared page split among the
    processes sharing it. Summing RSS instead would count the JVM twice
    whenever it forks a helper (the child shares all its pages until exec)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f"{pid} {f.read().strip()}"
    except OSError:
        return str(pid)


class PeakRss:
    """Samples the memory of this process and all its descendants every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the largest sum of
    their proportional set sizes."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}   # "pid name" -> MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            per_pid = {p: _pss_bytes(p) for p in [me, *descendants(me)]}
            total = sum(per_pid.values())
            if total > self.peak:
                self.peak = total
                self.at_peak = {_comm(p): round(b / 2**20) for p, b in per_pid.items() if b}
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def foreign_spark_jvms() -> int:
    """Spark JVMs alive on this host that this process did not start."""
    mine = set(descendants(os.getpid()))
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            n += 1
    return n


class HostWatch:
    """load1 at start and end, steal % of CPU time in between, and the most
    foreign Spark JVMs seen — enough to tell a polluted run from the record."""

    def __init__(self):
        self.load1_start = os.getloadavg()[0]
        self._cpu0 = _cpu_jiffies()
        self.foreign_spark = foreign_spark_jvms()

    def finish(self) -> dict:
        total1, steal1 = _cpu_jiffies()
        dt = max(total1 - self._cpu0[0], 1)
        self.foreign_spark = max(self.foreign_spark, foreign_spark_jvms())
        return {
            "load1_start": round(self.load1_start, 2),
            "load1_end": round(os.getloadavg()[0], 2),
            "steal_pct": round(100.0 * (steal1 - self._cpu0[1]) / dt, 2),
            "foreign_spark_jvms": self.foreign_spark,
            "ncpu": len(os.sched_getaffinity(0)),
            "ts": time.time(),
        }
