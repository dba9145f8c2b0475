"""Process-tree CPU and memory, and host context, read from ``/proc``.

Spark's executor-CPU metric sees only JVM task threads. The Python UDF
workers that do most of kgspark's extraction run in separate processes
(children of the PySpark daemon, itself a child of the driver JVM), so CPU
and memory are taken for the whole process tree below the benchmark's own
interpreter.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_by_pid(pids: list[int] | None = None) -> dict[int, float]:
    """CPU seconds of each process (default: the tree below this process):
    its own user+system time plus that of its children that have already
    exited and been reaped (cutime+cstime)."""
    out = {}
    for pid in descendants() if pids is None else pids:
        st = _stat_fields(pid)
        if st is not None:
            # fields after the command: utime=11 stime=12 cutime=13 cstime=14
            out[pid] = (int(st[11]) + int(st[12]) + int(st[13])
                        + int(st[14])) / _TICK
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """CPU seconds used by the process tree below this process. A Python
    worker that ended between two readings is still counted once, in its
    parent's reaped-children time."""
    return sum(cpu_by_pid(pids).values())


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in descendants() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2 ** 20


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWindow:
    """Steal share and mean 1-minute load average between ``start`` and
    ``stop``, plus the peak resident memory of the process tree, sampled by
    one background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self._loads: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0: list[int] = []
        self.steal_pct = 0.0

    def _sample(self) -> None:
        while True:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            with open("/proc/loadavg") as f:
                self._loads.append(float(f.read().split()[0]))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> None:
        self._cpu0 = _cpu_times()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        # /proc/stat cpu line: user nice system idle iowait irq softirq steal
        self.steal_pct = 100.0 * delta[7] / max(sum(delta[:8]), 1)

    @property
    def load_avg(self) -> float:
        return sum(self._loads) / max(len(self._loads), 1)


def host_speed_ms(reps: int = 9) -> float:
    """Median milliseconds of a fixed single-threaded loop that uses no
    kgspark code: recorded with each run so that a change in the host's
    speed between runs can be told apart from a change in the program."""
    def one() -> float:
        t = time.perf_counter()
        acc, table = 0, {}
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
            table[i & 4095] = acc
        hashlib.sha256(b"k" * 4_000_000).digest()
        return time.perf_counter() - t
    return 1e3 * statistics.median(one() for _ in range(reps))
