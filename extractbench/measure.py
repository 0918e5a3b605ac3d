"""Host-side measurement: summary statistics and /proc process-tree sampling.

Everything here reads /proc of the local host, so it measures the Spark JVM
and its Python workers (the whole local-mode "cluster") and nothing else.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- summary statistics -----------------------------------------------------


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them;
    a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def iqr_frac(values: list[float]) -> float:
    """Spread of ``values``: (q3 - q1) / median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


# -- /proc readers ----------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including reaped children
    (cutime/cstime), so a worker that exits inside the window is still
    counted through the parent that waited for it."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14..17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already inside user/nice, so it is left out of total
    return vals[7], sum(vals[:8])


class TreeMonitor:
    """Measures one timed call: CPU seconds and peak RSS of this process's
    tree (benchmark Python, Spark JVM, Python workers) and the host steal
    fraction over the window.

        with TreeMonitor() as mon:
            job()
        mon.cpu_s, mon.peak_rss_b, mon.steal_frac
    """

    def __init__(self, interval_s: float = 0.1, rescan_every: int = 5):
        self.interval_s = interval_s
        self.rescan_every = rescan_every
        self.root = os.getpid()
        self.cpu_s = 0.0
        self.peak_rss_b = 0
        self.steal_frac = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        n = 0
        pids = process_tree(self.root)
        while not self._stop.wait(self.interval_s):
            n += 1
            if n % self.rescan_every == 0:
                pids = process_tree(self.root)
            self.peak_rss_b = max(self.peak_rss_b, tree_rss_bytes(pids))

    def __enter__(self) -> "TreeMonitor":
        pids = process_tree(self.root)
        self._cpu0 = tree_cpu_s(pids)
        self.peak_rss_b = tree_rss_bytes(pids)
        self._host0 = host_cpu_ticks()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        pids = process_tree(self.root)
        self.peak_rss_b = max(self.peak_rss_b, tree_rss_bytes(pids))
        self.cpu_s = tree_cpu_s(pids) - self._cpu0
        steal1, total1 = host_cpu_ticks()
        d_total = total1 - self._host0[1]
        self.steal_frac = (steal1 - self._host0[0]) / d_total if d_total else 0.0


def timed(fn, *args, **kwargs) -> tuple[object, float, TreeMonitor]:
    """Run ``fn`` under a TreeMonitor; returns (result, wall_s, monitor)."""
    with TreeMonitor() as mon:
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        wall = time.perf_counter() - t0
    return out, wall, mon
