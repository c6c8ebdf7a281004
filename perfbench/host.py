"""Host context for every result: core count, load, a CPU yardstick,
co-tenant busy cores and the peak RSS of this process tree, plus the
tree's CPU time behind the ``cpu_s_per_op`` metric.

The context is not a metric: it lets a reader tell a host-wide slowdown
apart from a code change.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_yardstick_s() -> float:
    """Fixed single-thread workload (chained md5 over a constant
    buffer), best of three."""
    buf = b"perfbench-cpu-yardstick" * 64
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = b""
        for _i in range(40_000):
            h = hashlib.md5(buf + h).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, utime+stime jiffies, rss pages) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2 :].split()
        out[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[21]))
    return out


def tree_pids(table=None) -> set[int]:
    """This process and every live descendant."""
    table = _proc_table() if table is None else table
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in table.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _host_busy_jiffies() -> int:
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6] + v[7]


class TreeMonitor:
    """Samples this process tree every ``interval`` seconds on one
    background thread: peak summed RSS, and the tree's CPU jiffies so a
    window's co-tenant busy cores can be derived."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._seen_jiffies: dict[int, int] = {}
        self._lock = threading.Lock()

    def _sample(self) -> None:
        table = _proc_table()
        pids = tree_pids(table)
        rss = sum(table[p][2] for p in pids if p in table) * _PAGE
        with self._lock:
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
            for p in pids:
                if p in table:
                    self._seen_jiffies[p] = table[p][1]

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeMonitor":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def tree_jiffies(self) -> int:
        """CPU jiffies of every tree process seen so far (a process that
        exited keeps its last sampled count)."""
        self._sample()
        with self._lock:
            return sum(self._seen_jiffies.values())


class CoTenantWindow:
    """Average busy cores of other processes over a window."""

    def __init__(self, monitor: TreeMonitor) -> None:
        self.monitor = monitor
        self._t0 = time.monotonic()
        self._h0 = _host_busy_jiffies()
        self._s0 = monitor.tree_jiffies()

    def busy_cores(self) -> float:
        dt = time.monotonic() - self._t0
        own = max(0, self.monitor.tree_jiffies() - self._s0)
        other = (_host_busy_jiffies() - self._h0) - own
        return max(0.0, other / CLK_TCK / dt) if dt > 0 else 0.0


def snapshot() -> dict:
    la1, la5, la15 = os.getloadavg()
    return {"load_1m": la1, "load_5m": la5, "load_15m": la15}


def wait_tree_exit(pids: set[int], timeout: float = 20.0) -> list[int]:
    """Wait until every pid in ``pids`` has exited; SIGKILL stragglers
    after ``timeout``. Returns the pids that had to be killed."""
    import signal

    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _alive(p)}
        if alive:
            time.sleep(0.1)
    killed = []
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
            killed.append(p)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 5
    while any(_alive(p) for p in killed) and time.monotonic() < end:
        time.sleep(0.05)
    return killed


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
