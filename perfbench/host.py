"""Host sizing and process-tree memory sampling, read from outside the
engine (``os.sched_getaffinity``, cgroup v2/v1 limits, ``/proc``)."""

from __future__ import annotations

import os
import threading


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def usable_cpus() -> int:
    """CPUs this process may run on: the affinity mask, capped by a
    cgroup CPU quota when one is set."""
    n = len(os.sched_getaffinity(0))
    quota = _read("/sys/fs/cgroup/cpu.max")  # cgroup v2: "<quota> <period>"
    if quota:
        q, _, p = quota.partition(" ")
        if q != "max" and p:
            n = min(n, max(1, int(int(q) // int(p))))
    else:  # cgroup v1
        q, p = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us"), _read("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
        if q and p and int(q) > 0:
            n = min(n, max(1, int(q) // int(p)))
    return n


def usable_memory_mb() -> int:
    """Physical memory, capped by a cgroup memory limit when one is set."""
    mem_kb = 0
    for line in (_read("/proc/meminfo") or "").splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    mb = mem_kb // 1024
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        lim = _read(path)
        if lim and lim.isdigit():
            mb = min(mb, int(lim) // (1 << 20))
    return mb


def driver_memory_mb(host_mb: int) -> int:
    """JVM heap for the local-mode driver: an eighth of usable memory,
    between 1 and 2 GiB, leaving room for the Python workers and for
    other tenants of a shared host."""
    return max(1024, min(2048, host_mb // 8))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _read(f"/proc/{name}/stat")
        if not stat:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmRSS:"):
            return int(line.split()[1])
    return 0


def tree_rss_mb(root: int | None = None) -> tuple[float, float, int]:
    """Resident memory of a process tree, split in two: (driver MB,
    workers MB, worker processes). The driver is this process and its
    children (the driver JVM); the workers are everything below them
    (the Python worker daemon and the workers it forks)."""
    root = os.getpid() if root is None else root
    kids = _children()
    driver_kb = _rss_kb(root)
    workers_kb = nworkers = 0
    for jvm in kids.get(root, ()):
        driver_kb += _rss_kb(jvm)
        stack = list(kids.get(jvm, ()))
        while stack:
            pid = stack.pop()
            stack.extend(kids.get(pid, ()))
            workers_kb += _rss_kb(pid)
            nworkers += 1
    return driver_kb / 1024.0, workers_kb / 1024.0, nworkers


class RssSampler:
    """Background thread sampling :func:`tree_rss_mb` between ``start``
    and ``stop``, keeping the peak of each part and of their sum."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.driver_mb = self.workers_mb = self.total_mb = 0.0
        self.workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        driver_mb, workers_mb, workers = tree_rss_mb()
        self.driver_mb = max(self.driver_mb, driver_mb)
        self.workers_mb = max(self.workers_mb, workers_mb)
        self.total_mb = max(self.total_mb, driver_mb + workers_mb)
        self.workers = max(self.workers, workers)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
