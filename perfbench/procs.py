"""Process-tree accounting from /proc: the benchmark process, the JVM it
launches and the JVM's Python workers.

One sampler thread polls the tree for summed RSS (peak while an op runs)
and for the number of Python worker processes. CPU time of the tree is
read directly at op boundaries. The external-busy fraction of an op (CPU
busy time of the whole host that is not ours, over the op) is kept as an
audit trail of noisy neighbours, not as a metric.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str):
    """(ppid, cpu ticks incl. reaped children, rss bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), ticks, int(f[21]) * _PAGE, comm


def tree(root: int) -> dict:
    """pid -> (ticks, rss, comm) for ``root`` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(name)
            if s is not None:
                stats[int(name)] = s
    children: dict = {}
    for pid, (ppid, *_rest) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(t for t, _, _ in tree(root).values()) / _TICK


def host_ticks() -> tuple:
    """(busy, total) ticks of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = list(map(int, fh.readline().split()[1:]))
    idle = vals[3] + vals[4]
    total = sum(vals[:8])
    return total - idle, total


class TreeSampler:
    """Polls the process tree of ``root`` every ``period`` seconds."""

    def __init__(self, root: int, period: float = 0.05):
        self.root = root
        self.period = period
        self.active = False  # True while a timed op runs
        self.peak_rss = 0    # of the current op
        self.workers_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        procs = tree(self.root)
        rss = sum(r for _, r, _ in procs.values())
        workers = sum(
            1 for pid, (_, _, comm) in procs.items()
            if pid != self.root and comm.startswith("python")
        )
        with self._lock:
            self.workers_peak = max(self.workers_peak, workers)
            if self.active:
                self.peak_rss = max(self.peak_rss, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()


class OpMeter:
    """Wraps one op: CPU seconds of the tree, wall seconds, external-busy
    fraction, and the op's peak RSS via the sampler."""

    def __init__(self, sampler: TreeSampler):
        self.sampler = sampler

    def __enter__(self):
        self.cpu0 = tree_cpu_s(self.sampler.root)
        self.busy0, self.total0 = host_ticks()
        with self.sampler._lock:
            self.sampler.peak_rss = 0
        self.sampler.active = True
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.sampler.sample()
        self.sampler.active = False
        self.peak_rss = self.sampler.peak_rss
        self.cpu = tree_cpu_s(self.sampler.root) - self.cpu0
        busy1, total1 = host_ticks()
        ours = self.cpu * _TICK
        total = max(total1 - self.total0, 1)
        self.ext_busy = max(0.0, (busy1 - self.busy0) - ours) / total
