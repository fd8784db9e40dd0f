"""Per-run environment record: core count, the ``local[N]`` master,
load averages, the CPU share other processes took during the run, a fixed
single-threaded CPU probe timed before and after the run, and the peak
proportional resident memory (PSS) of this process tree (Python, the Spark
JVM and its Python workers). A run on a busy box thereby identifies itself, including a slow
phase of the host that ``/proc`` inside this machine cannot see; nothing
waits or retries. Linux ``/proc`` only; elsewhere those fields are absent.
"""

from __future__ import annotations

import os
import threading
import time

#: seconds between two samples of the process tree's resident memory
RSS_PERIOD_S = 0.5


def cpu_probe_s() -> float:
    """Median wall of three runs of a fixed pure-Python loop (about 0.1 s
    each on a 2 GHz core): the host's speed at this moment."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) % 1_000_003
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[1]


def _proc_cpu() -> dict[int, tuple[int, float]]:
    """{pid: (ppid, CPU seconds of it and its reaped children)} from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, float]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            # rest[1] = ppid, rest[11..14] = utime stime cutime cstime
            procs[int(pid)] = (int(rest[1]), sum(int(rest[i]) for i in (11, 12, 13, 14)) / tick)
        except (OSError, IndexError, ValueError):
            continue  # a process that exited mid-walk
    return procs


def _descendants(procs: dict[int, tuple[int, float]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, frontier = [], list(children.get(root, ()))
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(children.get(pid, ()))
    return out


def _resident_kb(pid: int) -> int:
    """A process's proportional resident memory (PSS): pages shared with
    other processes count in equal parts. Plain RSS would count the Spark
    JVM twice while it forks a Python worker, since the child briefly maps
    all of the parent's pages."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass  # the process exited, or a kernel without smaps_rollup
    return 0


def _tree_stats() -> tuple[float, float, float] | None:
    """(box busy CPU seconds, this tree's CPU seconds, this tree's resident
    memory in MB). The tree is this process and every live descendant;
    reaped children count through cutime/cstime."""
    try:
        tick = os.sysconf("SC_CLK_TCK")
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal; guest time is already
        # folded into user/nice, so it is not added again
        busy = (sum(vals[:8]) - vals[3] - vals[4]) / tick
    except (OSError, ValueError, IndexError):
        return None
    procs = _proc_cpu()
    tree = [os.getpid()] + _descendants(procs, os.getpid())
    own_cpu = sum(procs[p][1] for p in tree if p in procs)
    rss_kb = sum(_resident_kb(p) for p in tree)
    return busy, own_cpu, rss_kb / 1024.0


class Probe:
    """Opened before Spark starts, finished after the workload, before Spark
    stops. A sampling thread tracks the peak of the tree's summed resident
    memory: Python workers come and go, so their own high-water marks would
    be lost with them."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.master = f"local[{cpus}]"
        self.loadavg_before = _loadavg()
        self.cpu_probe_s = [cpu_probe_s()]
        self._t0 = time.perf_counter()
        self._before = _tree_stats()
        self.loadavg_after: tuple | None = None
        self.external_cpu_share: float | None = None
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            stats = _tree_stats()
            if stats is not None:
                self.peak_rss_mb = max(self.peak_rss_mb, stats[2])

    def finish(self, spark) -> None:
        self._stop.set()
        self._sampler.join()
        self.master = spark.sparkContext.master
        self.loadavg_after = _loadavg()
        self.cpu_probe_s.append(cpu_probe_s())
        after = _tree_stats()
        wall = time.perf_counter() - self._t0
        if after is not None:
            self.peak_rss_mb = max(self.peak_rss_mb, after[2])
        if self._before is not None and after is not None and wall > 0:
            external = max(0.0, (after[0] - self._before[0]) - (after[1] - self._before[1]))
            self.external_cpu_share = external / wall / self.cpus

    def record(self) -> dict:
        return {
            "nproc": self.cpus,
            "master": self.master,
            "loadavg_before": self.loadavg_before,
            "loadavg_after": self.loadavg_after,
            "external_cpu_share": self.external_cpu_share,
            "cpu_probe_s": self.cpu_probe_s,
        }


def _loadavg() -> tuple | None:
    try:
        return tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        return None
