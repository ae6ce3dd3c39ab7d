"""Process-tree CPU and memory from /proc, and the host-noise record.

The tree is this process plus every descendant: the Spark JVM and its
``pyspark.daemon`` workers. CPU is user+system time including reaped
children, so host steal does not inflate it."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(comm, ppid, cpu_seconds incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fs = raw[raw.rindex(")") + 2:].split()
    cpu = sum(int(x) for x in fs[11:15]) / _TICK  # utime stime cutime cstime
    return comm, int(fs[1]), cpu


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int | None = None) -> dict[int, tuple]:
    """{pid: (comm, ppid, cpu_s)} for ``root`` and its descendants."""
    root = root or os.getpid()
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                procs[int(d)] = st
    keep, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        if p in procs and p not in keep:
            keep[p] = procs[p]
            frontier.extend(c for c, v in procs.items() if v[1] == p)
    return keep


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree split into driver / jvm / python workers.
    A worker is any Python process below the JVM."""
    t = tree(root)
    root = root or os.getpid()
    jvm = {p for p, v in t.items() if v[0] == "java"}
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for p, v in t.items():
        if p == root:
            out["driver"] += v[2]
        elif p in jvm:
            out["jvm"] += v[2]
        else:
            out["python"] += v[2]
    out["total"] = out["driver"] + out["jvm"] + out["python"]
    return out


def pss(pid: int) -> int:
    """Proportional set size in bytes: shared pages are split between the
    processes sharing them, so a child forked from the JVM or the worker
    daemon does not count the parent's pages twice. 0 once the process is
    gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the tree's summed PSS on a thread; ``peak_mb`` is the max."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self):
        self.peak = max(self.peak, sum(pss(p) for p in tree()))

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def noise() -> dict:
    """Host noise beside a run: steal jiffies so far, load average, and Spark
    JVMs on the host outside this process tree. Recorded, never filtered."""
    mine = set(tree())
    others = 0
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in mine:
            st = _stat(int(d))
            if st and st[0] == "java" and "org.apache.spark" in _cmdline(int(d)):
                others += 1
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_jiffies": steal_jiffies(), "loadavg": load,
            "other_spark_jvms": others, "time": time.time()}
