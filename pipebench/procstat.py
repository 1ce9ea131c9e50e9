"""Process-tree CPU and memory from ``/proc``.

Spark's "Executor CPU Time" counts JVM task threads only; the pandas-UDF
work runs in the pyspark daemon's forked Python workers. So CPU here is
summed over the whole tree rooted at the benchmark process: the driver
interpreter, the JVM it launches, the pyspark daemon and its workers.

Per process the count is ``utime + stime + cutime + cstime``: the last two
hold the CPU of children the process has already reaped, so a worker that
exits between two snapshots is still counted (its CPU moves into the
parent's ``cutime``). A delta between two snapshots is therefore the CPU
the tree used in between, as long as parents reap their children.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcInfo:
    pid: int
    ppid: int
    own_s: float  # user + system of the process itself
    children_s: float  # user + system of children it has reaped
    cmd: str


def read_proc(pid: int) -> ProcInfo | None:
    """One process's /proc/<pid>/stat, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) is parenthesised and may contain spaces: split after it.
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    # rest[0] is field 3 (state); fields 14-17 are utime stime cutime cstime.
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ProcInfo(
        pid=pid,
        ppid=int(rest[1]),
        own_s=(utime + stime) / _TICK,
        children_s=(cutime + cstime) / _TICK,
        cmd=raw[lpar + 1:rpar],
    )


def tree(root: int) -> list[ProcInfo]:
    """``root`` and all its live descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            info = read_proc(int(name))
            if info is not None:
                procs[info.pid] = info
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(kids.get(pid, ()))
    return out


def is_jvm(info: ProcInfo) -> bool:
    return info.cmd == "java"


@dataclass(frozen=True)
class CpuSnapshot:
    total_s: float  # whole tree
    jvm_s: float  # JVM processes' own CPU (their reaped children excluded)

    def __sub__(self, other: "CpuSnapshot") -> "CpuSnapshot":
        return CpuSnapshot(self.total_s - other.total_s, self.jvm_s - other.jvm_s)

    @property
    def python_s(self) -> float:
        """Tree CPU that is not JVM CPU: driver interpreter, daemon, workers."""
        return self.total_s - self.jvm_s


def cpu_snapshot(root: int) -> CpuSnapshot:
    procs = tree(root)
    return CpuSnapshot(
        total_s=sum(p.own_s + p.children_s for p in procs),
        jvm_s=sum(p.own_s for p in procs if is_jvm(p)),
    )


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this VM, summed over its
    CPUs (the ``steal`` column of ``/proc/stat``); 0 outside a VM."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among its sharers, so summing it over a tree counts a page once. (RSS
    would count the JVM's heap twice while it forks the pyspark daemon.)"""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Background thread tracking the peak summed PSS of the tree.

    Use as a context manager; ``reset()`` starts a new peak window.
    """

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> int:
        rss = sum(pss_bytes(p.pid) for p in tree(self.root))
        with self._lock:
            self._peak = max(self._peak, rss)
        return rss

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    @property
    def peak_bytes(self) -> int:
        with self._lock:
            return self._peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
