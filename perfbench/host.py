"""Host sizing, host-state stamps and process-tree sampling from ``/proc``.

Everything here reads Linux ``/proc`` files only; nothing is installed or
launched.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("/proc/meminfo has no MemTotal")


#: The benchmark's inputs are small; a capped heap keeps the JVM's footprint
#: (and so ``peak_rss_mb``) from following the host's RAM.
HEAP_CAP_GIB = 4


def driver_heap() -> str:
    """A driver heap of at most 60% of the host's RAM, in whole GiB: in
    local mode the driver heap is the whole cluster, and a heap larger than
    RAM lets the JVM grow until the kernel kills it."""
    return f"{max(1, min(int(mem_total_bytes() * 0.6) >> 30, HEAP_CAP_GIB))}g"


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_pressure_us() -> int | None:
    """Total microseconds some task waited for a CPU (``/proc/pressure/cpu``)."""
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1])
    except OSError:
        return None
    return None


def host_state(cpu0: list[int], cpu1: list[int], psi0: int | None, psi1: int | None, wall_s: float) -> dict:
    """CPU idle and steal shares between two ``/proc/stat`` readings, and the
    share of the wall time some task stalled waiting for a CPU."""
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d[:8]) or 1
    out = {
        "cpu_idle_share": (d[3] + d[4]) / total,
        "cpu_steal_share": d[7] / total if len(d) > 7 else 0.0,
        "loadavg": list(os.getloadavg()),
    }
    if psi0 is not None and psi1 is not None and wall_s > 0:
        out["cpu_pressure_some_share"] = (psi1 - psi0) / 1e6 / wall_s
    return out


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own user + system time
    child_cpu_s: float  # user + system time of reaped children
    rss_bytes: int


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # f[0] is field 3 (state) of proc(5); utime is field 14, rss field 24.
    if f[0] == "Z":
        return None
    return Proc(
        pid=pid,
        ppid=int(f[1]),
        comm=comm,
        cpu_s=(int(f[11]) + int(f[12])) / _HZ,
        child_cpu_s=(int(f[13]) + int(f[14])) / _HZ,
        rss_bytes=int(f[21]) * _PAGE,
    )


def process_tree(root: int) -> list[Proc]:
    """``root`` and all its live descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s live process tree, counting the
    children each member has reaped."""
    return sum(p.cpu_s + p.child_cpu_s for p in process_tree(root))


@dataclass
class TreeCpu:
    """CPU split of the Spark driver's process tree at one instant."""

    py_driver_s: float
    jvm_s: float
    python_workers_s: float  # Python daemon and workers, own time plus reaped workers
    pipe_children_s: float  # processes reaped by the Python workers (``RDD.pipe`` commands)

    def minus(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(*(a - b for a, b in zip(vars(self).values(), vars(other).values())))


def tree_cpu(driver_pid: int, jvm_pid: int | None) -> TreeCpu:
    me = _read_proc(driver_pid)
    jvm = _read_proc(jvm_pid) if jvm_pid else None
    workers = [p for p in process_tree(jvm_pid)[1:] if p.comm.startswith("python")] if jvm else []
    worker_pids = {p.pid for p in workers}
    daemons = [p for p in workers if p.ppid not in worker_pids]
    return TreeCpu(
        py_driver_s=me.cpu_s if me else 0.0,
        jvm_s=jvm.cpu_s if jvm else 0.0,
        python_workers_s=sum(p.cpu_s for p in workers) + sum(p.child_cpu_s for p in daemons),
        pipe_children_s=sum(p.child_cpu_s for p in workers if p.ppid in worker_pids),
    )


def pss_bytes(pid: int) -> int | None:
    """Proportional set size: resident pages, each shared page divided among
    the processes sharing it, so a tree's sum counts forked workers' shared
    pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        return None
    return None


class RssSampler:
    """Samples the memory of a process tree on a background thread and keeps
    the peak of the whole tree and of the JVM. The tree's Python processes
    count by PSS, the rest by RSS."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_tree_bytes = 0
        self.peak_jvm_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        tree = process_tree(self.root)
        # PSS only where pages are shared (forked Python workers): reading it
        # walks the page tables, which for the JVM's heap would stall it.
        total = sum((pss_bytes(p.pid) if p.comm.startswith("python") else None) or p.rss_bytes for p in tree)
        self.peak_tree_bytes = max(self.peak_tree_bytes, total)
        java = [p.rss_bytes for p in tree if p.comm == "java"]
        if java:
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, max(java))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _read_proc(p) is not None]
        if alive:
            time.sleep(0.05)
    return alive
