"""CPU, memory and write accounting over a live process tree, from /proc.

The tree is the benchmark process plus every descendant: the Spark JVM
and the Python worker daemon with its forked workers. CPU is
utime + stime + cutime + cstime summed over the live tree, so a worker
that exits inside a window stays counted through its parent's cutime.
The JVM's JIT compiler threads are also read one by one, so their CPU
can be told apart from the rest.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float      # own + reaped children's CPU
    rss_mb: float
    write_mb: float   # bytes sent to the storage layer (0 if unreadable)


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE / 2**20
    write = 0.0
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    write = int(line.split()[1]) / 2**20
    except OSError:
        pass
    return Proc(pid, ppid, comm, cpu, rss, write)


def tree(root: int | None = None) -> list[Proc]:
    """Every live process descending from `root` (default: this one)."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read(int(name))
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


def _compiler_threads(pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread of JVM `pid`."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # HotSpot names them "C1 CompilerThread0", "C2 CompilerThread1"...
        if "CompilerThre" in raw[raw.index("(") + 1:raw.rindex(")")]:
            fields = raw[raw.rindex(")") + 2:].split()
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / _TICK
    return out


@dataclass(frozen=True)
class Snapshot:
    driver_cpu_s: float   # the benchmark process (PySpark driver side)
    jvm_cpu_s: float      # java processes
    worker_cpu_s: float   # everything else: Python worker daemon + workers
    rss_mb: float         # current RSS summed over the live tree
    write_mb: float
    compiler_cpu_s: dict  # JVM JIT compiler thread id -> CPU seconds

    @property
    def cpu_s(self) -> float:
        return self.driver_cpu_s + self.jvm_cpu_s + self.worker_cpu_s

    def compiler_cpu_since(self, earlier: "Snapshot") -> float:
        """JIT compiler CPU between `earlier` and this snapshot. A thread
        that ended in between is not seen, so its share counts as 0."""
        return sum(cpu - earlier.compiler_cpu_s.get(tid, 0.0)
                   for tid, cpu in self.compiler_cpu_s.items())


def snapshot() -> Snapshot:
    me = os.getpid()
    driver = jvm = worker = rss = write = 0.0
    compiler: dict[int, float] = {}
    for p in tree(me):
        rss += p.rss_mb
        write += p.write_mb
        if p.pid == me:
            driver += p.cpu_s
        elif p.comm == "java":
            jvm += p.cpu_s
            compiler.update(_compiler_threads(p.pid))
        else:
            worker += p.cpu_s
    return Snapshot(driver, jvm, worker, rss, write, compiler)
