"""Host sizing and process-tree CPU/RSS, read from ``/proc``.

The tree is this process, the Spark JVM it launched and the Python workers
the JVM forks. CPU is ``utime+stime+cutime+cstime``, so a worker that has
exited still counts once its parent has reaped it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu_ticks() -> "tuple[int, int]":
    """(steal, total) ticks of all CPUs since boot, from ``/proc/stat``.
    Steal is time a virtual CPU wanted to run but the hypervisor ran
    something else; it slows every timing and is not the program's."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def driver_mem_mb() -> int:
    """A quarter of MemTotal: the host is shared, and local mode runs the
    driver and every executor thread in this one heap."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024 // 4
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _stat(pid: int) -> "tuple[int, str, float, float] | None":
    """(ppid, comm, cpu seconds incl. reaped children, rss MB)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14 ... rss=21 (pages)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return int(f[1]), comm, cpu, int(f[21]) * _PAGE_MB


@dataclass
class Sample:
    """One reading of the tree, split by role."""

    cpu: dict = field(default_factory=dict)  # role -> cpu seconds
    rss: dict = field(default_factory=dict)  # role -> MB

    @property
    def cpu_total(self) -> float:
        return sum(self.cpu.values())

    @property
    def rss_total(self) -> float:
        return sum(self.rss.values())


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def descendants(root: int) -> "list[int]":
    children: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def sample(root: int, jvm_pid: "int | None") -> Sample:
    """Roles: ``driver_py`` (root), ``jvm`` and ``pyworker`` (JVM descendants)."""
    s = Sample()
    pids = [root] + descendants(root)
    for pid in pids:
        st = _stat(pid)
        if st is None:
            continue
        if pid == root:
            role = "driver_py"
        elif pid == jvm_pid:
            role = "jvm"
        else:
            role = "pyworker" if st[1].startswith("python") else "other"
        s.cpu[role] = s.cpu.get(role, 0.0) + st[2]
        s.rss[role] = s.rss.get(role, 0.0) + st[3]
    return s
