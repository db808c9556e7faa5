"""CPU time and peak resident memory of a process tree, read from /proc.

``os.times()`` only counts children that have exited and been waited for,
so it misses the live JVM and its Python workers. Here the tree is walked
from a root pid through every live descendant instead. A process that
exits between two samples is not lost: once reaped, its time shows up in
its parent's ``cutime``/``cstime``, which the walk also sums.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, task: str = "") -> list[str]:
    """Fields of /proc/<pid>[/task/<tid>]/stat after the command name
    (field 3 on)."""
    with open(f"/proc/{pid}{task}/stat") as fh:
        data = fh.read()
    return data[data.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, parents first."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(ppid, []).append(int(name))
    tree, frontier = [root], [root]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, ())]
        tree.extend(frontier)
    return tree


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds used so far by a tree: the root itself, and the rest."""

    root_s: float
    children_s: float

    @property
    def total_s(self) -> float:
        return self.root_s + self.children_s

    def __sub__(self, other: "TreeCpu") -> "TreeCpu":
        return TreeCpu(self.root_s - other.root_s, self.children_s - other.children_s)


def tree_cpu(root: int) -> TreeCpu:
    """User+system CPU of ``root`` and, separately, of all its descendants,
    live or exited and reaped."""
    own = children = 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        utime, stime, cutime, cstime = (int(x) for x in f[11:15])
        if pid == root:
            own += utime + stime
            children += cutime + cstime
        else:
            children += utime + stime + cutime + cstime
    return TreeCpu(own / _TICK, children / _TICK)


def thread_cpu_s(pid: int, name: str) -> float:
    """User+system CPU of the live threads of ``pid`` whose name contains
    ``name``. Linux keeps the first 15 characters of a thread's name."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if name not in fh.read():
                    continue
            f = _stat_fields(pid, f"/task/{tid}")
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += int(f[11]) + int(f[12])
    return ticks / _TICK


def self_cpu_s() -> float:
    """User+system CPU of this process alone, without its children."""
    f = _stat_fields(os.getpid())
    return (int(f[11]) + int(f[12])) / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the tree."""
    kib = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kib * 1024 / 1e6
