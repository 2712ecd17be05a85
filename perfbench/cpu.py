"""CPU time of this process and everything it started (the JVM, its
Python workers), read from /proc.

On a shared host, wall time also counts the time the machine's other
tenants hold the CPUs; CPU time counts only the time this process tree
ran, so it shows the work an op does with much less of that noise."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime + stime + cutime + cstime in ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    f = s[s.rindex(")") + 2:].split()
    # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime), 1-based
    return int(f[1]), sum(int(x) for x in f[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by `root` (default: this process), its
    live descendants, and the descendants they have already reaped."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _t) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo += children.get(pid, [])
    return total / _TICK
