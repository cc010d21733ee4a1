"""CPU seconds used by this process and every process it started.

Read from /proc: for the process and each descendant (the Spark JVM and
its Python workers), user + system time, its own and that of children
it has reaped.  Time the hypervisor steals from a virtual CPU is not in
these counters, so on a shared host they track the program's work where
wall time also tracks its neighbours' load.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, clock ticks) of one process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2:].split()  # from field 3, state
    return int(fields[1]), sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


def tree_cpu_seconds(root: int | None = None) -> float:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(name)) is not None:
            children.setdefault(st[0], []).append(int(name))
            ticks[int(name)] = st[1]
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _TICK
