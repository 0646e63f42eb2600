"""CPU time of the benchmark's process tree.

The engine runs in three kinds of process: this Python driver, the JVM
it launches, and the Spark Python workers the JVM forks. ``tree_cpu``
reads the user + system time of each from ``/proc``, including what
their already-reaped children used. Linux keeps this time net of what
a hypervisor steals from the guest (paravirtual steal accounting), so
on a shared host it moves far less with other tenants' load than wall
time does.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
KINDS = ("driver", "jvm", "workers")


def _stat(pid: str) -> tuple[str, int, int] | None:
    """(comm, ppid, utime + stime + cutime + cstime in ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # exited while we listed /proc
        return None
    rest = s[s.rindex(")") + 2:].split()
    return (s[s.index("(") + 1:s.rindex(")")], int(rest[1]),
            sum(int(x) for x in rest[11:15]))


def tree_cpu() -> dict[str, float]:
    """CPU seconds used so far by this process and its descendants, by
    kind: ``driver`` (this process), ``jvm`` (every java process) and
    ``workers`` (everything else below it: Spark's Python daemon and
    workers)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            stats[int(pid)] = st
    root = os.getpid()
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out = dict.fromkeys(KINDS, 0.0)
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        comm, _, ticks = stats[pid]
        kind = ("driver" if pid == root
                else "jvm" if comm == "java" else "workers")
        out[kind] += ticks / _TICK
        todo += kids.get(pid, [])
    return out


def tree_cpu_s() -> float:
    return sum(tree_cpu().values())

