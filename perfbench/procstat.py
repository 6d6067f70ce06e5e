"""Process-tree CPU and host steal, read from ``/proc``.

The benchmark's process tree is this Python process, the JVM it launches
and the JVM's Python workers.  CPU is user+system time of every live
process in the tree plus the time of children they have already reaped,
so a worker that exits mid-pass is still counted through its parent.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """*root* and all its descendants that are alive now."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    out, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        out.extend(nxt)
        frontier = nxt
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime: fields 14-17 of stat(5)
            ticks += sum(int(v) for v in f[11:15])
    return ticks / _TICK


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[1] - before[1]) / max(after[0] - before[0], 1)
