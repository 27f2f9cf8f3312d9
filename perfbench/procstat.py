"""CPU time of a process tree, read from ``/proc``.

The driver Python process launches the JVM, and the JVM launches the
Python workers, so the tree rooted at the driver holds every process that
does the benchmark's work. Each process contributes its own user+system
time plus that of children it has already reaped.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listdir and open
        return None
    # the command name may hold spaces; fields after it are space separated
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def tree_cpu_s(root: int | None = None) -> float:
    """Total CPU seconds of ``root`` (default: this process) and all of its
    live descendants."""
    root = os.getpid() if root is None else root
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total
