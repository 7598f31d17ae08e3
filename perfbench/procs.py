"""CPU time and peak memory of the benchmark's process tree, from /proc.

The tree is the driver (this interpreter), the JVM it launches and the
JVM's Python workers.  Processes that are not part of the program (the
catalog stub) are excluded by pid.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """-> (command, parent pid, CPU seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after the command: state, ppid, ..., utime (12th), stime,
    # cutime, cstime
    cpu = sum(int(x) for x in f[11:15]) / _TICK
    return comm, int(f[1]), cpu


def tree(root: int, exclude: set[int] = frozenset()) -> dict[int, tuple[str, int, float]]:
    """Every live descendant of ``root`` (and root) outside ``exclude``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in exclude or pid not in stats:
            continue
        keep[pid] = stats[pid]
        frontier.extend(p for p, st in stats.items() if st[1] == pid)
    return keep


def cpu_seconds(exclude: set[int] = frozenset()) -> float:
    """User+system CPU of the live tree plus what its members reaped.
    A difference of two readings is the tree's CPU in between, also for
    workers that exited and were reaped meanwhile."""
    return sum(st[2] for st in tree(os.getpid(), exclude).values())


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(exclude: set[int] = frozenset()) -> tuple[float, float]:
    """-> (JVM VmHWM, largest Python-worker VmHWM), in MB."""
    procs = tree(os.getpid(), exclude)
    jvm = [pid for pid, st in procs.items() if st[0] == "java"]
    if not jvm:
        return 0.0, 0.0
    workers = [pid for pid in tree(jvm[0]) if pid != jvm[0]]
    return _hwm_mb(jvm[0]), max((_hwm_mb(p) for p in workers), default=0.0)
