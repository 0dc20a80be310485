"""CPU time and peak memory of this process tree, read from ``/proc``.

The tree is this Python process, the JVM it launched and the JVM's Python
workers. Each process counts its own CPU plus that of children it has
reaped, so a worker that exits between two readings moves its time into its
parent's count instead of losing it."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in clock ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    # fields[0] is state (stat field 3); ppid is field 4, times are 14-17
    return int(fields[1]), sum(int(f) for f in fields[11:15])


def _tree() -> dict[int, int]:
    """pid -> cpu ticks for this process and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    root = os.getpid()
    keep, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in keep:
                keep.add(pid)
                frontier.append(pid)
    return {pid: stats[pid][1] for pid in keep if pid in stats}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    return sum(_tree().values()) / _TICKS


def descendants() -> list[int]:
    return [pid for pid in _tree() if pid != os.getpid()]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(f) for f in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
