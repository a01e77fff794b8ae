"""Process and host readings from /proc (Linux)."""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int | None:
    """Hypervisor steal ticks from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat", encoding="utf-8") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of one process."""
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stat(pid: str) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process exited while we listed /proc
        return None
    # fields[0] is the state; utime, stime, cutime, cstime are fields 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _HZ


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by `root` and every live descendant, including the
    children each has reaped. Steal time is not CPU time, so steal does not
    inflate this as it inflates wall time."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo.extend(children.get(pid, ()))
    return total
