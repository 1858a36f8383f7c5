"""/proc readings of the driver JVM and the Python workers under it."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    kids = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return kids


def tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            todo += _children(p)
        except OSError:
            continue  # exited between the listing and the read
        out.append(p)
    return out


def peak_rss_mb(jvm_pid: int) -> tuple[float, list[float]]:
    """VmHWM of the driver JVM plus every Python worker under it, in
    MB, and the per-process figures (JVM first)."""
    each = []
    for pid in tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for ln in fh:
                    if ln.startswith("VmHWM:"):
                        each.append(int(ln.split()[1]) / 1024.0)
        except OSError:
            pass
    return sum(each), each


def cpu_ticks(jvm_pid: int) -> dict[int, int]:
    """User + system CPU ticks of the JVM and each Python worker."""
    out = {}
    for pid in tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            out[pid] = int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return out


def cpu_s_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds spent between two ``cpu_ticks`` readings by the
    processes alive at the second one."""
    return sum(t - before.get(p, 0) for p, t in after.items()) / _TICK
