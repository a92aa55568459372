"""CPU and resident memory of a process tree, read from /proc.

CPU of a tree is the sum over its live processes of user + system time,
each including the time of its reaped children (``cutime``/``cstime``). A
Python worker that exits mid-pass is reaped by its daemon, so its CPU moves
into the daemon's ``cutime`` instead of disappearing; a snapshot whose
membership changed while it was read is taken again, so the moment between
exit and reap cannot drop a process either.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree(root: int) -> list[tuple[int, int]]:
    """(pid, depth) of ``root`` and all its descendants."""
    out, todo = [], [(root, 0)]
    while todo:
        pid, d = todo.pop()
        out.append((pid, d))
        todo.extend((c, d + 1) for c in _children(pid))
    return out


def _stat(pid: int) -> tuple[float, float] | None:
    """(own CPU s, CPU s of reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    u, s, cu, cs = (int(x) for x in fields[11:15])
    return (u + s) / TICK, (cu + cs) / TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class TreeMeter:
    """CPU by process role and the per-process peak resident set of every
    process ever seen. Roles: driver = the root Python process, jvm = its
    child, pyworkers = Python processes below the JVM (daemon and workers,
    with the workers they reaped), forks = every other process the JVM
    started (e.g. shell commands), counted through the JVM's reaped-children
    time and any still running."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()
        self.peaks: dict[int, float] = {}

    def cpu(self) -> dict[str, float]:
        for _ in range(5):
            before = tree(self.root)
            roles = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0, "forks": 0.0}
            for pid, depth in before:
                st = _stat(pid)
                if st is None:
                    continue
                own, reaped = st
                if depth == 0:
                    roles["driver"] += own
                elif depth == 1:
                    roles["jvm"] += own
                    roles["forks"] += reaped
                elif _comm(pid).startswith("python"):
                    roles["pyworkers"] += own + reaped
                else:
                    roles["forks"] += own + reaped
                self.peaks[pid] = max(self.peaks.get(pid, 0.0), _hwm_mb(pid))
            if tree(self.root) == before:
                break
        roles["total"] = sum(roles.values())
        return roles

    def peak_rss_mb(self) -> float:
        self.cpu()
        return sum(self.peaks.values())
