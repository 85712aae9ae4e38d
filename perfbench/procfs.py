"""Process-tree accounting from /proc (``psutil`` is not installed)."""

from __future__ import annotations

import os


def _stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    out[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    return out


def tree(root: int, stats: dict[int, list[str]] | None = None) -> list[int]:
    """``root`` and every live descendant."""
    stats = _stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of the tree:
    the driver, the JVM and the Python workers."""
    stats = _stats()
    ticks = sum(sum(int(x) for x in stats[p][11:15]) for p in tree(root, stats) if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Host-wide CPU steal so far (time the hypervisor ran other guests
    while this machine's vCPUs were runnable), summed over the vCPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def tree_pss_mb(root: int) -> dict[str, float]:
    """Proportional set size of the tree, by command name.  PSS splits pages
    shared between processes (the Python workers forked from one daemon, a
    child forked by the JVM before it execs) among them, so the sum is the
    tree's real resident memory."""
    by_comm: dict[str, float] = {}
    for p in tree(root):
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as fh:
                pss = next(int(x.split()[1]) for x in fh if x.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
        by_comm[comm] = by_comm.get(comm, 0.0) + pss / 1024.0
    return by_comm


def session_alive(sid: int) -> bool:
    """Whether any process of session ``sid`` is still running."""
    return any(int(f[3]) == sid and f[0] != "Z" for f in _stats().values())
