"""Process-tree accounting from /proc, read at op boundaries (no sampler
thread).

The tree is this driver process plus every descendant: the Spark JVM that
PySpark launches, the Python worker daemon the JVM forks, and its workers.
CPU is utime+stime plus the reaped-children times (cutime+cstime), so a
Python worker that exits between two reads still has its CPU counted in
its parent's row.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return comm, int(rest[1]), cpu


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """CPU and peak-RSS totals over the process tree rooted at ``root``."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def _tree(self) -> dict[int, tuple[str, int, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> dict[str, float]:
        """cpu_s: whole tree; py_cpu_s: Python processes below the JVM
        (the UDF / mapInPandas workers); rss_mb: sum of VmHWM."""
        tree = self._tree()
        jvm = {p for p, (comm, _, _) in tree.items() if comm == "java"}
        py = 0.0
        for pid, (comm, ppid, cpu) in tree.items():
            # walk up to see whether this python process hangs off the JVM
            if comm.startswith("python") and pid != self.root:
                anc = ppid
                while anc in tree and anc not in jvm:
                    anc = tree[anc][1]
                if anc in jvm:
                    py += cpu
        return {
            "cpu_s": sum(cpu for _, _, cpu in tree.values()),
            "py_cpu_s": py,
            "rss_mb": sum(_hwm_mb(p) for p in tree),
        }

    def pids(self) -> list[int]:
        return [p for p in self._tree() if p != self.root]


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def steal_sample() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)
