"""CPU and memory of this process tree, read from ``/proc``.

The tree is the benchmark driver (Python), the Spark JVM it launched, and the
PySpark daemon with its workers under the JVM.  CPU is ``utime + stime`` of
every live process in the tree plus ``cutime + cstime``, which holds the time
of children that have already exited and been reaped, so a worker that ends
between two readings is still counted once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, command name, cpu seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    name = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state): ppid is field 4, utime..cstime fields 14-17
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[1]), name, ticks / _TICK


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass(frozen=True)
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def py(self) -> float:
        return self.driver + self.workers

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver - other.driver, self.jvm - other.jvm, self.workers - other.workers
        )


class ProcTree:
    """Readings of the tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root

    def _tree(self) -> list[tuple[int, str, float]]:
        stats, children = {}, {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                s = _stat(int(entry))
                if s is not None:
                    stats[int(entry)] = s
                    children.setdefault(s[0], []).append(int(entry))
        keep, frontier = [], [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats:
                keep.append((pid, stats[pid][1], stats[pid][2]))
                frontier.extend(children.get(pid, ()))
        return keep

    def cpu(self) -> CpuSample:
        driver = jvm = workers = 0.0
        for pid, name, secs in self._tree():
            if pid == self.root:
                driver += secs
            elif name == "java":
                jvm += secs
            else:
                # the PySpark daemon, its workers, and any launcher shell
                workers += secs
        return CpuSample(driver, jvm, workers)

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak RSS of the driver, the JVM and the largest Python worker."""
        out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        for pid, name, _ in self._tree():
            if pid == self.root:
                out["driver"] = _vm_hwm_mb(pid)
            elif name == "java":
                out["jvm"] += _vm_hwm_mb(pid)
            elif name.startswith("python"):
                out["worker"] = max(out["worker"], _vm_hwm_mb(pid))
        return out
