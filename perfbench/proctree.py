"""CPU time and memory of this process and all its descendants.

The tree is the Python driver, the JVM it launched and the Python
workers the JVM forks.  Read from ``/proc``: ``utime + stime`` of every
live member plus ``cutime + cstime`` (descendants that already exited
and were reaped), and the summed proportional set size (PSS: a page
shared by k processes counts 1/k in each, so forked workers are not
counted twice), sampled by a background thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        out[int(name)] = raw[raw.rindex(")") + 2:].split()
    return out


def tree(root: int | None = None) -> dict[int, list[str]]:
    """Stat fields of ``root`` (default: this process) and its descendants."""
    stats = _stats()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    members, todo = {}, [root or os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            members[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return members


def cpu_seconds() -> float:
    """CPU seconds used so far by the tree, reaped descendants included."""
    # fields (0-based, after the name): 11 utime, 12 stime, 13 cutime, 14 cstime
    return sum(
        sum(int(f[k]) for k in (11, 12, 13, 14)) for f in tree().values()
    ) / _TICK


def pss_mb() -> float:
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(
                    int(line.split()[1]) for line in f if line.startswith("Pss:")
                )
        except (OSError, StopIteration):  # exited, or a zombie
            continue
    return total_kb * 1024 / 1e6


class PeakMemory:
    """Context manager sampling the tree's summed PSS every ``interval`` s."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, pss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, pss_mb())
