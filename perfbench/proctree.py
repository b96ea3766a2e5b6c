"""CPU time and resident memory of a process tree, read from ``/proc``.

The engine's work happens in three kinds of processes: the benchmark's
own Python process, the JVM it launches, and the Python workers the JVM
forks. Counting only the first would miss most of it, so both figures
sum the whole tree under the benchmark process.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()


def running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` and all its descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including children it reaped."""
    return sum(int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
               for st in tree(root).values()) / _TICK


def rss_mb(root: int) -> tuple[float, dict[str, list]]:
    """Summed RSS of the tree, and {command: [processes, MB]}."""
    total, parts = 0.0, {}
    for pid, st in tree(root).items():
        mb = int(st[21]) * _PAGE / 2 ** 20
        total += mb
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            comm = "?"
        part = parts.setdefault(comm, [0, 0.0])
        part[0] += 1
        part[1] += mb
    return total, parts


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop``; keeps the
    peak and which processes made it up."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root, self.interval_s = root, interval_s
        self.peak_mb, self.at_peak = 0.0, {}
        self._sample()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb, parts = rss_mb(self.root)
        if mb > self.peak_mb:
            self.peak_mb, self.at_peak = mb, parts

    def _run(self) -> None:
        while not self._done.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._done.set()
        self._thread.join(timeout=10)
        self._sample()
