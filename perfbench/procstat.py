"""CPU time and resident memory of this process and all its descendants
(the JVM and the Python workers it forks), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                out[int(pid)] = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            pass  # the process exited between listdir and read
    return out


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of this process, then of all its descendants."""
    stats = _stats()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        frontier.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    return [pid for pid, _ in _tree()[1:]]


def tree_cpu_s() -> float:
    """User+system CPU-seconds of the live tree, plus what its members
    collected from children they already reaped (so a Python worker that
    exited still counts)."""
    return sum(sum(int(x) for x in f[11:15]) for _, f in _tree()) / _TICK


def tree_rss_mb() -> float:
    return sum(int(f[21]) for _, f in _tree()) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
