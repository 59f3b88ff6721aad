"""Process-tree helpers read straight from ``/proc`` (no psutil).

The benchmark's tree is the driver Python process, the JVM it
launches and the JVM's Python workers.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
#: the tree is this process and everything below it
ROOT_PID = os.getpid()
SAMPLE_PERIOD_S = 0.1


def _ppid_map() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name sits in parentheses and may hold spaces
        fields = stat[stat.rindex(b")") + 2:].split()
        parents[int(name)] = int(fields[1])
    return parents


def descendants(root: int) -> list[int]:
    """Live pids below ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> int:
    return sum(rss_bytes(p) for p in [root, *descendants(root)])


class RssSampler:
    """Samples the summed RSS of this process's tree every
    ``SAMPLE_PERIOD_S`` on a background thread and keeps the peak.  Use
    as a context manager around the timed region; ``peak_mb`` is valid
    after exit."""

    def __init__(self) -> None:
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(ROOT_PID))
            self.samples += 1
            if self._stop.wait(SAMPLE_PERIOD_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
