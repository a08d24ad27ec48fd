"""Pure metric helpers and the /proc peak-RSS sampler."""

from __future__ import annotations

import math
import os
import threading


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, as ``(percentile, value)`` by nearest rank.

    With n samples the p-th percentile has rank ceil(p * n / 100), and
    n - rank samples lie beyond it, so the highest valid p is
    floor(100 * (n - beyond) / n). Returns None when n <= beyond: no
    percentile of so few samples has that many beyond it.
    """
    n = len(samples)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    if p < 1:
        return None
    rank = math.ceil(p * n / 100)
    return p, sorted(samples)[rank - 1]


class Outcomes:
    """Operations attempted and failed. A failure is an exception or an
    output that does not match the correctness gate; an operation is
    counted once however many ways it failed."""

    def __init__(self) -> None:
        self._failed: set[int] = set()
        self.attempted = 0

    def attempt(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def fail(self, op: int) -> None:
        if not 0 <= op < self.attempted:
            raise ValueError(f"operation {op} was never attempted")
        self._failed.add(op)

    def fail_all(self) -> None:
        """A cumulative state that fails its gate taints every
        operation that built it."""
        self._failed.update(range(self.attempted))

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces or parens: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every process below it, each
    address space once: a child the JVM spawns (posix_spawn, vfork)
    shares its parent's memory until it execs and reports the same
    statm meanwhile."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    spaces, todo = set(), [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                spaces.add(tuple(int(x) for x in f.read().split()))
        except OSError:
            continue
    return sum(s[1] for s in spaces) * page


def cpu_jiffies() -> tuple[int, int]:
    """Machine-wide (steal, total) CPU jiffies so far, from /proc/stat.
    Steal is time the host ran something else while a virtual CPU of
    this machine was ready to run."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class PeakRss:
    """Samples the process tree's RSS from one low-rate thread; use as a
    context manager around the region to measure."""

    INTERVAL_S = 0.2

    def __init__(self, root: int):
        self._root = root
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_bytes = 0

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self._root))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self._root))
