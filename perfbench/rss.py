"""Peak resident memory of the Spark driver JVM and its Python workers,
sampled from ``/proc`` (psutil is not available).

Sampling runs on ``SIGALRM`` in the main thread, so the benchmark adds
no thread of its own; an interrupted blocking read in py4j is retried
after the handler returns (PEP 475).
"""

from __future__ import annotations

import os
import signal

PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.1


def children(pid: int) -> list:
    """Pids of ``pid``'s direct children."""
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                kids.extend(int(k) for k in fh.read().split())
    except OSError:  # the process ended between listing and reading
        pass
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root: int) -> int:
    """RSS summed over ``root`` and all its descendants.  A descendant
    still running the root's executable is a child the JVM has cloned
    but not yet exec'd (Hadoop shells out for file permissions); it
    shares the JVM's pages and reading it would count them twice."""
    root_exe = _exe(root)
    total, todo = _rss_bytes(root), children(root)
    while todo:
        pid = todo.pop()
        if _exe(pid) != root_exe:
            total += _rss_bytes(pid)
        todo.extend(children(pid))
    return total


class RssSampler:
    """Context manager; ``peak_mb`` is the largest sum seen while active,
    across every block it was entered for."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak = 0

    def _sample(self, *_):
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    def __enter__(self):
        self._previous = signal.signal(signal.SIGALRM, self._sample)
        self._sample()
        signal.setitimer(signal.ITIMER_REAL, INTERVAL_S, INTERVAL_S)
        return self

    def __exit__(self, *exc):
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, self._previous)
        self._sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
