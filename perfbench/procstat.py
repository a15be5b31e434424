"""The processes this run started: their peak resident memory, and
stopping them.

Spark's JVM is a child of this Python process and the Python workers
are children of the JVM, so the tree rooted here is the whole
program. Linux only: it reads ``/proc``.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # the command name (field 2) may hold spaces; fields after it do not
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _start_time(pid: int) -> int | None:
    """Start time of a live process (ticks since boot); None once it
    has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == b"Z" else int(fields[19])


def descendants(root: int) -> dict[int, int]:
    """pid -> start time of every live process below ``root``."""
    kids = _children()
    found: dict[int, int] = {}
    todo = list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        start = _start_time(pid)
        if start is not None:
            found[pid] = start
    return found


def stop_all(procs: dict[int, int], grace_s: float = 30.0) -> None:
    """Wait up to ``grace_s`` for the processes to end by themselves,
    then terminate, then kill, those left; return once all have ended.
    A pid whose start time changed is another process and is left
    alone."""

    def alive() -> list[int]:
        return [p for p, start in procs.items() if _start_time(p) == start]

    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in alive() if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Sample the process tree's RSS on a thread while the ``with``
    block runs; ``peak_mb`` holds the highest sample afterwards."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        mb = tree_rss_bytes(os.getpid()) / 2**20
        self.peak_mb = max(self.peak_mb, mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
