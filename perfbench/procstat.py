"""CPU time and resident memory of this process and its descendants.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the JVM's Python workers. Read from ``/proc`` because ``psutil`` is not
installed.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants() -> list[int]:
    """This process and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[0] != "Z":
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a thread until ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = tree_rss_mb()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._done.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_children_gone(timeout_s: float = 60.0) -> bool:
    """Wait for every descendant to exit, killing what outlives
    ``timeout_s``. True when the tree is down to this process."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        _reap()
        left = descendants()[1:]
        if not left:
            return True
        if time.monotonic() > deadline:
            if killed:
                return False
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.1)
