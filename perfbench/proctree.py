"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (the driver, the JVM it launches and the JVM's Python
workers), and shutdown of the descendants when a run ends."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None
    # the command name may hold spaces: fields restart after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """User + system CPU of the tree, including its reaped children."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes() -> int:
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak`` is the
    largest sample taken between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.peak = rss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak


def stop_descendants(timeout: float = 20.0) -> list[int]:
    """SIGTERM every descendant, SIGKILL what is left after ``timeout``,
    reap direct children; returns the pids that still exist afterwards."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            _reap()
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return []
            time.sleep(0.05)
    _reap()
    return [p for p in pids if _alive(p)]


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"
