"""The benchmark's process tree, read from /proc: peak resident memory of the
driver, the Spark JVM and its Python workers, and a wait for all of them
to end."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the ')' that closes the command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0  # exited while sampling


class PeakRss:
    """Peak of the summed resident memory of this process and all its
    descendants (the Spark JVM, its Python workers), sampled on a background
    thread; ``stop()`` returns MB."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-rss", daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        self._peak = max(self._peak, sum(_rss_bytes(p) for p in [me, *descendants(me)]))

    def _loop(self) -> None:
        while not self._done.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        """Stop sampling (once) and return the peak in MB."""
        if not self._done.is_set():
            self._done.set()
            self._thread.join(timeout=10)
            self.sample()
            self.peak_mb = self._peak / 2**20
        return self.peak_mb


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every descendant to exit; SIGTERM, then SIGKILL, stragglers."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        now = time.monotonic()
        if now > deadline + 10:
            raise RuntimeError(f"processes {left} did not exit")
        sig = signal.SIGKILL if now > deadline + 5 else signal.SIGTERM if now > deadline else None
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass  # reap our own exited children
        except ChildProcessError:
            pass
        time.sleep(0.1)
