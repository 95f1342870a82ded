"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark process and every descendant: the Spark
JVM it launches and the Python workers the JVM forks.  CPU time of a
descendant that has exited is still counted, because its parent's
``cutime``/``cstime`` absorb it when the parent reaps it.
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
    except OSError:  # exited between listing and reading
        return None
    # fields after "pid (comm)"; comm may itself hold spaces or ")"
    return raw[raw.rindex(")") + 2:].split()


class ProcessTree:
    """Samples of the tree rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _members(self) -> list[list[str]]:
        return [st for _pid, st in self._walk()]

    def _walk(self) -> list[tuple[int, list[str]]]:
        stats: dict[int, list[str]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out.append((pid, stats[pid]))
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """Total user+system CPU seconds of the tree so far."""
        # stat fields (0-based after comm): 11 utime, 12 stime,
        # 13 cutime, 14 cstime
        return sum(
            int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
            for st in self._members()
        ) / _TICK

    def descendants(self) -> list[int]:
        return [pid for pid, _st in self._walk() if pid != self.root]

    def reap(self, timeout_s: float) -> None:
        """Wait for every descendant to exit; kill what outlives the
        timeout.  Exited children of this process are reaped here."""
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            alive = [p for p in self.descendants() if _stat(p) and _stat(p)[0] != "Z"]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)

    def rss_mb(self) -> float:
        """Summed resident set size of the tree, in MiB."""
        return sum(int(st[21]) for st in self._members()) * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS while the context is
    open; ``take()`` returns the largest sample since the previous
    ``take()`` (one window per op)."""

    def __init__(self, tree: ProcessTree, interval_s: float = 0.05):
        self.tree = tree
        self.interval_s = interval_s
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> float:
        rss = self.tree.rss_mb()
        with self._lock:
            self._peak = max(self._peak, rss)
        return rss

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def take(self) -> float:
        rss = self._sample()
        with self._lock:
            peak, self._peak = self._peak, rss
        return peak

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
