"""Process-tree accounting from ``/proc``: summed RSS of the benchmark's
process tree (its own Python process, the JVM, the Python workers) and a sampler that keeps
its peak over a window."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def descendants(root: int, skip_fork_copies: bool = False) -> list[int]:
    """Every process below ``root``. With ``skip_fork_copies``, leave out
    a JVM child that has forked but not yet exec'd (Hadoop's local file
    system forks for ``chmod``): it shares the JVM's pages copy-on-write,
    so counting its RSS would add the whole JVM a second time."""
    children = _parent_map()
    out, todo = [], [(c, root) for c in children.get(root, [])]
    while todo:
        pid, parent = todo.pop()
        if skip_fork_copies:
            exe = _exe(pid)
            if exe is not None and os.path.basename(exe) == "java" and exe == _exe(parent):
                continue
        out.append(pid)
        todo.extend((c, pid) for c in children.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root, skip_fork_copies=True)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Context manager sampling ``tree_rss_bytes(root)`` every ``interval``
    seconds on a daemon thread; ``peak_bytes`` holds the maximum seen."""

    def __init__(self, root: int | None = None, interval: float = 0.05):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
