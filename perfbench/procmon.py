"""CPU and resident memory of a process tree, read from ``/proc``.

psutil is not installed, so the tree is rebuilt from ``/proc/<pid>/stat``
parent links on every sample.  CPU is user+system time of each live member
plus the time of its children that have already been waited for
(``cutime``/``cstime``), so a Python worker that exits and is reaped inside
the tree keeps counting.  RSS is summed over members (pages shared between
forked workers count once per process, as ``ps`` shows them).
"""

from __future__ import annotations

import os
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
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def state(pid: int) -> str:
    """One-letter process state ("Z" for a zombie), "" once it is gone."""
    st = _stat(pid)
    return st[0] if st else ""


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class TreeSampler:
    """Samples the RSS of a process tree on a background thread.

    Each sample is split into the driver side (this Python process and the
    JVM it launched) and the Python workers below the JVM; ``peak_by_role``
    keeps each maximum, and ``take_worker_peak`` returns the largest worker
    sum since its last call."""

    # a full /proc scan costs a few ms of CPU; rebuild the member list at
    # this period and sample only the members in between
    TREE_PERIOD = 1.0

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self._recent_worker_mb = 0.0
        self.peak_by_role = {"driver": 0.0, "worker": 0.0}
        self._members: list[tuple[int, bool]] = []
        self._members_at = -1e9
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        now = time.monotonic()
        if now - self._members_at > self.TREE_PERIOD:
            self._members = [
                (pid, pid == self.root or comm(pid) == "java") for pid in tree(self.root)
            ]
            self._members_at = now
        driver = worker = 0.0
        for pid, is_driver in self._members:
            mb = rss_mb(pid)
            if is_driver:
                driver += mb
            else:
                worker += mb
        self._recent_worker_mb = max(self._recent_worker_mb, worker)
        self.peak_by_role["driver"] = max(self.peak_by_role["driver"], driver)
        self.peak_by_role["worker"] = max(self.peak_by_role["worker"], worker)

    def take_worker_peak(self) -> float:
        self.sample()
        peak, self._recent_worker_mb = self._recent_worker_mb, 0.0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._members_at = -1e9
        self.sample()
