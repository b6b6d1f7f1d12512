"""CPU time and resident memory of this process's whole tree, from /proc.

The tree is the driver Python process, the JVM it launches and the
JVM's Python workers. CPU seconds are utime + stime plus the reaped
children's cutime + cstime of every live process in the tree, so a
worker that exits and is reaped still counts. Peak RSS is the largest
sum of the tree's resident sets seen by a sampling thread.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> /proc stat fields (from the state field on) for ``root``
    and all its descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    # fields from the state (index 0): utime=11, stime=12, cutime=13, cstime=14
    return sum(
        int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in tree(root).values()
    ) / _TICK


def rss_bytes(root: int) -> int:
    return sum(int(f[21]) for f in tree(root).values()) * _PAGE


def descendants(root: int) -> list[int]:
    return [p for p in tree(root) if p != root]


class PeakRss:
    """Samples the tree's summed RSS every ``period`` seconds: ``peak`` is
    the largest sample of the whole run, ``window`` the largest since the
    last ``new_window``."""

    def __init__(self, root: int, period: float = 0.2):
        self.root = root
        self.period = period
        self.peak = rss_bytes(root)
        self.window = self.peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            r = rss_bytes(self.root)
            self.peak = max(self.peak, r)
            self.window = max(self.window, r)

    def new_window(self) -> None:
        self.window = rss_bytes(self.root)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
