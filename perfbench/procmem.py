"""Peak memory of this process and all its descendants (the driver
Python, the JVM it launches and the JVM's Python workers), sampled from
``/proc``."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
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


def _field_bytes(path: str, field: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def rss_bytes(pid: int) -> int:
    return _field_bytes(f"/proc/{pid}/status", "VmRSS:")


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by several processes (the
    forked Python workers and their daemon) are split between them."""
    return _field_bytes(f"/proc/{pid}/smaps_rollup", "Pss:")


def tree_bytes(pid: int) -> tuple[int, int]:
    """(RSS, PSS) summed over ``pid`` and its descendants."""
    pids = [pid, *descendants(pid)]
    return sum(rss_bytes(p) for p in pids), sum(pss_bytes(p) for p in pids)


class PeakMemory:
    """Samples the tree's summed RSS and PSS every ``interval`` seconds on
    a daemon thread between :meth:`start` and :meth:`stop`."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_rss = 0
        self.peak_pss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            rss, pss = tree_bytes(pid)
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_pss = max(self.peak_pss, pss)
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
