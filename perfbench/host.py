"""Host-state diagnostics and memory sampling, read from /proc.

Steal share and load average are recorded per run as diagnostics, never as
metrics: host contention has swung walls of frozen code by 40%, and the
honest answer to it is medians over all reps, not dropping slow ones.
"""

from __future__ import annotations

import os
import threading


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted inside user/nice
    return sum(vals[:8]), steal


def host_state(j0: tuple[int, int], j1: tuple[int, int]) -> dict:
    total = j1[0] - j0[0]
    steal = j1[1] - j0[1]
    return {
        "steal_pct": 100.0 * steal / total if total > 0 else 0.0,
        "loadavg": list(os.getloadavg()),
        "ncpu": os.cpu_count(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of every descendant of ``root`` (not root itself):
    the Spark JVM, the Python worker daemon and its workers."""
    kids = _children()
    todo = list(kids.get(root, []))
    total_kb = 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRSS:
    """Background sampler of ``tree_rss_mb(os.getpid())``; ``peak`` holds
    the highest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_mb(me))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRSS":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak
