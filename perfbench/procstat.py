"""Host-noise and memory sampling from ``/proc`` (no psutil dependency).

A background sampler polls, every ``interval`` seconds:
  * the resident set size summed over this process tree (driver Python,
    the Spark JVM and its Python workers) -> peak RSS;
  * machine-wide busy jiffies from ``/proc/stat`` minus the jiffies this
    process tree consumed -> cores kept busy by other processes.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _tree_sample(root: int) -> tuple[int, int]:
    """(rss bytes, cpu jiffies incl. reaped children) of the process tree."""
    rss = jiffies = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14-17
        jiffies += sum(int(x) for x in fields[11:15])
        rss += int(fields[21]) * _PAGE
    return rss, jiffies


def _machine_busy() -> int:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return vals[0] + vals[1] + vals[2] + vals[5] + vals[6] + vals[7]


class HostSampler:
    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-procstat", daemon=True)
        self._t0 = self._busy0 = self._own0 = 0.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, _tree_sample(self.root)[0])

    def start(self) -> "HostSampler":
        self.peak_rss = _tree_sample(self.root)[0]
        self._thread.start()
        return self

    def window_start(self) -> None:
        self._t0, self._busy0, self._own0 = time.monotonic(), _machine_busy(), _tree_sample(self.root)[1]

    def window_stop(self) -> dict:
        """External busy cores over the window since ``window_start``."""
        wall = max(time.monotonic() - self._t0, 1e-9)
        busy = _machine_busy() - self._busy0
        own = _tree_sample(self.root)[1] - self._own0
        return {
            "external_busy_cores": round(max(busy - own, 0) / _TICK / wall, 3),
            "own_busy_cores": round(own / _TICK / wall, 3),
            "cpus": os.cpu_count(),
        }

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
