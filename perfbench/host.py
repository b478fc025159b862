"""Host-noise fields and the peak-RSS sampler.

The noise fields (core count, 1-minute loadavg at launch and at its
peak, hypervisor steal share) explain a noisy run; they are printed
next to the result, not reported as metrics. Peak RSS is the largest
resident size seen for this process plus every process it started
(the driver JVM and the Python workers it forks), sampled from
``/proc`` by a thread every 100 ms.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.1


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listed
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * _PAGE
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class HostMonitor:
    """Samples peak RSS and peak loadavg until :meth:`stop`."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.load_launch = os.getloadavg()[0]
        self.load_peak = self.load_launch
        self.peak_rss = 0
        self._steal0 = _cpu_ticks()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "HostMonitor":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(INTERVAL_S):
            self.peak_rss = max(self.peak_rss, _tree_rss(me))
            self.load_peak = max(self.load_peak, os.getloadavg()[0])

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        steal1 = _cpu_ticks()
        d_steal = steal1[0] - self._steal0[0]
        d_total = steal1[1] - self._steal0[1]
        return {"nproc": self.nproc,
                "loadavg_launch": round(self.load_launch, 2),
                "loadavg_peak": round(self.load_peak, 2),
                "cpu_steal_pct": round(100.0 * d_steal / max(d_total, 1), 3)}
