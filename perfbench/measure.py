"""Wall, CPU and stolen time of a measured window.

The benchmark runs on shared virtual machines, where the hypervisor
periodically runs other guests on this guest's vCPUs. That *steal time*
is counted by the guest kernel (``/proc/stat``) and can add a quarter
to a window's wall time from one minute to the next. A window therefore
records, besides its wall time, the CPU time the benchmark's process
tree used and the steal time the VM suffered, and reports its wall time
net of steal as ``wall * cpu / (cpu + steal)``: steal accrues only on
vCPUs that have work to run, and the only work in the benchmark's VM is
the benchmark, so ``steal / (cpu + steal)`` is the share of its
runnable time that was taken away.
"""

from __future__ import annotations

import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants — the JVM and the Python workers it starts —
    including descendants that have exited and been reaped."""
    me = os.getpid()
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / _TICK


def steal_seconds() -> float:
    """Seconds stolen from this VM's vCPUs so far, summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Window:
    """Times a ``with`` block: ``wall``, ``cpu``, ``steal`` and
    ``net`` (wall time net of steal, see the module docstring)."""

    def __init__(self, start: tuple[float, float, float] | None = None):
        # (perf_counter, cpu_seconds, steal_seconds) of an earlier start
        self._start = start

    def __enter__(self) -> Window:
        if self._start is None:
            c, s = cpu_seconds(), steal_seconds()
            self._start = (time.perf_counter(), c, s)
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> Window:
        self.wall = time.perf_counter() - self._start[0]
        self.cpu = cpu_seconds() - self._start[1]
        self.steal = steal_seconds() - self._start[2]
        return self

    @property
    def net_share(self) -> float:
        busy = self.cpu + self.steal
        return self.cpu / busy if busy > 0 else 1.0

    @property
    def net(self) -> float:
        return self.wall * self.net_share


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method; one sample is itself)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
