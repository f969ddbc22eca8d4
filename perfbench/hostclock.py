"""Steal-free seconds from the kernel's CPU counters.

On a virtual machine the hypervisor can run other guests on this guest's
cores while its threads wait to run; the guest counts that time as
*steal* in ``/proc/stat``.  Steal only accrues on a core that has work
to run, so over any window the share of runnable core time that was
stolen is ``steal / (busy + steal)``, and a CPU-bound operation's wall
time stretches by ``1 / (1 - share)``.  :meth:`HostClock.seconds`
removes that share from a window's wall time, so a run on a contended
host compares with a run on an idle one.  The raw wall times stay in the
report.
"""

from __future__ import annotations

import bisect
import threading
import time

#: sampling period of /proc/stat (its counters tick at 100 Hz per core)
PERIOD_S = 0.05


def _read() -> tuple[float, int, int]:
    """(epoch seconds, busy ticks, steal ticks) summed over all cores."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return time.time(), user + nice + system + irq + softirq, steal


class HostClock:
    """Samples the counters on a daemon thread until :meth:`stop`."""

    def __init__(self) -> None:
        self._samples = [_read()]
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="hostclock", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._done.wait(PERIOD_S):
            self._samples.append(_read())

    def stop(self) -> None:
        self._done.set()
        self._thread.join()
        self._samples.append(_read())

    def _at(self, t: float) -> tuple[float, float]:
        """(busy, steal) at epoch ``t``, linearly interpolated between
        samples; clamped to the sampled span."""
        s = self._samples[:]
        i = bisect.bisect_left(s, t, key=lambda x: x[0])
        if i == 0:
            return s[0][1], s[0][2]
        if i == len(s):
            return s[-1][1], s[-1][2]
        (t0, busy0, steal0), (t1, busy1, steal1) = s[i - 1], s[i]
        w = (t - t0) / (t1 - t0)
        return busy0 + (busy1 - busy0) * w, steal0 + (steal1 - steal0) * w

    def steal_share(self, a: float, b: float) -> float:
        """Share of runnable core time stolen in epoch window [a, b]."""
        busy0, steal0 = self._at(a)
        busy1, steal1 = self._at(b)
        busy, steal = busy1 - busy0, steal1 - steal0
        return steal / (busy + steal) if busy + steal > 0 else 0.0

    def seconds(self, a: float, b: float) -> float:
        """Wall seconds of [a, b] with the stolen share removed."""
        return (b - a) * (1.0 - self.steal_share(a, b))
