"""Time as this VM got it from a shared host.

The hypervisor runs other guests on this VM's CPUs ("steal" in
/proc/stat), and neighbours come and go. On a 4-vCPU VM a warm
warehouse build that took 28.3 s of wall time had 41 CPU-seconds stolen
from it, against a median of 17.0 s over ten runs. :func:`unstolen`
takes the average stolen time per CPU out of a wall-clock interval.
The host's other noise, cores that run slower while it is busy, stays
in: a loop timed after each run did not track it well enough to
correct for it.
"""

from __future__ import annotations

import os


def steal_s() -> float:
    """CPU time stolen from this VM so far, summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def unstolen(wall_s: float, steal_s: float) -> float:
    """``wall_s`` less the time the host took from an average CPU in it."""
    return wall_s - steal_s / os.cpu_count()
