"""Steal-gated wall-clock timing: the one clean-window protocol shared
by ``bench.py`` and the ``tools/`` harnesses.

This shared host gets multi-minute hypervisor-steal bursts that slow
identical runs 2-10x, so every timed run carries its own /proc/stat
steal reading. A run is CLEAN when steal is at most ``STEAL_MAX_PCT``
of its busy time. ``timed_clean`` samples until ``repeats`` clean runs
or ``max_attempts``, sleeping ``DIRTY_BACKOFF_S`` (outside the timed
region) after a dirty run that another attempt follows. It reports the
median of the clean runs when at least ``min(2, repeats)`` are clean;
otherwise the MINIMUM over all attempts (for a deterministic job noise
only adds time, so that is the least-contaminated observation) with
``dirty`` set.

Imports nothing from the engine package: ``tools/scale_level.py``
imports this module under spark-submit, where the engine must come
from ``dist/engine.zip`` and nowhere else.
"""

from __future__ import annotations

import statistics
import time
from typing import Callable

#: steal / (steal + busy) per timed run above which the run is dirty
STEAL_MAX_PCT = 2.0
#: pause after a dirty run so the next attempt starts past the burst
DIRTY_BACKOFF_S = 20


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole box; busy is user + nice +
    system + irq + softirq."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Steal share (%) of busy + steal time between two ``cpu_jiffies``
    readings."""
    busy = end[0] - start[0]
    steal = end[1] - start[1]
    return 100.0 * steal / max(steal + busy, 1)


def timed(fn: Callable[[], object]) -> tuple[float, float]:
    """(seconds, steal_pct) for one run of ``fn``."""
    start = cpu_jiffies()
    t0 = time.perf_counter()
    fn()
    sec = time.perf_counter() - t0
    return sec, steal_pct(start, cpu_jiffies())


def timed_clean(
    fn: Callable[[], object], repeats: int, max_attempts: int
) -> tuple[list[dict], float, bool]:
    """(attempts, seconds, dirty) under the clean-window protocol; each
    attempt is ``{"sec", "steal_pct", "clean"}``."""
    attempts: list[dict] = []
    n_clean = 0
    while n_clean < repeats and len(attempts) < max_attempts:
        sec, steal = timed(fn)
        clean = steal <= STEAL_MAX_PCT
        attempts.append(
            {"sec": round(sec, 3), "steal_pct": round(steal, 1), "clean": clean}
        )
        if clean:
            n_clean += 1
        elif len(attempts) < max_attempts:
            time.sleep(DIRTY_BACKOFF_S)
    clean_secs = [a["sec"] for a in attempts if a["clean"]]
    if len(clean_secs) >= min(2, repeats):
        return attempts, statistics.median(clean_secs), False
    return attempts, min(a["sec"] for a in attempts), True
