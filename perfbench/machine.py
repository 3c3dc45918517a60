"""Machine readings taken beside each run: a Spark-independent CPU probe,
the share of CPU time the hypervisor stole, and peak resident memory.
All are information and gate nothing.  The probe and the steal share
are there to show host speed drift and contention from other guests
when runs made at different times are compared."""

from __future__ import annotations

import time

import numpy as np


def cpu_probe(elems: int = 8_000_000, rounds: int = 3, reps: int = 3) -> float:
    """Seconds for a fixed single-threaded numpy integer workload
    (splitmix-style multiply/xor/shift sweeps), best of ``reps``."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        a = np.arange(elems, dtype=np.uint64)
        for _ in range(rounds):
            a = a * np.uint64(0x9E3779B97F4A7C15)
            a ^= a >> np.uint64(29)
        if int(a[::4_000_003].sum()) < 0:  # consume the result
            raise RuntimeError("unreachable")
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``; (0, 0) where the kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    # guest and guest_nice (fields 8, 9) are already counted in user time.
    return steal, sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Stolen share of the CPU time between two ``cpu_ticks`` readings."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def peak_rss_mb(pid: int | str = "self") -> float:
    """High-water resident set size (``VmHWM``) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")
