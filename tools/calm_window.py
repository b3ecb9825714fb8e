"""Calm-window watchdog for graded bench/scaling runs (memory rule:
never grade a single run on this noisy shared host).

Polls the raw-CPU hardware control (pure multiprocess numpy — no
Spark/JVM) until the delivered lo->hi process speedup clears ``share``
of the ideal ``hi / lo``, then exits 0 so a shell `&&` can launch the
graded run inside the calm window.  ``hi`` is the number of CPUs this
process may run on and ``lo`` is 2 (or ``hi`` if fewer).  Exits 1 on
timeout (callers may still run and report the same-window control
alongside, per BASELINE.md protocol).

Usage: python tools/calm_window.py [share=0.76] [max_wait_min=45]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 1)[0])
from bench_scaling import raw_cpu_speedup  # noqa: E402


def main() -> int:
    share = float(sys.argv[1]) if len(sys.argv) > 1 else 0.76
    max_wait = float(sys.argv[2]) if len(sys.argv) > 2 else 45.0
    hi = len(os.sched_getaffinity(0))
    lo = min(2, hi)
    threshold = share * hi / lo
    t0 = time.time()
    while True:
        s = raw_cpu_speedup(lo, hi, units=32)["speedup"]
        waited = (time.time() - t0) / 60.0
        print(f"[calm_window] raw {lo}->{hi} = {s:.3f} "
              f"(threshold {threshold:.3f}, waited {waited:.1f} min)",
              flush=True)
        if s >= threshold:
            return 0
        if waited >= max_wait:
            print("[calm_window] timeout — window never calmed", flush=True)
            return 1
        time.sleep(120)


if __name__ == "__main__":
    sys.exit(main())
