"""Host capability fingerprints stamped into every measurement
artifact (bench + probes).

Two numbers, because they move independently (proven twice):

- ``host_st_ms``: single-thread microbench — best-of-3 wall for
  ``sum(range(10**7))``. Catches host MIGRATION (the r11 driver box
  swap read ~171 ms vs the prior class ~120 ms and inflated every
  wall uniformly ~1.4x).
- ``host_mt_ms``: all-cores microbench — best-of-2 wall for ncpu
  simultaneous ``sum(range(10**7))`` processes. Catches PARALLEL-
  capacity swings the single-thread number cannot see: during the r12
  re-anchor a run with the QUICKEST st fingerprint of the day
  (144.9 ms) read 1.45x over its successors, with 30%+ system time,
  ~40k interrupts/s and majority-idle cores mid-suite — microVM
  scheduling contention, invisible to one pinned thread. Healthy
  reference pair on the r12 box: st 150 / mt 395 ms; a contended box
  reads mt far above its quiet ratio.

Rule: read a cross-round wall-clock ratio only when both runs'
fingerprint pairs are comparable; otherwise compare host-independent
metrics (bytes read, spill volumes, candidate counts) first.
"""

from __future__ import annotations


def host_st_ms() -> float:
    import timeit

    return round(
        min(timeit.repeat("sum(range(10**7))", number=1, repeat=3)) * 1000,
        1,
    )


def _worker_sum(_):
    return sum(range(10**7))


def host_mt_ms() -> float:
    import multiprocessing as mp
    import time

    n = mp.cpu_count()
    best = float("inf")
    for _ in range(2):
        with mp.get_context("fork").Pool(n) as pool:
            t0 = time.perf_counter()
            pool.map(_worker_sum, range(n))
            best = min(best, (time.perf_counter() - t0) * 1000)
    return round(best, 1)

