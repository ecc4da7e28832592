"""Host-speed calibrations: fixed CPU and memory workloads whose timings
let wall times taken on different hosts, or at different moments on a
shared host, be compared.

Measure them before a SparkSession exists: the JVM's background
threads (GC, codegen) slow the same workload measurably. Importers:
``perfbench/run.py`` (``cpu_calibration``) and ``tools/scale_probe.py``
(all four).
"""

from __future__ import annotations

import os
import time


def _calib_spin(_arg: int = 0) -> int:
    """The fixed calibration workload: one pure-Python integer loop.
    Shared verbatim by the single-core and parallel calibrations so
    pcalib/calib is a clean parallel-slowdown ratio."""
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return acc


def cpu_calibration() -> float:
    """Single-core host-speed denominator: seconds for a fixed
    pure-Python workload, min-of-3. Per-core throughput varies between
    freshly provisioned hosts (an idle host once ran identical queries
    ~1.5x slower than the previous one), so totals are comparable across
    hosts only divided by this."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        _calib_spin()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def parallel_cpu_calibration() -> float:
    """Parallel host-speed denominator: wall seconds for os.cpu_count()
    processes each running the single-core workload concurrently,
    min-of-3. The single-core number is blind to co-tenant CPU steal
    that degrades parallel throughput, which is what Spark uses.

    The worker pool is started and warmed with one task round before
    timing, so fork + import cost stays out of the measurement."""
    import multiprocessing as mp

    n = os.cpu_count() or 1
    with mp.Pool(n) as pool:
        pool.map(_calib_spin, range(n))  # warm: fork/startup excluded
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            pool.map(_calib_spin, range(n))
            best = min(best, time.perf_counter() - t0)
    return round(best, 4)


# Memory-bandwidth calibration buffer: 256 MiB — far past any L3 slice,
# so a copy is DRAM-bandwidth-bound. Held in a module global so the
# parallel pool's initializer allocates it once per worker and the
# timed reps measure copies, not first-touch page faults.
_MEMBW_WORDS = 32 * 1024 * 1024  # int64 words = 256 MiB
# parallel variant: 64 MiB per worker — the aggregate across workers is
# what must exceed L3, and a first-touch of N x 256 MiB is setup cost,
# not signal
_MEMBW_WORDS_PARALLEL = 8 * 1024 * 1024
_MEMBW_BUF = None


def _membw_init(words: int = _MEMBW_WORDS) -> None:
    global _MEMBW_BUF
    import numpy as np

    _MEMBW_BUF = np.ones(words, dtype=np.int64)


def _membw_spin(_arg: int = 0) -> None:
    b = _MEMBW_BUF.copy()
    del b


def mem_calibrations() -> tuple[float, float]:
    """Single-process memory denominator pair ``(fault, copy)``.

    ``copy`` is the min-of-3 resident-buffer copy of 256 MiB: DRAM
    bandwidth, which a pure-Python L1-resident loop cannot see.

    ``fault`` times allocating and first-touching the fresh 256 MiB
    buffer and its copy destination: page-allocation throughput. On a
    host whose page supply is throttled (overcommit, ballooning) it
    collapses while resident copies and the CPU calibrations stay flat,
    so the two numbers separate 'DRAM is saturated' from 'the hypervisor
    is slow-walking page supply'."""
    global _MEMBW_BUF
    t0 = time.perf_counter()
    _membw_init()
    _membw_spin()  # warm: first-touch of buffer AND copy-dest arena
    fault = time.perf_counter() - t0
    try:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _membw_spin()
            best = min(best, time.perf_counter() - t0)
        return round(fault, 4), round(best, 4)
    finally:
        _MEMBW_BUF = None


def parallel_mem_calibrations() -> tuple[float, float]:
    """Aggregate memory denominator pair ``(fault, copy)`` with
    os.cpu_count() processes each working a 64 MiB buffer concurrently.
    ``copy`` (min-of-3 wall for N simultaneous resident copies)
    saturates the memory controllers the way a full-width Spark shuffle
    does. ``fault`` times pool fork + N-wide first-touch, the parallel
    page-allocation path."""
    import multiprocessing as mp

    n = os.cpu_count() or 1
    t0 = time.perf_counter()
    with mp.Pool(
        n, initializer=_membw_init, initargs=(_MEMBW_WORDS_PARALLEL,)
    ) as pool:
        pool.map(_membw_spin, range(n))  # warm: first-touch copy arenas
        fault = time.perf_counter() - t0
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            pool.map(_membw_spin, range(n))
            best = min(best, time.perf_counter() - t0)
    return round(fault, 4), round(best, 4)
