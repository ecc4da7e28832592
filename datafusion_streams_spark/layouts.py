"""Memoized derived on-disk layouts.

Several queries exercise file-layout machinery (hive partitioning for
DPP, bucketing, merge-on-read base/delta directories, format
round-trips). The LAYOUT is the fixture, not the work: at scale the
partitioned/bucketed table pre-exists, so its one-time write must not
sit inside the timed query path — round-4 bench showed join_dpp_prune
spending ~75% of its 2.0 s warm time re-writing the same hive layout
every rep.

`memoized_layout` builds a derived layout once per (sf_dir, name) per
process and hands back the path on every subsequent call. Layouts are
plain directories on local disk, so the memo is process-wide (not
session-bound) and safe across SparkSession restarts within a process.
The layout dirs live under the process scratch root (scratch.py) and
are removed with it at process exit.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from datafusion_streams_spark.scratch import scratch_dir

_LAYOUT_MEMO: dict[tuple[str, str], str] = {}
_MEMO_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple[str, str], threading.Lock] = {}


def memoized_layout(sf_dir: str, name: str, build: Callable[[str], None]) -> str:
    """Path to the derived layout `name` for `sf_dir`, building it with
    `build(path)` exactly once per process. Thread-safe: a per-key lock
    serializes concurrent first calls so exactly one build() runs and
    no tempdir leaks (the bench/test loops are sequential today, but a
    parallel query harness must not race the Spark write)."""
    key = (sf_dir, name)
    with _MEMO_LOCK:
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        path = _LAYOUT_MEMO.get(key)
        if path is not None and os.path.isdir(path):
            return path
        path = scratch_dir(f"{name}_")
        build(path)
        _LAYOUT_MEMO[key] = path
        return path
