"""Fold a Spark event log into per-window layer totals (stdlib only).

The benchmark runs one operation at a time, so every job, stage and task
in the log belongs to the operation whose time window holds it: a job
by its submission time, a task by its launch time. That attributes the
jobs a streaming query runs on its own thread too, which carry the
query's run id as their job group rather than one the benchmark sets.

The log must be one uncompressed file (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

LISTING_PREFIX = "Listing leaf files"

# SQL metric names (Spark 4.1) on the Python-evaluating plan nodes.
# The timing metrics are in milliseconds, the sizes in bytes.
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


@dataclass
class Window:
    """Totals for one operation's ``[start_ms, end_ms]`` interval."""

    start_ms: float
    end_ms: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    py_boot_ms: int = 0
    py_run_ms: int = 0
    py_bytes_sent: int = 0
    py_bytes_recv: int = 0
    listing_jobs: int = 0
    listing_tasks: int = 0
    job_spans: list = field(default_factory=list)

    def holds(self, t_ms: float) -> bool:
        return self.start_ms <= t_ms <= self.end_ms

    def driver_gap_ms(self) -> float:
        """Window length minus the union of its job spans (clipped to
        the window): time no job was running."""
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(
            (max(s, self.start_ms), min(e, self.end_ms)) for s, e in self.job_spans
        ):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return (self.end_ms - self.start_ms) - busy


def read_events(path: str):
    """Yield the JSON events of a log file."""
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _window_for(windows: list[Window], t_ms: float) -> Window | None:
    for w in windows:
        if w.holds(t_ms):
            return w
    return None


def fold(events, windows: list[Window]) -> list[Window]:
    """Accumulate ``events`` into the windows that hold them."""
    job_start: dict[int, tuple[Window, float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            w = _window_for(windows, e["Submission Time"])
            if w is None:
                continue
            infos = e.get("Stage Infos", [])
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            w.jobs += 1
            w.stages += len(infos)
            if desc.startswith(LISTING_PREFIX):
                w.listing_jobs += 1
                w.listing_tasks += sum(s.get("Number of Tasks", 0) for s in infos)
            job_start[e["Job ID"]] = (w, e["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            started = job_start.pop(e["Job ID"], None)
            if started is not None:
                w, t0 = started
                w.job_spans.append((t0, e["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            w = _window_for(windows, info.get("Launch Time", -1))
            if w is None:
                continue
            m = e.get("Task Metrics") or {}
            w.tasks += 1
            w.run_ms += m.get("Executor Run Time", 0)
            w.cpu_ns += m.get("Executor CPU Time", 0)
            w.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            w.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            w.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
            w.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            w.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in _PY_BOOT:
                    w.py_boot_ms += int(acc.get("Update", 0))
                elif name == _PY_RUN:
                    w.py_run_ms += int(acc.get("Update", 0))
                elif name == _PY_SENT:
                    w.py_bytes_sent += int(acc.get("Update", 0))
                elif name == _PY_RECV:
                    w.py_bytes_recv += int(acc.get("Update", 0))
    return windows
