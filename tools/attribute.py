#!/usr/bin/env python3
"""Per-query attribution: time each registered query's plan build and
its ``noop`` write, then split that wall time by layer from Spark's own
event log.

    python tools/attribute.py [--sf-dir D] [--only a,b]

``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``; without ``--only``
every registered query runs. Each query is timed once, the way
``perfbench/run.py`` times its registry_mix: the shared caches are
released and the heap is collected, then ``fn`` builds the DataFrame
(eager model fits and streaming drains run here) and the ``noop`` sink
forces every row and column. After the session
stops, the event log is folded per query window with
``perfbench/eventlog.py`` and one JSON record per query is printed.

Executor run, CPU, GC, shuffle and Python worker times are sums over
tasks, so they can exceed the wall by up to the core count. Python
worker times are reported beside executor run time and never added to
it: a task's JVM thread waits while its Python worker runs, so the two
overlap. ``dominant`` names the largest layer in wall-equivalent time:
``driver`` (no job running: plan build, driver-side fits, drain
polling), or a task-time sum divided by the cores: ``python`` (worker
run time), ``shuffle`` (write + fetch wait), ``gc``, or ``compute``
(the rest of executor run time). Worker boot time is not reported:
Spark 4.1 times a reused worker's initialisation from that worker's
first boot, so on a warm session it measures the worker's age (6.7 s
of it was recorded in a 0.28 s task), not a cost.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.append(str(ROOT / "perfbench"))  # after ROOT: its tests/ must not shadow ours

import eventlog  # noqa: E402


def record(name: str, w: eventlog.Window, fn_s: float, noop_s: float, cores: int) -> dict:
    """The attribution record of one query's folded window."""
    wall_ms = w.end_ms - w.start_ms
    if w.run_ms > cores * wall_ms:
        raise ValueError(
            f"{name}: executor run time {w.run_ms} ms exceeds {cores} cores x "
            f"{wall_ms:.0f} ms of wall; the window holds tasks of another operation"
        )
    gap_ms = w.driver_gap_ms()
    shuffle_ms = w.shuffle_write_ns / 1e6 + w.fetch_wait_ms
    layers = {
        "driver": gap_ms,
        "python": w.py_run_ms / cores,
        "shuffle": shuffle_ms / cores,
        "gc": w.gc_ms / cores,
        "compute": max(w.run_ms - w.py_run_ms - shuffle_ms - w.gc_ms, 0) / cores,
    }
    return {
        "query": name,
        "fn_s": round(fn_s, 3),
        "noop_s": round(noop_s, 3),
        "jobs": w.jobs,
        "stages": w.stages,
        "tasks": w.tasks,
        "exec_run_s": w.run_ms / 1e3,
        "exec_cpu_s": round(w.cpu_ns / 1e9, 3),
        "exec_gc_s": w.gc_ms / 1e3,
        "driver_gap_s": round(gap_ms / 1e3, 3),
        "shuffle_write_bytes": w.shuffle_write_bytes,
        "shuffle_write_ms": round(w.shuffle_write_ns / 1e6, 1),
        "shuffle_fetch_wait_ms": w.fetch_wait_ms,
        "spill_bytes": w.spill_bytes,
        "py_run_ms": w.py_run_ms,
        "py_bytes_to_worker": w.py_bytes_sent,
        "py_bytes_from_worker": w.py_bytes_recv,
        "dominant": max(layers, key=layers.get),
    }


def time_query(spark, name: str, sf_dir: str) -> tuple[eventlog.Window, float, float]:
    """Run one query from released caches and a collected heap; return
    its window and the ``fn`` and ``noop`` seconds."""
    from datafusion_streams_spark import REGISTRY
    from datafusion_streams_spark.operators import release_shared_caches

    release_shared_caches(spark)
    gc.collect()
    spark._jvm.java.lang.System.gc()
    t0 = time.time()
    df = REGISTRY[name].fn(spark, sf_dir)
    t1 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    return eventlog.Window(t0 * 1e3, t2 * 1e3), t1 - t0, t2 - t1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--only", help="comma-separated query names (default: all registered)")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("give --sf-dir or set SPARK_GRAFT_SF_DIR")

    from datafusion_streams_spark import REGISTRY, get_session
    from datafusion_streams_spark.scratch import scratch_dir
    from run import warm_up

    names = args.only.split(",") if args.only else list(REGISTRY)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    log_dir = scratch_dir("eventlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    spark = get_session(app_name="attribute")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    timed, failed = [], 0
    try:
        warm_up(spark)
        for name in names:
            try:
                timed.append((name, *time_query(spark, name, args.sf_dir)))
            except Exception as e:  # one failed query must not lose the others
                failed += 1
                print(json.dumps({"query": name, "error": f"{type(e).__name__}: {e}"[:500]}),
                      flush=True)
    finally:
        spark.stop()
    for log in os.listdir(log_dir):
        eventlog.fold(eventlog.read_events(os.path.join(log_dir, log)), [w for _, w, _, _ in timed])
    for name, w, fn_s, noop_s in timed:
        print(json.dumps(record(name, w, fn_s, noop_s, cores)), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
