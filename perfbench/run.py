#!/usr/bin/env python3
"""The repository's benchmark: two workloads driven through the
engine's public functions, every output checked, one JSON line out.

    python3 perfbench/run.py --workload registry_mix --seed 3 --seconds 20 --trace 0

Workloads (``BENCHMARK.json`` records why each exists):

* ``stream_open_loop`` -- the reference's own use. A separate generator
  process lands seeded events files on a fixed schedule (open loop);
  the reference pipeline (Kafka-shaped key/value -> UTF-8 cast ->
  ``length``) runs over ``sources.kafka.events_stream`` on a 200 ms
  processing-time trigger into a ``foreachBatch`` sink that records when
  each file's rows became visible. Latency is timed from each file's
  due time.
* ``registry_mix`` -- closed loop, one client: twelve registered batch
  queries over sf0.1-sized tables and four registered streaming queries
  that drain a seeded event backlog, one at a time, each forced with the
  ``noop`` sink after the fitted-model memos and shared caches were
  released. A separate process (``oracle.py``) computes the DuckDB
  oracle's answers, outside the timed phase.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that also turns on Spark's event log and a streaming progress
listener and prints the per-layer metrics. Everything a run writes
lives under ``.perfbench-tmp/`` in the checkout and is deleted on exit;
a traced run leaves its spans and layer fold in ``.perfbench-out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import eventlog  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import oracle  # noqa: E402
from oracle import frame_digest  # noqa: E402
from stats import percentile, samples_beyond, supports_tail  # noqa: E402

CPUS = "4"
# The driver JVM's heap: a fixed 2g (the cap is read by
# session.get_session) with a fixed 512m young generation. Left to grow
# lazily from the engine's default 8g cap, the heap's resident size at
# the end of a run varied by up to 40% between identical runs, which
# hid any real change in memory_mb; with a fixed young generation every
# run touches the same eden, and what varies is the data the run keeps.
# At these input sizes 2g is never the limit.
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
TRIGGER = "200 milliseconds"

# stream_open_loop: 4 files/s of 250 rows (1000 rows/s), below the rate
# at which the trigger loop falls behind on this engine. HISTORY files
# land before the query starts, and the generator keeps only the newest
# HISTORY files in the directory, so every timed trigger lists the same
# number of files, above Spark's 32-path threshold for a parallel
# listing job: the timed phase sees one listing regime of one size,
# instead of a listing that grows with the run's length.
OPEN_RATE = 4.0
OPEN_ROWS = 250
OPEN_HISTORY = 40
# The schedule's first OPEN_WARM_S seconds are untimed: the trigger loop
# is still warming up there (its latency was about a fifth higher over
# the first quarter of a cold 20 s schedule than over the rest).
OPEN_WARM_S = 5.0
OPEN_TAIL_P = 85.0
OPEN_GRACE_S = 20.0
GEN_LEAD_S = 0.2
GEN_MAX_LATE_S = 1.0

DRAIN_FILES = 8
DRAIN_ROWS = 1250
DRAIN_QUERIES = (
    "streaming_tumbling_hour",
    "streaming_dedup_watermark",
    "streaming_stateful_totals",
    "streaming_parquet_sink",
)

# registry_mix runs whole rounds of every query, their number fixed by
# --seconds alone (one round per MIX_ROUND_S, at least one), never by how
# fast the queries ran: a faster program must not buy itself a second,
# warm round. MIX_ROUND_S is about one round's busy time at sf0.1.
MIX_ROUND_S = 45.0

BATCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "agg_rollup",
    "agg_correlation",
    "window_gaps_islands",
    "text_repetition_filter",
    "text_gopher_rules",
    "dedup_rewrite_map",
    "ann_ivf_pq",
    "cluster_kmeans_embeddings",
    "graph_pagerank_transitions",
)
FAMILIES = ("agg", "join", "window", "text", "dedup", "similarity", "clustering", "graph")


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics: they
    are listed in BENCHMARK.json only. A workload that does not exercise
    a layer reports 0 for it."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


class Tracer:
    """In-memory spans around each call the benchmark makes into a
    layer; written out once, at exit. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": stack[-1]["id"] if stack else None, "start": time.time()}
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dir = ROOT / ".perfbench-tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.tmp = self.dir / "tmp"
        self.eventlog_dir = self.dir / "eventlog"
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.children: list[subprocess.Popen] = []
        # processes of the benchmark itself, left out of memory_mb
        self.not_program: set[int] = set()
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.windows: list[eventlog.Window] = []
        # open-loop listing counts, filled by a traced run
        self.triggers = 0
        self.new_files = 0.0
        self.listing_tasks = 0
        self.first_op_at: float | None = None
        self.steal0 = host.steal_seconds()

    def fail(self, what: str) -> None:
        self.correct = False
        print(f"CHECK FAILED: {what}", flush=True)

    def mark_first_op(self) -> None:
        if self.first_op_at is None:
            self.first_op_at = time.time()


# -- engine plumbing ---------------------------------------------------


def launch_environment(run: Run) -> None:
    """Point every temp and scratch location of the driver, the JVM and
    the Python workers into the run dir, and turn the event log on for
    a traced run -- all from the launch environment, so no engine file
    changes."""
    for d in (run.tmp, run.dir / "local", run.dir / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run.tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run.dir / "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={run.tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
        "--conf", f"spark.sql.warehouse.dir={run.dir / 'warehouse'}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if run.trace:
        run.eventlog_dir.mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run.eventlog_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def start_session(run: Run) -> None:
    from datafusion_streams_spark import get_session

    t0 = time.time()
    with run.tracer.span("get_session"):
        run.spark = get_session(app_name=f"perfbench-{run.workload}", cpus=CPUS)
    run.layers["session.start_s"] = time.time() - t0
    run.spark.sparkContext.setLogLevel("ERROR")


def stop_session(run: Run) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    with contextlib.suppress(Exception):
        for q in run.spark.streams.active:
            q.stop()
    with contextlib.suppress(Exception):
        run.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    run.spark = None


def reap_descendants() -> None:
    """Terminate and wait for any process this run started that is still
    alive (generator, JVM, Python workers)."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = [p for p in host.tree_pids(me) if p != me]
        if not pids:
            return
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.time() + 5
        while time.time() < deadline and any(
            p != me for p in host.tree_pids(me)
        ):
            with contextlib.suppress(ChildProcessError):
                os.waitpid(-1, os.WNOHANG)
            time.sleep(0.05)


class Progress:
    """Collects every trigger's progress through a StreamingQueryListener
    (attached in traced runs only)."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append((time.time(), json.loads(event.progress.json)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def between(self, t0: float, t1: float) -> list[dict]:
        return [p for t, p in list(self.events) if t0 <= t <= t1]


def fold_progress(run: Run, progress: list[dict]) -> None:
    """Per-trigger phase medians and state-store peaks."""
    def dur(key):
        return [p["durationMs"][key] for p in progress if key in p.get("durationMs", {})]

    def p50(xs):
        return statistics.median(xs) if xs else 0.0

    run.layers["streaming.triggers"] = len(progress)
    run.layers["streaming.trigger_ms.p50"] = p50(dur("triggerExecution"))
    run.layers["streaming.planning_ms.p50"] = p50(dur("queryPlanning"))
    run.layers["streaming.add_batch_ms.p50"] = p50(dur("addBatch"))
    run.layers["streaming.wal_commit_ms.p50"] = p50(dur("walCommit"))
    run.layers["streaming.commit_offsets_ms.p50"] = p50(dur("commitOffsets"))
    run.layers["sources.latest_offset_ms.p50"] = p50(dur("latestOffset"))
    run.layers["sources.latest_offset_ms.max"] = max(dur("latestOffset"), default=0.0)
    run.layers["sources.get_batch_ms.p50"] = p50(dur("getBatch"))
    ops = [s for p in progress for s in p.get("stateOperators", [])]
    if ops:
        run.layers["streaming.state_rows.max"] = max(s.get("numRowsTotal", 0) for s in ops)
        run.layers["streaming.state_memory_mb.max"] = (
            max(s.get("memoryUsedBytes", 0) for s in ops) / 2**20
        )
        run.layers["streaming.state_commit_ms.p50"] = p50([s.get("commitTimeMs", 0) for s in ops])


def fold_event_log(run: Run, n_ops: int) -> None:
    """Per-operation means of the event log's executor, shuffle and
    Python-worker totals over the timed windows."""
    if not run.windows:
        return
    for name in os.listdir(run.eventlog_dir):
        eventlog.fold(eventlog.read_events(str(run.eventlog_dir / name)), run.windows)
    ws = run.windows
    n = max(n_ops, 1)

    def total(attr):
        return sum(getattr(w, attr) for w in ws)

    run.layers.update({
        "operators.jobs": total("jobs") / n,
        "operators.stages": total("stages") / n,
        "operators.tasks": total("tasks") / n,
        "exec.run_s": total("run_ms") / 1e3 / n,
        "exec.cpu_s": total("cpu_ns") / 1e9 / n,
        "exec.gc_s": total("gc_ms") / 1e3 / n,
        "driver.gap_s": sum(w.driver_gap_ms() for w in ws) / 1e3 / n,
        "python.boot_ms": total("py_boot_ms") / n,
        "python.run_ms": total("py_run_ms") / n,
        "python.bytes_to_worker": total("py_bytes_sent") / n,
        "python.bytes_from_worker": total("py_bytes_recv") / n,
        "shuffle.write_bytes": total("shuffle_write_bytes") / n,
        "shuffle.write_ms": total("shuffle_write_ns") / 1e6 / n,
        "shuffle.fetch_wait_ms": total("fetch_wait_ms") / n,
        "spill_bytes": total("spill_bytes") / n,
    })
    run.listing_tasks = total("listing_tasks")


def calibrate(run: Run, key: str) -> None:
    from bench import cpu_calibration

    run.layers[key] = cpu_calibration()


def closed_loop(run: Run, names, op) -> None:
    """Run ``names`` in the listed order, in whole rounds whose number
    depends on ``--seconds`` only. The order is fixed: a query's first
    run in the session pays its code generation, and with a seeded
    order the seed would move each query's latency by where it landed."""
    for _ in range(max(1, round(run.seconds / MIX_ROUND_S))):
        for q in names:
            op(q)


def latency_summary(run: Run, lat_s: list[float], busy_s: float, unit: str,
                    tail_p: float | None) -> None:
    n = len(lat_s)
    if n == 0:
        run.fail("no operation completed")
        return
    run.e2e["latency_p50_ms"] = percentile(lat_s, 50) * 1e3
    run.e2e["ops_per_min"] = n / busy_s * 60.0
    print(f"latency_p50_ms = {run.e2e['latency_p50_ms']:.2f} ms (n={n} {unit})")
    if tail_p is not None and supports_tail(n, tail_p):
        print(f"latency_tail_ms = {percentile(lat_s, tail_p) * 1e3:.2f} ms "
              f"(p{tail_p:g}, n={n} {unit}, {samples_beyond(n, tail_p)} beyond)")
    else:
        print(f"latency_tail_ms: not reported (n={n} {unit} leaves fewer than "
              f"10 samples beyond any tail percentile)")
    print(f"ops_per_min = {run.e2e['ops_per_min']:.2f} 1/min ({n} {unit} in {busy_s:.2f} s)")


# -- workloads ---------------------------------------------------------
#
# Each workload is a ``prepare`` step, which writes the seeded inputs and
# computes the oracle's answers while the Spark session starts (it must
# not touch Spark), and a body that runs on the session.


def prepare_stream_open_loop(run: Run) -> dict:
    landing = run.dir / "landing"
    first_id = gen.write_open_loop_history(str(landing), run.seed, OPEN_HISTORY, OPEN_ROWS)
    n_warm = round(OPEN_RATE * OPEN_WARM_S)
    n_files = max(1, round(OPEN_RATE * run.seconds))
    report = run.dir / "generator.json"
    with run.tracer.span("generator.start"):
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "gen.py"), "--dir", str(landing),
             "--seed", str(run.seed), "--rate", str(OPEN_RATE), "--count", str(n_warm + n_files),
             "--rows", str(OPEN_ROWS), "--first-id", str(first_id),
             "--retain", str(OPEN_HISTORY), "--report", str(report)],
            stdin=subprocess.PIPE, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
            cwd=str(ROOT),
        )
    run.children.append(proc)
    run.not_program.add(proc.pid)
    return {"landing": landing, "first_id": first_id, "n_warm": n_warm, "n_files": n_files,
            "report": report, "proc": proc}


def stream_open_loop(run: Run, prep: dict) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.kafka import events_stream

    spark = run.spark
    landing, first_id = prep["landing"], prep["first_id"]
    n_warm, n_files = prep["n_warm"], prep["n_files"]
    proc = prep["proc"]
    end_rows = first_id + (n_warm + n_files) * OPEN_ROWS
    lock = threading.Lock()
    batches: list[tuple[float, object]] = []
    rows_seen = [0]
    backlog_max = [0]

    def sink(batch_df, batch_id):
        with run.tracer.span("foreachBatch", op=batch_id):
            if run.trace:
                newest = max((p.name for p in landing.glob("events-*.parquet")), default=None)
                landed = int(newest[7:19]) // OPEN_ROWS + 1 - OPEN_HISTORY if newest else 0
                seen = max(rows_seen[0] - first_id, 0) // OPEN_ROWS
                backlog_max[0] = max(backlog_max[0], (landed - seen) * OPEN_ROWS)
            pdf = batch_df.toPandas()
            t = time.time()
            with lock:
                batches.append((t, pdf))
                rows_seen[0] += len(pdf)

    progress = Progress(spark) if run.trace else None
    with run.tracer.span("events_stream"):
        ev = events_stream(spark, str(landing))
    # The reference pipeline: Kafka-shaped binary key/value, cast to
    # UTF-8, length of the value; the due-time stamp rides along.
    msgs = ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("stamp_us"),
        F.encode(F.concat(F.lit("Key "), F.col("event_id").cast("string")), "UTF-8").alias("key"),
        F.encode(F.concat(F.lit("Message "), F.col("event_id").cast("string")), "UTF-8").alias("value"),
    )
    out = msgs.select(
        "event_id",
        "stamp_us",
        F.col("key").cast("string").alias("key"),
        F.length(F.col("value").cast("string")).cast("long").alias("len_value"),
    )
    with run.tracer.span("writeStream.start"):
        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(run.dir / "checkpoint"))
            .trigger(processingTime=TRIGGER)
            .start()
        )

    def wait_rows(n: int, deadline: float) -> None:
        while rows_seen[0] < n and time.time() < deadline and q.exception() is None:
            time.sleep(0.02)

    wait_rows(first_id, time.time() + 120)
    if rows_seen[0] < first_id:
        raise RuntimeError(f"open-loop warm-up did not see the history files: {q.exception()}")

    calibrate(run, "host.cpu_calib_before_s")
    start = time.time() + GEN_LEAD_S  # file i of the schedule is due at start + i / rate
    proc.stdin.write(f"{start!r}\n".encode())
    proc.stdin.close()
    t_timed = run.first_op_at = start + n_warm / OPEN_RATE
    time.sleep(max(t_timed - time.time(), 0))
    steal0 = host.steal_seconds()
    wait_rows(end_rows, start + (n_warm + n_files) / OPEN_RATE + OPEN_GRACE_S)
    t_end = time.time()
    run.layers["host.steal_s"] = host.steal_seconds() - steal0
    with run.tracer.span("query.stop"):
        q.stop()
    err = proc.stderr.read()
    proc.wait(timeout=30)
    calibrate(run, "host.cpu_calib_after_s")
    if proc.returncode != 0:
        raise RuntimeError(f"generator failed: {err.decode(errors='replace')[-2000:]}")

    # -- checks and metrics, outside the timed phase --
    lateness = json.loads(prep["report"].read_text())["lateness_s"]
    run.layers["gen.lateness_ms.p50"] = percentile(lateness, 50) * 1e3
    run.layers["gen.lateness_ms.max"] = max(lateness) * 1e3
    print(f"generator lateness: p50 {run.layers['gen.lateness_ms.p50']:.2f} ms, "
          f"max {run.layers['gen.lateness_ms.max']:.2f} ms (n={len(lateness)} files)")
    if max(lateness) > GEN_MAX_LATE_S:
        run.fail(f"run invalid: generator fell {max(lateness):.2f} s behind its schedule")

    seen_at: dict[int, float] = {}
    for t, pdf in batches:
        for f in np.unique((pdf["event_id"].to_numpy() - first_id) // OPEN_ROWS):
            if f >= 0:
                seen_at.setdefault(int(f), t)
    ids = np.concatenate([p["event_id"].to_numpy() for _, p in batches])
    keys = np.concatenate([p["key"].to_numpy() for _, p in batches])
    lens = np.concatenate([p["len_value"].to_numpy() for _, p in batches])
    stamps = np.concatenate([p["stamp_us"].to_numpy() for _, p in batches])
    if len(ids) != len(np.unique(ids)):
        run.fail("an event arrived more than once")
    arrived = np.isin(np.arange(end_rows), ids)
    if not arrived[:first_id + n_warm * OPEN_ROWS].all():
        run.fail("a history or warm-up event never arrived")
    if not (lens == np.array([len(f"Message {i}") for i in ids])).all():
        run.fail("len_value differs from len('Message {id}')")
    if not (keys == np.array([f"Key {i}" for i in ids], dtype=object)).all():
        run.fail("key differs from 'Key {id}'")
    timed = ids >= first_id
    due_us = np.round((start + (ids[timed] - first_id) // OPEN_ROWS / OPEN_RATE) * 1e6)
    if np.abs(stamps[timed] - due_us).max(initial=0) > 1:
        run.fail("a file's stamp differs from its due time")
    complete = {
        i for i in seen_at
        if i >= n_warm and arrived[first_id + i * OPEN_ROWS: first_id + (i + 1) * OPEN_ROWS].all()
    }
    lat = [seen_at[i] - (start + i / OPEN_RATE) for i in sorted(complete)]
    if len(lat) >= 8:
        # the listed-file count is constant, so latency must not drift
        # with the file index; a drift here shows in these quarters
        quarters = [percentile(q, 50) * 1e3 for q in np.array_split(np.array(lat), 4)]
        print("latency_p50_ms by quarter of the schedule: "
              + ", ".join(f"{x:.1f}" for x in quarters))
    run.attempted = n_files
    run.failed = n_files - len(lat)
    if run.failed:
        print(f"{run.failed} files not fully visible by the deadline; counted as failed")
    last = max((seen_at[i] for i in complete), default=t_end)
    latency_summary(run, lat, max(last - t_timed, 1e-9), "files", OPEN_TAIL_P)
    print(f"rows_per_s = {len(lat) * OPEN_ROWS / max(last - t_timed, 1e-9):.1f} 1/s "
          f"({len(lat) * OPEN_ROWS} rows visible at the sink)")

    if run.trace:
        run.windows = [eventlog.Window(t_timed * 1e3, t_end * 1e3)]
        prog = progress.between(t_timed, t_end)
        fold_progress(run, prog)
        data = [p for p in prog if p.get("numInputRows", 0) > 0]
        run.layers["sources.files_per_trigger"] = (
            statistics.mean(p["numInputRows"] for p in data) / OPEN_ROWS if data else 0.0
        )
        run.layers["sources.backlog_rows.max"] = backlog_max[0]
        run.new_files = sum(p.get("numInputRows", 0) for p in prog) / OPEN_ROWS
        run.triggers = len(prog)


def prepare_registry_mix(run: Run) -> dict:
    """Write the inputs and start the oracle process on them. The
    oracle runs at the lowest CPU priority while the session starts and
    between the timed queries, is stopped while any query or the host
    calibration is timed, and finishes after the timed phase."""
    tables = run.dir / "tables"
    gen.write_batch_tables(str(tables), run.seed)
    backlog = run.dir / "backlog"
    gen.write_event_backlog(str(backlog), run.seed, DRAIN_FILES, DRAIN_ROWS)
    want = run.dir / "oracle.json"
    with open(run.dir / "oracle.err", "wb") as err:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "oracle.py"), "--tables", str(tables),
             "--backlog", str(backlog), "--out", str(want),
             "--batch", ",".join(BATCH_QUERIES), "--drain", ",".join(DRAIN_QUERIES)],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=err, cwd=str(ROOT),
        )
    run.children.append(proc)
    run.not_program.add(proc.pid)
    return {"tables": tables, "backlog": backlog, "oracle": proc, "want": want}


def signal_oracle(proc: subprocess.Popen, sig: int) -> None:
    """Continue (SIGCONT) or stop (SIGSTOP) the oracle process. A stop
    returns only once the process is stopped, so none of its work
    overlaps the timing that follows."""
    if proc.poll() is not None:
        return
    os.kill(proc.pid, sig)
    while sig == signal.SIGSTOP and proc.poll() is None and host.proc_state(proc.pid) != "T":
        time.sleep(0.001)


def warm_up(spark) -> None:
    """Start the Python workers and load the JVM's aggregate, join,
    window and write paths once, untimed, so that whichever query runs
    first does not pay for them alone."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").count()
    df = spark.range(0, 20000, 1, 4).selectExpr("id % 7 AS k", "id", "CAST(id AS STRING) AS s")
    dim = spark.range(7).withColumnRenamed("id", "k")
    df.groupBy("k").agg(F.sum("id"), F.countDistinct("s")).join(F.broadcast(dim), "k").collect()
    ranked = df.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("id")))
    ranked.write.format("noop").mode("overwrite").save()


def registry_mix(run: Run, prep: dict) -> None:
    """The timed phase. Each result's value hash is taken after its
    timing, before the next query releases the caches it may read, and
    checked against the oracle after the phase."""
    from datafusion_streams_spark import REGISTRY
    from datafusion_streams_spark.operators import release_model_memos, release_shared_caches

    spark = run.spark
    done = []
    inputs = {q: str(prep["tables"]) for q in BATCH_QUERIES}
    inputs.update({q: str(prep["backlog"]) for q in DRAIN_QUERIES})
    warm_up(spark)
    progress = Progress(spark) if run.trace else None
    oracle_proc = prep["oracle"]
    signal_oracle(oracle_proc, signal.SIGSTOP)
    calibrate(run, "host.cpu_calib_before_s")
    steal0 = host.steal_seconds()
    t_phase = time.time()
    sc = spark.sparkContext

    def op(name: str) -> None:
        run.attempted += 1
        with run.tracer.span("release", op=run.attempted):
            release_model_memos(spark)
            release_shared_caches(spark)
        # Start every query from a collected heap, so one query's garbage
        # is not collected on the next one's clock.
        gc.collect()
        spark._jvm.java.lang.System.gc()
        sc.setJobGroup(f"op{run.attempted}:{name}", name)
        signal_oracle(oracle_proc, signal.SIGSTOP)
        run.mark_first_op()
        t0 = time.time()
        try:
            with run.tracer.span("REGISTRY.fn", op=run.attempted):
                df = REGISTRY[name].fn(spark, inputs[name])
            t1 = time.time()
            with run.tracer.span("noop", op=run.attempted):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as e:  # the operation failed; the run goes on
            run.failed += 1
            print(f"{name}: {type(e).__name__}: {str(e)[:300]}; counted as failed")
            return
        finally:
            signal_oracle(oracle_proc, signal.SIGCONT)
        if run.trace:
            run.windows.append(eventlog.Window(t0 * 1e3, t2 * 1e3))
        # A drain whose awaitTermination timed out leaves its query running
        # and a partial memory sink behind: a failure, never a fast drain.
        stuck = spark.streams.active
        for s in stuck:
            s.stop()
        if stuck:
            run.failed += 1
            print(f"{name}: drain timed out; counted as failed")
            return
        done.append((name, t1 - t0, t2 - t1, frame_digest(df.toPandas())))
        print(f"op {run.attempted} {name}: {(t2 - t0) * 1e3:.1f} ms "
              f"(fn {(t1 - t0) * 1e3:.1f}, noop {(t2 - t1) * 1e3:.1f})")

    closed_loop(run, BATCH_QUERIES + DRAIN_QUERIES, op)
    t_end = time.time()
    print(f"timed phase: {t_end - t_phase:.1f} s wall, including the untimed "
          f"releases and result checks between queries")
    sc.setJobGroup("perfbench", "after the timed phase")
    run.layers["host.steal_s"] = host.steal_seconds() - steal0
    signal_oracle(oracle_proc, signal.SIGSTOP)
    calibrate(run, "host.cpu_calib_after_s")
    signal_oracle(oracle_proc, signal.SIGCONT)
    if run.trace:
        time.sleep(0.5)  # progress events arrive asynchronously
        fold_progress(run, progress.between(t_phase, t_end))

    # -- checks and metrics, outside the timed phase --
    if oracle_proc.wait(timeout=150) != 0:
        err = (run.dir / "oracle.err").read_text(errors="replace")
        raise RuntimeError(f"oracle failed: {err[-2000:]}")
    print(f"oracle: finished {time.time() - t_end:.1f} s after the timed phase")
    want = oracle.read(str(prep["want"]))
    lat: list[float] = []
    plan_s: dict[str, list[float]] = {f: [] for f in FAMILIES}
    exec_s: dict[str, list[float]] = {f: [] for f in FAMILIES}
    drain_s: dict[str, list[float]] = {q: [] for q in DRAIN_QUERIES}
    for name, fn_s, noop_s, digest in done:
        if digest != want[name]:
            run.failed += 1
            run.fail(f"{name}: result differs from the DuckDB oracle")
            continue
        lat.append(fn_s + noop_s)
        if name in drain_s:
            drain_s[name].append(fn_s + noop_s)
        else:
            family = REGISTRY[name].tags[0]
            plan_s[family].append(fn_s)
            exec_s[family].append(noop_s)
    latency_summary(run, lat, sum(lat), "queries", None)
    for f in FAMILIES:
        run.layers[f"operators.plan_s.{f}"] = statistics.mean(plan_s[f]) if plan_s[f] else 0.0
        run.layers[f"operators.exec_s.{f}"] = statistics.mean(exec_s[f]) if exec_s[f] else 0.0
    for q, xs in drain_s.items():
        run.layers[f"streaming.drain_s.{q}"] = statistics.median(xs) if xs else 0.0


WORKLOADS = {
    "stream_open_loop": (prepare_stream_open_loop, stream_open_loop),
    "registry_mix": (prepare_registry_mix, registry_mix),
}


# -- driver ------------------------------------------------------------


def finish_layers(run: Run, end_to_end) -> None:
    fold_event_log(run, run.attempted - run.failed)
    if run.triggers:
        listed = run.listing_tasks
        run.layers["sources.listing_tasks_per_trigger"] = listed / run.triggers
        run.layers["sources.listing_useful_ratio"] = run.new_files / listed if listed else 0.0
    for k in end_to_end:
        if k in run.e2e:
            run.layers[f"trace.{k}"] = run.e2e[k]


def write_trace(run: Run) -> None:
    out = ROOT / ".perfbench-out"
    out.mkdir(exist_ok=True)
    name = f"{run.workload}-seed{run.seed}-{os.getpid()}"
    (out / f"{name}.spans.json").write_text(json.dumps(run.tracer.spans))
    (out / f"{name}.layers.json").write_text(json.dumps(run.layers, indent=1, sort_keys=True))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    prepare, body = WORKLOADS[args.workload]
    end_to_end, per_layer = metric_units("end_to_end"), metric_units("per_layer")
    run = Run(args)
    run.dir.mkdir(parents=True)
    try:
        launch_environment(run)
        with host.PeakMemory(exclude=run.not_program) as mem, ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(prepare, run)
            start_session(run)
            body(run, prepared.result())
            run.e2e["setup_s"] = run.first_op_at - PROCESS_START
        run.e2e["memory_mb"] = mem.peak / 2**20
        leaked = host.engine_temp_dirs(str(run.tmp))
        run.layers["streaming.leaked_dirs"] = leaked
        print(f"setup_s = {run.e2e['setup_s']:.3f} s (n=1)")
        print(f"memory_mb = {run.e2e['memory_mb']:.1f} MB (peak PSS of the process tree)")
        print(f"failure_rate = {run.failed / max(run.attempted, 1):.4f} "
              f"({run.failed} of {run.attempted} operations failed)")
        print(f"host: steal {run.layers.get('host.steal_s', 0):.2f} s in the timed phase, "
              f"{host.steal_seconds() - run.steal0:.2f} s in the run; cpu_calibration "
              f"{run.layers.get('host.cpu_calib_before_s', 0):.4f} s before, "
              f"{run.layers.get('host.cpu_calib_after_s', 0):.4f} s after")
        print(f"engine temp dirs left in the run's TMPDIR: {leaked}")
        missing = [k for k in end_to_end if k not in run.e2e]
        if missing:
            run.fail(f"metrics not measured: {missing}")
        if run.trace:
            stop_session(run)  # flushes the event log
            finish_layers(run, end_to_end)
            write_trace(run)
            absent = [k for k in per_layer if k not in run.layers]
            if absent:
                print(f"per-layer metrics this workload does not exercise (reported as 0): "
                      f"{', '.join(absent)}")
            metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                       for k, u in per_layer.items()}
        else:
            metrics = {k: {"value": float(run.e2e.get(k, 0.0)), "unit": u}
                       for k, u in end_to_end.items()}
        result = {"correct": run.correct, "attempted": max(run.attempted, 1),
                  "failed": run.failed, "metrics": metrics}
    finally:
        stop_session(run)
        for p in run.children:
            if p.poll() is None:
                p.kill()
            p.wait(timeout=10)
        reap_descendants()
        shutil.rmtree(run.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            run.dir.parent.rmdir()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
