"""The micro-batch drain runner, mirroring the reference's execution semantics.

Reference semantics -> Spark mapping (SURVEY.md §4.2):
  1. batch closes on min(time_window, batch_size rows)
     (`/root/reference/src/kafka/execution.rs:87`)
     -> trigger(processingTime) + maxOffsetsPerTrigger / maxFilesPerTrigger
  2. drain-then-stop on partition EOF (`…/execution.rs:93-96`)
     -> Trigger.AvailableNow
  3. start at earliest offset (`…/execution.rs:77-79`)
     -> startingOffsets=earliest (and, unlike the reference, Spark
     checkpoints offsets -> exactly-once instead of replay-always)
  4. per-source-partition parallelism (`…/execution.rs:47-49,75`)
     -> built into every Spark source

The reference's per-micro-batch replan hook (StreamingProvider::recv,
`…/execution.rs:119-132`) is MicroBatchExecution itself — nothing to
implement.
"""

from __future__ import annotations

import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from datafusion_streams_spark.scratch import scratch_dir

# Stateful operators' shuffle width (= state store instance count,
# fixed for the query's lifetime at first start). State volume scales
# with distinct groups, not input rows, and each state store instance
# costs per-trigger setup/commit, which dominates small triggers
# (measured ~0.5 s/trigger at 32 stores vs 8 locally).
STATE_PARTITIONS = "8"

# Trigger cadence when a caller predicate decides completion.
UNTIL_TRIGGER = "100 milliseconds"


def _finished(
    spark: SparkSession,
    q: StreamingQuery,
    until: Callable[[SparkSession, str], bool] | None,
    timeout_sec: float,
) -> bool:
    """Wait for the drain; False when the deadline passes first."""
    if until is None:
        return q.awaitTermination(timeout_sec)  # raises if the query failed
    deadline = time.monotonic() + timeout_sec
    while q.isActive and time.monotonic() < deadline:
        if until(spark, q.name):
            return True
        time.sleep(0.2)
    if q.exception() is not None:
        raise q.exception()
    return False


def drain(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None] | tuple[str, str] | None = None,
    output_mode: str = "append",
    timeout_sec: float = 120,
    until: Callable[[SparkSession, str], bool] | None = None,
) -> str:
    """Drain-then-stop (reference EOF mode, A4): run ``df`` to
    completion into ``sink`` and return the query name, which for the
    default memory sink is the table to read with ``spark.table``.

    ``sink`` is None (an in-memory table), a ``foreachBatch`` callable
    — the programmatic sink the reference's test loop emulates by
    iterating ``execute_stream`` batches (its
    `tests/basic_tests.rs:63-72`) — or a ``(format, path)`` pair.
    ``output_mode`` is validated against the plan's stateful operators
    for every sink, foreachBatch included.

    Without ``until`` the query runs under Trigger.AvailableNow and
    stops on its own. ``until(spark, name)`` instead drives a real
    processing-time trigger loop until the predicate holds, for
    sources that do not support AvailableNow (a Python
    DataSourceStreamReader falls back to one batch under it, ignoring
    its per-trigger limits).

    Fails loudly: raises on timeout, on a predicate that never holds
    and on a failed query, and never hands back a partial memory
    table. On every exit path the query is stopped and its checkpoint
    deleted; a memory table outlives a successful drain until the
    caller drops it, because the lazy result reads it.

    The drain records nothing itself. Spark describes each trigger's
    write with the query name, ``runId`` and batch id and keeps its
    plan in the session's SQL status store, and every trigger's
    progress reaches the session's StreamingQueryListeners.
    """
    spark = df.sparkSession
    name = f"mb_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_dir("ckpt_")
    writer = (
        df.writeStream.queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
    )
    if sink is None:
        writer = writer.format("memory")
    elif callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        fmt, path = sink
        writer = writer.format(fmt).option("path", path)
    if until is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=UNTIL_TRIGGER)

    q = None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # the conf is captured at query start; restore immediately
        spark.conf.set("spark.sql.shuffle.partitions", STATE_PARTITIONS)
        try:
            q = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not _finished(spark, q, until, timeout_sec):
            what = "until predicate did not hold" if until else "drain did not finish"
            raise TimeoutError(f"streaming query {name}: {what} within {timeout_sec} s")
    except BaseException:
        if sink is None:
            spark.catalog.dropTempView(name)  # never hand back a partial table
        raise
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return name
