"""Streaming queries registered in the correctness gate.

Each runs a genuine Structured Streaming micro-batch execution
(Trigger.AvailableNow — the reference's drain-then-stop mode) and
returns the materialized result, which must equal the batch oracle:
the prefix-consistency property from the Structured Streaming paper
(SIGMOD 2018), checked mechanically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import dsum
from datafusion_streams_spark.operators import query
from datafusion_streams_spark.operators.reference import _REF_PIPELINE_ORACLE
from datafusion_streams_spark.operators.windows import _SESSION_ORACLE, _SLIDING_ORACLE, _TUMBLING_ORACLE
from datafusion_streams_spark.sources.kafka import events_stream, kafka_like_stream
from datafusion_streams_spark.scratch import scratch_dir
from datafusion_streams_spark.streaming.microbatch import drain


@query(
    "streaming_ref_pipeline",
    oracle=_REF_PIPELINE_ORACLE,
    tags=("streaming", "reference"),
)
def streaming_ref_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full demonstrated path, actually streamed:
    micro-batch source -> cast key/value to UTF-8 -> length projection
    -> drain-then-stop (`/root/reference/tests/basic_tests.rs:53-72`,
    EOF mode `…/src/kafka/execution.rs:93-96`), via a real
    MicroBatchExecution. Stateless, so output mode is append."""
    msgs = kafka_like_stream(spark, sf_dir)
    out = msgs.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.length(F.col("value").cast("string")).cast("long").alias("len_value"),
    )
    return spark.table(drain(out, output_mode="append"))


@query(
    "streaming_tumbling_hour",
    oracle=_TUMBLING_ORACLE,
    tags=("streaming", "window"),
)
def streaming_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window over a streamed read of events —
    must produce exactly the batch result (prefix consistency).

    Output mode is complete (window state re-emitted per trigger) so no
    watermark is needed and no late rows are dropped; the watermarked
    append-mode variant is exercised in tests/test_streaming.py, where
    late-data dropping is the *expected* behavior under test.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return spark.table(drain(agg, output_mode="complete"))


@query(
    "streaming_session_window",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "window", "session"),
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) computed by a real streaming
    aggregation — merging-window state, the most complex built-in
    stateful operator — and required to equal the batch gaps-and-islands
    oracle exactly.

    Notes: watermarks demand TIMESTAMP (not NTZ) event time — cast is
    safe under the UTC session; session aggregations support
    append/complete only (not update), and complete re-emits all
    sessions, which is what the bounded-replay comparison needs.
    """
    ev = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 second")
    )
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return spark.table(drain(agg, output_mode="complete"))


@query(
    "streaming_sliding_window",
    oracle=_SLIDING_ORACLE,
    tags=("streaming", "window", "sliding"),
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour / 30-minute windows computed by a real streaming
    aggregation (each event enters two window states), drained with
    AvailableNow and required to equal the batch self-union oracle —
    the third of the three built-in window shapes exercised end-to-end
    through the streaming engine."""
    ev = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 second")
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return spark.table(drain(agg, output_mode="complete"))


def _view_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """View events joined (``how``) to the same user's purchase events
    within the following hour. Both sides are event streams under a
    1 s watermark; their columns are ``v_``/``p_`` + ``user_id``, ``id``
    and ``ts``."""

    def side(event_type: str, prefix: str) -> DataFrame:
        ev = (
            events_stream(spark, sf_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )
        return ev.withWatermark(f"{prefix}_ts", "1 second")

    return side("view", "v").join(
        side("purchase", "p"),
        F.expr(
            "v_user_id = p_user_id AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"
        ),
        how,
    )


_STREAM_JOIN_ORACLE = """
SELECT
    v.user_id,
    v.event_id AS view_id,
    p.event_id AS purchase_id,
    v.ts       AS view_ts,
    p.ts       AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


@query(
    "streaming_stream_join",
    oracle=_STREAM_JOIN_ORACLE,
    tags=("streaming", "join", "interval"),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution): view events joined to
    the same user's purchase events within the following hour — both
    sides genuine streams with watermarks, drained with AvailableNow,
    equal to the batch self-join oracle.

    Scale: the interval condition + watermarks bound the join state to
    one hour of events per side per user; without them a stream-stream
    join buffers forever. State shuffles on user_id (the equi-part of
    the predicate).
    """
    joined = _view_purchase_join(spark, sf_dir, "inner").select(
        F.col("v_user_id").alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("v_ts").alias("view_ts"),
        F.col("p_ts").alias("purchase_ts"),
    )
    return spark.table(drain(joined, output_mode="append"))


_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query(
    "streaming_dedup_keys",
    oracle=_STREAM_DEDUP_ORACLE,
    tags=("streaming", "dedup", "stateful"),
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup: emit each (user_id, event_type) pair
    the first time it appears on the stream — dropDuplicates over a
    genuine micro-batch execution, equal to the batch DISTINCT oracle.

    State is one entry per distinct key (bounded by key cardinality,
    not stream length). The time-bounded variant
    (dropDuplicatesWithinWatermark, which also evicts state by event
    time) is exercised in tests/test_stateful.py — its output depends
    on arrival order for keys spanning the watermark, so the exact
    global-dedup form is the oracle-checkable one.
    """
    ev = events_stream(spark, sf_dir)
    dd = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return spark.table(drain(dd, output_mode="append"))


_CDC_UPSERT_ORACLE = """
SELECT user_id, event_type AS last_event_type, ts AS last_ts,
       value AS last_value, n_changes
FROM (
    SELECT *,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
    FROM events
) WHERE rn = 1
"""


@query(
    "streaming_cdc_upsert",
    oracle=_CDC_UPSERT_ORACLE,
    tags=("streaming", "stateful", "cdc"),
)
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert-view maintenance: treat the event stream as a keyed
    changelog and materialize the LATEST state per key (plus change
    count) through a genuine streaming aggregation — what a MERGE-into
    sink computes, expressed as max_by state so Spark maintains it
    incrementally instead of rewriting a table per batch.

    Scale: state is one row per key (bounded by key cardinality);
    max_by's ordering key (ts, event_id) makes the winner unique and
    arrival-order independent, which is why the batch oracle can be
    exact. Complete mode re-emits the view — the bounded-replay
    comparison surface.
    """
    ev = events_stream(spark, sf_dir)
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    latest = ev.groupBy("user_id").agg(
        F.max_by(F.col("event_type"), ordkey).alias("last_event_type"),
        F.max("ts").alias("last_ts"),
        F.max_by(F.col("value"), ordkey).alias("last_value"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return spark.table(drain(latest, output_mode="complete"))


_STREAM_TOPK_ORACLE = """
SELECT user_id, n_events, total_value FROM (
    SELECT user_id,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
) ORDER BY total_value DESC, user_id LIMIT 10
"""


@query(
    "streaming_topk_users",
    oracle=_STREAM_TOPK_ORACLE,
    tags=("streaming", "topk", "agg"),
)
def streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming global top-k: highest-value users maintained by a
    streaming aggregation with a complete-mode sort+limit on every
    trigger (the leaderboard shape; sorting a streaming relation is
    legal only in complete mode, which this exercises).

    State is one row per user (key cardinality), the sort sees only
    the aggregated relation — never raw events — and the decimal value
    sum keeps the ranking exact under any micro-batch split."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )
    top = agg.orderBy(F.desc("total_value"), "user_id").limit(10)
    return spark.table(drain(top, output_mode="complete"))


_STREAM_STATIC_ORACLE = """
SELECT
    e.event_type,
    c.c_mktsegment,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.event_type, c.c_mktsegment
"""


@query(
    "streaming_static_join",
    oracle=_STREAM_STATIC_ORACLE,
    tags=("streaming", "join", "broadcast", "enrichment"),
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined per micro-batch
    against a static broadcast dimension (customer), then aggregated —
    the canonical "enrich the firehose with reference data" pattern.

    Unlike a stream-stream join this keeps NO join state: the static
    side is re-planned (and stays broadcast) each micro-batch, so a
    dimension update between triggers is picked up automatically.
    The aggregation state is keyspace-sized (event_type x segment).
    Output mode complete re-emits the running totals each trigger;
    after AvailableNow drains the bounded replay it equals the batch
    join exactly (prefix consistency).
    """
    ev = events_stream(spark, sf_dir)
    dim = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
    )
    joined = ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
    agg = joined.groupBy("event_type", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value")
    )
    return spark.table(drain(agg, output_mode="complete"))


_STATEFUL_TOTALS_ORACLE = """
SELECT user_id,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


@query(
    "streaming_stateful_totals",
    oracle=_STATEFUL_TOTALS_ORACLE,
    tags=("streaming", "stateful", "pandas-udf"),
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running (count, cents-sum) maintained in imperative Python state
    across micro-batches — the extension point for stateful logic the
    built-in aggregates can't express (sessionized ML features, decay
    counters, custom CDC). Emits the running totals each batch in
    update mode; the final answer per key is the row with the maximum
    event count, which equals the batch aggregate whatever the
    micro-batch splits were (running totals are monotone in events
    consumed — the prefix-consistency argument made explicit).

    Parity: money accumulates as integer CENTS inside state (float
    accumulation order across batches would be engine-visible);
    the oracle mirrors round(value*100) exactly. State is one
    (long, long) pair per user — key-cardinality bounded.
    """
    import pandas as pd

    def running_totals(key, pdfs, state):
        if state.exists:
            n, cents = state.get
        else:
            n, cents = 0, 0
        for pdf in pdfs:
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round(0).astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    ev = events_stream(spark, sf_dir).select("user_id", "value")
    updates = ev.groupBy("user_id").applyInPandasWithState(
        running_totals,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    emitted = spark.table(drain(updates, output_mode="update"))
    final = F.max_by(F.struct("n_events", "total_cents"), F.col("n_events")).alias("f")
    return (
        emitted.groupBy("user_id")
        .agg(final)
        .select("user_id", F.col("f.n_events").alias("n_events"), F.col("f.total_cents").alias("total_cents"))
    )


_STREAM_PARQUET_SINK_ORACLE = """
SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


@query(
    "streaming_parquet_sink",
    oracle=_STREAM_PARQUET_SINK_ORACLE,
    tags=("streaming", "sink", "files"),
)
def streaming_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming parquet SINK exercised end-to-end: the event stream is
    drained through a real file-sink micro-batch execution (exactly-once
    via the checkpoint + _spark_metadata transaction log), then the
    sink's output is read BACK as a batch table and aggregated — the
    aggregate must hash-match the oracle computed from the source, so
    a lost or double-written micro-batch cannot hide. This is the B6
    sink row made driver-checkable (previously pytest-only).

    Scale: the file sink appends one directory of part files per
    micro-batch and commits them atomically in the metadata log;
    readers see only committed batches. State: none (append mode,
    stateless projection).
    """
    ev = events_stream(spark, sf_dir).select("event_type", "value")
    out = scratch_dir("stream_pq_")
    drain(ev, ("parquet", out))
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("total_value"),
    )


@query(
    "streaming_checkpoint_recovery",
    oracle=_STREAM_PARQUET_SINK_ORACLE,
    tags=("streaming", "sink", "checkpoint", "stateful"),
)
def streaming_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a mid-stream KILL: the event stream (split
    into 4 source files, one micro-batch each) starts draining into a
    parquet sink, is stopped after ~the first batch, then a SECOND
    query resumes from the same checkpoint and finishes the drain. The
    read-back aggregate must hash-match the batch oracle: offsets
    already committed are not re-read (no duplicates) and offsets not
    committed are replayed (no loss), wherever the kill landed.

    This is the deliberate delta from the reference made checkable: the
    reference restarts from Beginning on every recv loop
    (`/root/reference/src/kafka/execution.rs:77-79`) and would
    double-count on restart; Spark's checkpoint + sink commit log is
    the exactly-once upgrade documented in SURVEY §4.2 — here the
    driver verifies it, not just pytest.
    """
    import time as _time

    src = scratch_dir("ckpt_src_")
    out = scratch_dir("ckpt_out_")
    ckpt = scratch_dir("ckpt_log_")
    # split the fixture into 4 files -> 4 micro-batches at 1 file/trigger
    table(spark, sf_dir, "events").select("event_type", "value").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)

    def start():
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/part-*.parquet")
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    # let roughly one micro-batch commit, then kill mid-drain (if the
    # drain already finished, recovery is a no-op — result unchanged)
    deadline = _time.time() + 30
    while not q1.recentProgress and _time.time() < deadline:
        _time.sleep(0.05)
    q1.stop()
    q2 = start()
    try:
        if not q2.awaitTermination(120):
            raise TimeoutError("checkpoint recovery: resumed drain did not finish within 120 s")
    finally:
        q2.stop()

    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("total_value"),
    )


def _sessionize_state_oracle() -> str:
    from datafusion_streams_spark.operators.lifecycle import _GAP_US

    return f"""
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
),
lagged AS (
    SELECT user_id, event_id, ts_us,
        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
            AS prev_us
    FROM e
),
flagged AS (
    SELECT user_id, ts_us,
        CASE WHEN prev_us IS NULL OR ts_us > prev_us + {_GAP_US}
             THEN 1 ELSE 0 END AS is_start
    FROM lagged
),
numbered AS (
    SELECT user_id, ts_us,
        SUM(is_start) OVER (
            PARTITION BY user_id ORDER BY ts_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
    FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    MIN(ts_us) AS s_start_us,
    MAX(ts_us) AS s_end_us
FROM numbered GROUP BY user_id, session_seq
"""


def sessionize_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionize stateful pipeline WITHOUT a sink: events stream →
    applyInPandasWithState per-user session state machine → update-mode
    emissions. Shared verbatim by the registered query (memory-sink
    drain + final dedup agg) and the sink-isolated scale probe
    (foreachBatch parquet drain, tools/scale_probe.py — r12 verdict
    item 4: the 100× state-path claim must not carry a driver
    memory-sink asterisk), so the probed plan IS the registered plan.
    """
    import numpy as np
    import pandas as pd

    def sessionize(key, pdfs, state):
        if state.exists:
            last_us, seq, start_us, n = state.get
        else:
            last_us, seq, start_us, n = None, 0, None, 0
        gap = 30 * 60 * 1_000_000
        out_rows = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # only ts drives the session math (counts/min/max are
            # order-insensitive within a timestamp tie), so a single
            # numpy column sort replaces the full-DataFrame
            # sort_values; session segments are contiguous runs of the
            # sorted array, so boundary arithmetic replaces the pandas
            # groupby-agg. Measured r12: the pandas forms were 30x the
            # cost and the dominant per-trigger term at 1M-row batches
            # (12.1 s -> see SCALE_NOTES round-12 follow-up).
            ts = np.sort(pdf["ts_us"].to_numpy("int64"))
            starts = np.empty(len(ts), dtype=bool)
            starts[0] = last_us is None or ts[0] > last_us + gap
            starts[1:] = ts[1:] > ts[:-1] + gap
            # segment 0 (if present) continues the carried-over session
            cuts = np.flatnonzero(starts)
            first_continues = not starts[0]
            if first_continues:
                cuts = np.concatenate(([0], cuts))
            cuts = np.append(cuts, len(ts))
            for j in range(len(cuts) - 1):
                lo, hi = int(cuts[j]), int(cuts[j + 1])
                cnt, mn, mx = hi - lo, int(ts[lo]), int(ts[hi - 1])
                if j == 0 and first_continues:
                    n += cnt
                    last_us = mx
                else:
                    if last_us is not None:
                        out_rows.append((key[0], seq, n, start_us, last_us))
                    seq += 1
                    start_us, n, last_us = mn, cnt, mx
        state.update((last_us, seq, start_us, n))
        out_rows.append((key[0], seq, n, start_us, last_us))  # open-session snapshot
        yield pd.DataFrame(
            out_rows,
            columns=["user_id", "session_seq", "n_events", "s_start_us", "s_end_us"],
        )

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id long, session_seq long, n_events long, s_start_us long, s_end_us long",
        stateStructType="last_us long, seq long, start_us long, n long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


@query(
    "streaming_sessionize_state",
    oracle=_sessionize_state_oracle(),
    tags=("streaming", "stateful", "session", "events"),
)
def streaming_sessionize_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful sessionization via applyInPandasWithState — the
    imperative twin of the built-in session_window aggregate
    (streaming_session_window): per-user state machine carrying
    (last_ts, session_seq, session_start, n_events) across
    micro-batches, closing a session and emitting its final summary
    when a 30-minute gap arrives, and snapshotting the open session
    each batch. This is the extension-point shape for session logic
    session_window CANNOT express (e.g. dynamic gaps, per-session
    feature accumulation) — the reference has no stateful surface at
    all, so this is pure Spark upside. Pipeline construction lives in
    ``sessionize_updates`` (shared with the sink-isolated scale probe).

    Correctness under micro-batching: each batch's timestamps are
    sorted per user (ts alone drives the session math — segment
    counts/min/max are insensitive to the ordering of equal
    timestamps); across batches the file source delivers time-ordered
    files (its documented modification-time order), so per-user
    arrival is monotone and the state machine's output is
    prefix-consistent. The final answer takes max_by(n_events) per
    (user, session) — completed sessions emit once, open-session
    snapshots are superseded monotonically, so the result equals the
    batch gaps-and-islands oracle whatever the batch splits were.

    Scale: state is four longs per ACTIVE user (closed sessions leave
    state immediately via emission), shuffles once on user_id per
    batch — the canonical keyed-state layout. Within a batch the
    session breaks are found VECTORIZED (one numpy column sort +
    shift-compare; segments are contiguous runs of the sorted array,
    read off with boundary arithmetic — no per-group pandas
    sort/groupby, which measured 30x the numpy cost and dominated
    1M-row triggers, r12); only the cross-batch carry — a handful of
    segment summaries per user per batch — runs imperatively, so a
    hot user's million-event batch costs one numpy pass, not a
    million interpreted iterations.
    """
    updates = sessionize_updates(spark, sf_dir)
    emitted = spark.table(drain(updates, output_mode="update"))
    final = F.max_by(
        F.struct("n_events", "s_start_us", "s_end_us"), F.col("n_events")
    ).alias("f")
    return (
        emitted.groupBy("user_id", "session_seq")
        .agg(final)
        .select(
            "user_id",
            "session_seq",
            F.col("f.n_events").alias("n_events"),
            F.col("f.s_start_us").alias("s_start_us"),
            F.col("f.s_end_us").alias("s_end_us"),
        )
    )


_APPEND_WATERMARK_ORACLE = """
WITH w AS (
    SELECT date_trunc('hour', ts) AS ws, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
m AS (SELECT MAX(ts) AS mx FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start, event_type, n_events
FROM w, m
WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 10 MINUTE
"""


@query(
    "streaming_append_watermark",
    oracle=_APPEND_WATERMARK_ORACLE,
    tags=("streaming", "window", "watermark"),
)
def streaming_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermarked tumbling window — the production
    streaming-aggregation shape (complete mode re-emits all state per
    trigger; append emits each window ONCE, when the watermark passes
    its end, which is what bounds state at 100 TB/day throughput).
    Under Trigger.AvailableNow the final no-data micro-batch advances
    the watermark to max(event_time) - delay, so exactly the windows
    with end <= max - 10min are emitted — a DETERMINISTIC function of
    the data, mirrored by the oracle's WHERE clause. The last partial
    hour stays unemitted in state by design; that withheld tail is the
    observable difference between append and complete mode
    (streaming_tumbling_hour), and the oracle pins it.

    Scale: watermark eviction drops every closed window from the state
    store at the trigger after emission — state holds only open
    windows x group keys, independent of stream length.
    """
    ev = events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n_events",
    )
    return spark.table(drain(out, output_mode="append"))


@query(
    "streaming_foreachbatch_merge",
    oracle=_CDC_UPSERT_ORACLE,
    tags=("streaming", "stateful", "cdc", "sink"),
)
def streaming_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO via foreachBatch: each micro-batch is applied to a
    keyed parquet table as an idempotent upsert (versioned directory
    per batch — the poor man's transaction log; with a lakehouse
    format this body becomes one MERGE statement). Where
    streaming_cdc_upsert keeps the latest-state view in OPERATOR
    state, this keeps it in a TABLE — the sink-side pattern that
    survives stream restarts and serves readers mid-stream.

    Arrival-order independence is by construction: the per-key merge
    function (max_by on the (ts, event_id) total order + additive
    change counts) is associative and commutative, so the final table
    equals the batch oracle under ANY micro-batch split — same
    argument as the stateful-totals monotone-prefix proof.

    Scale: each batch touches |batch keys| rows of the state table via
    one full-outer join (with a real MERGE + clustered table this
    prunes to matching files); nothing is ever collected.
    """
    base = scratch_dir("merge_")
    state = {"dir": None}
    ordkey = F.struct(F.col("ts"), F.col("event_id"))

    def apply_batch(bdf, batch_id):
        sess = bdf.sparkSession
        agg = bdf.groupBy("user_id").agg(
            F.max_by("event_type", ordkey).alias("last_event_type"),
            F.max("ts").alias("last_ts"),
            F.max_by("value", ordkey).alias("last_value"),
            F.max_by("event_id", ordkey).alias("last_event_id"),
            F.count(F.lit(1)).cast("long").alias("n_changes"),
        )
        if state["dir"] is not None:
            old = sess.read.parquet(state["dir"])
            o, b = old.alias("o"), agg.alias("b")
            j = o.join(b, "user_id", "full")
            take_b = F.col("b.last_ts").isNotNull() & (
                F.col("o.last_ts").isNull()
                | (
                    F.struct(F.col("b.last_ts"), F.col("b.last_event_id"))
                    > F.struct(F.col("o.last_ts"), F.col("o.last_event_id"))
                )
            )
            merged = j.select(
                "user_id",
                F.when(take_b, F.col("b.last_event_type"))
                .otherwise(F.col("o.last_event_type"))
                .alias("last_event_type"),
                F.when(take_b, F.col("b.last_ts"))
                .otherwise(F.col("o.last_ts"))
                .alias("last_ts"),
                F.when(take_b, F.col("b.last_value"))
                .otherwise(F.col("o.last_value"))
                .alias("last_value"),
                F.when(take_b, F.col("b.last_event_id"))
                .otherwise(F.col("o.last_event_id"))
                .alias("last_event_id"),
                (
                    F.coalesce(F.col("o.n_changes"), F.lit(0))
                    + F.coalesce(F.col("b.n_changes"), F.lit(0))
                ).cast("long").alias("n_changes"),
            )
        else:
            merged = agg
        out = f"{base}/v{batch_id}"
        merged.write.mode("overwrite").parquet(out)
        state["dir"] = out

    ev = events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    drain(ev, apply_batch)
    final = spark.read.parquet(state["dir"])
    return final.select(
        "user_id", "last_event_type", "last_ts", "last_value", "n_changes"
    )


_STREAM_LEFT_JOIN_ORACLE = """
WITH v AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
),
p AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
wm AS (
    SELECT LEAST((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM p))
           - INTERVAL 1 SECOND AS w
)
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
FROM v JOIN p
  ON v.user_id = p.user_id AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.user_id, v.event_id AS view_id, CAST(NULL AS BIGINT) AS purchase_id
FROM v, wm
WHERE v.ts + INTERVAL 1 HOUR <= wm.w
  AND NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = v.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  )
"""


@query(
    "streaming_stream_left_join",
    oracle=_STREAM_LEFT_JOIN_ORACLE,
    tags=("streaming", "join", "outer", "watermark"),
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the hardest built-in
    streaming operator: matched (view, purchase) pairs emit as they
    arrive, and an unmatched view emits NULL-extended only once the
    join watermark proves no future purchase can still match it. The
    emission rule is deterministic and the oracle pins it exactly:
    null rows are the unmatched views whose whole match window
    [v_ts, v_ts + 1h] falls at or below the final global watermark
    (min of the two sides' max event times, minus the 1 s delay) —
    verified empirically to the row against Spark's state eviction.
    Views newer than that stay buffered at drain (the withheld tail is
    part of the contract, exactly like streaming_append_watermark).

    Scale: watermark + interval condition bound both state stores to
    one hour of rows per user; without them a stream-stream outer join
    buffers both streams forever. State shuffles once on user_id.
    """
    joined = _view_purchase_join(spark, sf_dir, "left_outer").select(
        F.col("v_user_id").alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
    )
    return spark.table(drain(joined, output_mode="append"))


# ---------------------------------------------------------------------------
# stream-stream FULL OUTER interval join (round 4)
# ---------------------------------------------------------------------------

_STREAM_FULL_JOIN_ORACLE = """
WITH v AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
),
p AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
wm AS (
    SELECT LEAST((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM p))
           - INTERVAL 1 SECOND AS w
)
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
FROM v JOIN p
  ON v.user_id = p.user_id AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.user_id, v.event_id AS view_id, CAST(NULL AS BIGINT) AS purchase_id
FROM v, wm
WHERE v.ts + INTERVAL 1 HOUR <= wm.w
  AND NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = v.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  )
UNION ALL
SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id, p.event_id AS purchase_id
FROM p, wm
WHERE p.ts <= wm.w
  AND NOT EXISTS (
      SELECT 1 FROM v
      WHERE v.user_id = p.user_id
        AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  )
"""


@query(
    "streaming_stream_full_join",
    oracle=_STREAM_FULL_JOIN_ORACLE,
    tags=("streaming", "join", "outer", "watermark", "stateful"),
)
def streaming_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: matched (view, purchase)
    pairs emit on arrival; an unmatched VIEW null-extends once its
    whole match window [v_ts, v_ts + 1h] clears the final global
    watermark (same eviction rule as the left-outer query, pinned by
    the oracle); an unmatched PURCHASE null-extends once the watermark
    passes its own timestamp — its match window [p_ts - 1h, p_ts]
    only admits views at or before p_ts, so watermark > p_ts proves no
    future view can pair with it. Rows newer than the final watermark
    stay buffered at drain on both sides — the withheld tail is part
    of the contract.

    Scale: the interval condition + 1 s watermark bound BOTH state
    stores (one hour of views, one instant of purchases per user);
    state shuffles once on user_id, and eviction is incremental per
    micro-batch — no unbounded outer-join buffer.
    """
    joined = _view_purchase_join(spark, sf_dir, "full_outer").select(
        F.coalesce(F.col("v_user_id"), F.col("p_user_id")).alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.col("p_id").alias("purchase_id"),
    )
    return spark.table(drain(joined, output_mode="append"))


_DEDUP_WM_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@query(
    "streaming_dedup_watermark",
    oracle=_DEDUP_WM_ORACLE,
    tags=("streaming", "dedup", "stateful", "watermark"),
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded streaming dedup: dropDuplicatesWithinWatermark on
    (event_type, user_id), the API whose state is EVICTABLE — unlike
    plain dropDuplicates (streaming_dedup_keys), entries older than the
    watermark delay are dropped from the state store, which is what
    makes infinite-stream dedup feasible at 100 TB/day.

    Determinism contract: the query is oracle-checkable because the
    configured delay (365 days) exceeds the fixture's entire event-time
    span, so no key ever spans the eviction horizon and the output is
    exactly one emission per distinct key under any micro-batch split —
    equal to the batch COUNT(DISTINCT). With a SHORTER delay the output
    becomes arrival-order-dependent for keys whose duplicates straddle
    the horizon; that eviction behavior is pinned separately in
    tests/test_stateful.py. Downstream count per event_type rides the
    same drain.
    """
    ev = events_stream(spark, sf_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    dd = (
        ev.select("event_type", "user_id", "ts")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["event_type", "user_id"])
    )
    name = drain(dd, output_mode="append")
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


_CSV_STREAM_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY event_type
"""


@query(
    "streaming_csv_source",
    oracle=_CSV_STREAM_ORACLE,
    tags=("streaming", "source", "csv"),
)
def streaming_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV file-stream source: a landing directory of CSV drops
    consumed as a micro-batch stream with an EXPLICIT schema (file
    streams cannot infer) and header skipping per file — the classic
    "vendor FTP feed" ingestion. Completes the streaming x format
    matrix next to the parquet file stream (every other streaming
    query) and the pluggable Python source.

    The streamed aggregate must hash-match the batch oracle computed
    from the original parquet: text round-trip of the integer columns
    is lossless, no file is skipped or double-read (maxFilesPerTrigger
    forces multiple genuine micro-batches), and the header line is
    dropped exactly once per file.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    land = scratch_dir("csv_land_")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    ev.repartition(4).write.mode("overwrite").option("header", "true").csv(land)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "2")
        .csv(land)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
    )
    return spark.table(drain(agg, output_mode="complete"))


_AVRO_STREAM_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
FROM orders
GROUP BY o_orderpriority
"""


@query(
    "streaming_avro_source",
    oracle=_AVRO_STREAM_ORACLE,
    tags=("streaming", "source", "datasource"),
)
def streaming_avro_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro landing-directory micro-batch stream through the clean-room
    pure-Python Avro DataSource (sources/avro_py.py): orders are first
    written as 4 container part files by the avro SINK (executor-side),
    then consumed as a stream whose planner admits at most
    maxFilesPerTrigger files per batch — at least 2 genuine micro-
    batches — and aggregated. Completes the streaming x format matrix
    (parquet / CSV / kafka-emu DataSource / avro) with the same
    drain-then-stop contract as every streaming query.

    The streamed aggregate must hash-match the batch oracle on the
    original parquet: binary decode, file-offset planning, and replay
    bookkeeping lose and duplicate nothing.
    """
    from datafusion_streams_spark.sources.avro_py import register_avro_py

    register_avro_py(spark)
    land = scratch_dir("avro_land_")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    orders.repartition(4).write.format("avro_py").option("path", land).mode(
        "append"
    ).save()
    stream = (
        spark.readStream.format("avro_py")
        .option("path", land)
        .option("maxFilesPerTrigger", "2")
        .load()
    )
    agg = stream.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
    )
    # Python stream readers fall back to single-batch under
    # AvailableNow (ignoring the per-trigger cap), so drain with a real
    # processing-time trigger loop until every input row is visible
    total = orders.count()

    def caught_up(sp, tbl):
        rows = sp.table(tbl).agg(F.sum("n_orders")).first()[0]
        return rows is not None and rows >= total

    return spark.table(drain(agg, output_mode="complete", until=caught_up))


_STREAM_BITMAP_DISTINCT_ORACLE = """
SELECT
    CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
    CAST(COUNT(DISTINCT user_id // 63) AS BIGINT) AS n_containers
FROM events
GROUP BY CAST(ts AS DATE)
"""


@query(
    "streaming_bitmap_distinct",
    oracle=_STREAM_BITMAP_DISTINCT_ORACLE,
    tags=("streaming", "stateful", "sketch", "pandas-udf"),
)
def streaming_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental distinct-per-day over a stream: per-day state
    is a sparse packed bitmap (container -> 63-bit word) OR-merged
    across micro-batches in applyInPandasWithState — the streaming
    twin of `agg_bitmap_distinct`, proving the mergeable-sketch
    algebra works as imperative operator state too (a lossless
    alternative to streaming approx_count_distinct when ids are ints).

    Containers use 63 bits so every word stays a non-negative signed
    long (Spark state schema has no unsigned type); state per day is
    O(distinct/63) longs — bounded by key cardinality, not events.
    Popcount totals are MONOTONE under OR-accumulation, so the final
    answer per day is the max_by(n_users) emission whatever the
    micro-batch splits were — the same prefix-consistency argument as
    `streaming_stateful_totals`, here for a set-valued accumulator.
    """
    import pandas as pd

    def bitmap_state(key, pdfs, state):
        if state.exists:
            containers, words = state.get
            bitmap = dict(zip(containers, words))
        else:
            bitmap = {}
        for pdf in pdfs:
            for uid in pdf["user_id"]:
                uid = int(uid)
                c, b = uid // 63, uid % 63
                bitmap[c] = bitmap.get(c, 0) | (1 << b)
        state.update((list(bitmap), list(bitmap.values())))
        n_users = sum(bin(w).count("1") for w in bitmap.values())
        yield pd.DataFrame(
            {
                "day": [key[0]],
                "n_users": [n_users],
                "n_containers": [len(bitmap)],
            }
        )

    ev = events_stream(spark, sf_dir).select(
        F.col("ts").cast("date").cast("string").alias("day"), "user_id"
    )
    updates = ev.groupBy("day").applyInPandasWithState(
        bitmap_state,
        outputStructType="day string, n_users long, n_containers long",
        stateStructType="containers array<long>, words array<long>",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    emitted = spark.table(drain(updates, output_mode="update"))
    final = F.max_by(F.struct("n_users", "n_containers"), F.col("n_users")).alias("f")
    return (
        emitted.groupBy("day")
        .agg(final)
        .select(
            "day",
            F.col("f.n_users").alias("n_users"),
            F.col("f.n_containers").alias("n_containers"),
        )
    )


_MULTI_SOURCE_ORACLE = """
SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(event_id) AS BIGINT) AS sum_event_id
FROM events
GROUP BY event_type
"""


@query(
    "streaming_multi_source_union",
    oracle=_MULTI_SOURCE_ORACLE,
    tags=("streaming", "source", "union", "csv"),
)
def streaming_multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-in topology: TWO independent streaming sources — a CSV
    landing directory (even event ids, text round-trip) and the
    parquet file stream (odd event ids) — UNION into one streaming
    DAG feeding one stateful aggregate. Each source keeps its own
    offset tracking and batch planning (Spark logs per-source offsets
    in each micro-batch), the union itself is stateless, and the
    single aggregate state downstream must account for every row from
    both sources exactly once: the drained result hash-matches the
    batch aggregate over the undivided events table — no row lost,
    duplicated, or double-counted across the seam, whichever source's
    micro-batches land first.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    land = scratch_dir("union_land_")
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    ev.filter(F.col("event_id") % 2 == 0).repartition(2).write.mode(
        "overwrite"
    ).option("header", "true").csv(land)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    csv_side = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("maxFilesPerTrigger", "1")
        .csv(land)
    )
    parquet_side = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 != 0)
        .select("event_id", "user_id", "event_type")
    )
    union = csv_side.unionByName(parquet_side)
    agg = union.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
    )
    return spark.table(drain(agg, output_mode="complete"))


# ---------------------------------------------------------------------------
# streaming drift monitor: live PSI vs a standing reference (round 4)
# ---------------------------------------------------------------------------

_EV_PSI_BAND = 50  # value band width; bands capped at 10

_STREAM_DRIFT_ORACLE_BUCKETED = f"""    SELECT event_type,
        CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS cohort,
        LEAST(CAST(floor(value / {_EV_PSI_BAND}.0) AS BIGINT), 9) AS band
    FROM events"""


def _stream_drift_oracle() -> str:
    from datafusion_streams_spark.operators.pipeline import psi_oracle

    return psi_oracle("event_type", _STREAM_DRIFT_ORACLE_BUCKETED)


@query(
    "streaming_drift_psi",
    oracle=_stream_drift_oracle(),
    tags=("streaming", "monitoring", "quality", "agg"),
)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `pipeline_drift_psi` monitor run AGAINST THE FIREHOSE: the
    live event stream's value-band histogram (per event type) is
    maintained as a complete-mode streaming aggregation — keyspace-
    bounded state, |event_type| x 10 bands — and compared after the
    drain against the standing reference cohort's histogram (the
    even-event_id half, a static batch aggregate a real deployment
    would load from yesterday's metrics table). PSI >= 0.2 flags the
    feed whose value distribution shifted — the alarm that catches a
    broken upstream producer BEFORE its events poison downstream
    aggregates.

    The full-outer band-universe join, add-half smoothing, 6-dp terms
    and integer-micro summation are the shared `psi_report` helper —
    one definition for the batch monitor, its streaming twin, and both
    oracles (`psi_oracle`). Prefix consistency: after AvailableNow
    drains the bounded replay, the streamed histogram equals the batch
    histogram exactly, so the whole report is hash-checkable.

    Scale: per-micro-batch work is one map-side bucketization into a
    60-row state store; the PSI arithmetic runs on the tiny drained
    histograms. At 100 TB/day the state is still 60 rows.
    """
    from datafusion_streams_spark.operators.pipeline import psi_report

    band = F.least(
        F.floor(F.col("value") / _EV_PSI_BAND).cast("long"), F.lit(9).cast("long")
    ).alias("band")
    cur_agg = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == 1)
        .select("event_type", band)
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c_cur"))
    )
    cur = spark.table(drain(cur_agg, output_mode="complete"))

    ref = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 2 == 0)
        .select("event_type", band)
        .groupBy("event_type", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ref"))
    )
    cnt = (
        ref.join(cur, ["event_type", "band"], "full_outer")
        .na.fill(0, ["c_ref", "c_cur"])
        .select(
            "event_type",
            "band",
            F.col("c_ref").cast("long").alias("c_ref"),
            F.col("c_cur").cast("long").alias("c_cur"),
        )
    )
    return psi_report(cnt, "event_type")
