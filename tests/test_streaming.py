"""Streaming-semantics tests: the reference's execution behaviors
(micro-batch boundaries, drain-then-stop, earliest-offset start) plus
the Spark capabilities that exceed it (watermarks, stateful dedup) —
SURVEY.md §2 Tier A and §4.2.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from datafusion_streams_spark.sources.kafka import kafka_like_stream, to_reference_schema
from datafusion_streams_spark.streaming import microbatch as mb
from datafusion_streams_spark.streaming.microbatch import drain
from tests.conftest import SF_DIR_SMALL


def test_drain_then_stop_processes_everything(spark):
    """A4: PartitionEOF drain mode == Trigger.AvailableNow — the stream
    consumes all available input, then terminates on its own."""
    msgs = kafka_like_stream(spark, SF_DIR_SMALL)
    name = drain(msgs)  # raises unless the query stops on its own in time
    got = spark.table(name).count()
    expected = spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet").count()
    assert got == expected


def test_microbatch_boundaries_foreachbatch(spark):
    """A2/A7: micro-batch re-plan loop. maxFilesPerTrigger bounds each
    batch (the file-source analogue of the reference's row cap — its
    Kafka analogue is maxOffsetsPerTrigger); foreachBatch observes every
    batch id, mirroring the reference's execute_stream iteration
    (/root/reference/tests/basic_tests.rs:63-72)."""
    seen: list[tuple[int, int]] = []

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .withColumn("key", F.encode(F.concat(F.lit("Key "), F.col("value").cast("string")), "UTF-8"))
    )

    def collect(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    drain(src, collect, timeout_sec=20, until=lambda *_: len([c for _, c in seen if c > 0]) >= 2)
    nonempty = [c for _, c in seen if c > 0]
    assert len(nonempty) >= 2, f"expected multiple micro-batches, saw {seen}"


def test_reference_schema_nonnull_binary(spark):
    """A5: absent key/payload -> empty bytes, never NULL
    (/root/reference/src/kafka/execution.rs:135-142)."""
    df = spark.createDataFrame(
        [(None, bytearray(b"v")), (bytearray(b"k"), None)],
        "key binary, value binary",
    )
    out = to_reference_schema(df).collect()
    assert all(r.key is not None and r.value is not None for r in out)
    assert out[0].key == bytearray(b"") and out[1].value == bytearray(b"")


def test_streaming_batch_equivalence_stateless(spark):
    """Prefix consistency (Structured Streaming paper §: the streaming
    result of a stateless pipeline over a bounded source equals the
    batch result over the same data)."""
    msgs = kafka_like_stream(spark, SF_DIR_SMALL).select(
        F.col("key").cast("string").alias("key"),
        F.length(F.col("value").cast("string")).alias("len_value"),
    )
    name = drain(msgs)
    streamed = spark.table(name).toPandas().sort_values("key").reset_index(drop=True)

    from datafusion_streams_spark.sources.kafka import kafka_like_from_events

    batch = (
        kafka_like_from_events(spark, SF_DIR_SMALL)
        .select(
            F.col("key").cast("string").alias("key"),
            F.length(F.col("value").cast("string")).alias("len_value"),
        )
        .toPandas()
        .sort_values("key")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(streamed, batch)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked append-mode window agg: rows later than the watermark
    delay are dropped — the late-data semantics the reference lacks
    entirely (SURVEY.md §2.3 'Spark exceeds the reference here')."""
    import glob

    src_dir = str(tmp_path)

    def write_batch(subdir: str, rows: list[tuple[int, str]], mtime: float) -> None:
        df = spark.createDataFrame(rows, "id long, ts_str string").select(
            "id", F.col("ts_str").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/{subdir}")
        for p in glob.glob(f"{src_dir}/{subdir}/part-*.parquet"):
            os.utime(p, (mtime, mtime))

    now = time.time()
    # FileStreamSource orders by modification time: b1 (on-time, pushes
    # watermark to 09:59) -> b2 (keep-alive batch; late-event filtering
    # uses the PREVIOUS micro-batch's watermark per SPARK-40925, so the
    # watermark must be set one batch before the late row arrives) ->
    # b3 (one late row at 08:00, below watermark -> dropped) -> b4
    # (event at 12:00, closes the 10:00 window).
    write_batch("b1", [(i, f"2024-01-01 10:{i:02d}:00") for i in range(10)], now - 400)
    write_batch("b2", [(50, "2024-01-01 10:09:00")], now - 300)
    write_batch("b3", [(100, "2024-01-01 08:00:00")], now - 200)
    write_batch("b4", [(200, "2024-01-01 12:00:00")], now - 100)

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*/part-*.parquet")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = drain(stream)
    result = spark.table(name).select(F.col("window.start").alias("ws"), "n").toPandas()
    hours = {ts.hour for ts in result["ws"]}
    assert 10 in hours, f"on-time window missing from {result}"
    assert 8 not in hours, f"late row leaked into {result}"
    assert int(result[result["ws"].dt.hour == 10]["n"].iloc[0]) == 11


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Stateful streaming dedup: duplicate event ids collapse within the
    watermark window (the streaming counterpart of dedup_exact)."""
    src_dir = str(tmp_path)
    rows = [(i % 5, "2024-01-01 10:00:00") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, ts_str string").select(
        "id", F.col("ts_str").cast("timestamp").alias("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/b1")

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .parquet(f"{src_dir}/b*/part-*.parquet")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
    )
    assert spark.table(drain(stream)).count() == 5


def test_reference_fixture_pipeline_exact(spark):
    """The reference's end-to-end test, replayed exactly: 45 messages
    (15 x 3 partitions), scan -> cast -> length
    (/root/reference/tests/basic_tests.rs:23-75). Unlike the reference
    (which only print_batches'es — no assertions), we assert values."""
    from datafusion_streams_spark.sources.kafka import reference_test_messages

    msgs = reference_test_messages(spark).repartition(3, "partition")
    assert msgs.rdd.getNumPartitions() == 3  # reference's target_partitions(3)
    out = msgs.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.length(F.col("value").cast("string")).alias("len_value"),
    ).collect()
    assert len(out) == 45
    by_key = {r.key: r for r in out}
    assert by_key["Key 0"].value == "Message 0" and by_key["Key 0"].len_value == 9
    assert by_key["Key 14"].len_value == 10  # "Message 14"
    assert all(r.len_value == len(r.value) for r in out)


def test_kafka_source_option_contract(spark):
    """Broker-free contract for the real Kafka source: the option map
    must mirror the reference's consumer semantics 1:1 — earliest
    offsets by default (execution.rs:77-79), per-micro-batch row cap
    via maxOffsetsPerTrigger (execution.rs:87), and verbatim
    passthrough of the consumer conf map under the kafka. prefix
    (execution.rs:34)."""
    from datafusion_streams_spark.sources.kafka import kafka_source_options

    opts = kafka_source_options(
        topic="test_topic",
        bootstrap_servers="localhost:9092",
        max_offsets_per_trigger=1000,
        conf={"group.id": "dfs", "fetch.min.bytes": "1"},
    )
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "test_topic",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "1000",
        "kafka.group.id": "dfs",
        "kafka.fetch.min.bytes": "1",
    }
    # no cap requested -> the option must be absent (unbounded batches,
    # the reference's default), not "None"/0
    assert "maxOffsetsPerTrigger" not in kafka_source_options("t", "b")


def test_kafka_source_fails_without_package(spark):
    """In this container the spark-sql-kafka package is absent: the real
    source must fail at .load() with the missing-data-source error (not
    silently fall back), documenting the environment gap the emulation
    covers."""
    import os

    import pytest as _pytest
    from datafusion_streams_spark.sources.kafka import kafka_source

    if os.environ.get("KAFKA_HOST"):
        _pytest.skip("live broker env: the package-absent contract does not apply")
    with _pytest.raises(Exception, match="[kK]afka"):
        kafka_source(spark, "t", "localhost:9092")


def test_kafka_live_broker_round_trip(spark):
    """r6 verdict item #8: the one reference behavior verified by
    analogy rather than execution, upgraded to a live produce/consume
    round trip whenever an environment supplies a broker via the
    KAFKA_HOST override (the reference's tests/utils.rs:61-63 idiom;
    its own test needs docker-compose.yaml:1-22). Mirrors
    tests/basic_tests.rs:23-75: populate the topic with 45
    (Key i, Message i) pairs, run the reference pipeline (cast to
    utf8 + length) over the real Kafka source, drain-then-stop, and
    check every row. Skipped (not absent) where no broker exists."""
    import os
    import uuid

    import pytest as _pytest

    host = os.environ.get("KAFKA_HOST")
    if not host:
        _pytest.skip("no broker in this sandbox (set KAFKA_HOST to enable)")

    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.kafka import kafka_source, to_reference_schema

    topic = f"__test_{uuid.uuid4().hex[:10]}"  # utils.rs rand_topic idiom
    rows = [(f"Key {i % 15}", f"Message {i % 15}") for i in range(45)]
    (
        spark.createDataFrame(rows, "key string, value string")
        .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", host)
        .option("topic", topic)
        .save()
    )

    src = to_reference_schema(kafka_source(spark, topic, host))
    pipe = src.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.length(F.col("value").cast("string")).alias("len_value"),
    )
    rows_out = spark.table(drain(pipe)).collect()
    assert len(rows_out) == 45
    assert {r.key for r in rows_out} == {f"Key {i}" for i in range(15)}
    assert all(r.len_value == len(r.value) for r in rows_out)
    assert all(r.value == "Message " + r.key.split(" ")[1] for r in rows_out)


def test_status_store_holds_drained_stateful_plan(spark):
    """The duplicated-shuffle audit (tools/reuse_audit.py) reads each
    drained query's micro-batch plans from Spark's SQL status store:
    the run named by drain's return value is there, and a stateful
    agg's executed plan surfaces its shuffle — that Exchange line is
    exactly what the audit fingerprints."""
    from tools.reuse_audit import executed_plan, execution_mark, stream_batches

    agg = (
        kafka_like_stream(spark, SF_DIR_SMALL)
        .groupBy(F.length("key").alias("key_len"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mark = execution_mark(spark)
    name = drain(agg, output_mode="complete")
    runs = [b for (n, _), b in stream_batches(spark, mark).items() if n == name]
    assert len(runs) == 1, f"expected one run of {name}, got {len(runs)}"
    plan = executed_plan(spark, runs[0][max(runs[0])])
    assert plan.startswith("WriteToDataSourceV2 MicroBatchWrite"), plan[:400]
    assert "Exchange" in plan, plan[:400]
    # the plan that ran, not the append-mode re-plan Spark stores as text
    assert "Complete" in plan, plan[:400]
    assert "StateStore" in plan, plan[:400]


@pytest.fixture
def checkpoints(monkeypatch):
    """Every checkpoint dir drain() makes, recorded for cleanup checks."""
    made: list[str] = []
    make = mb.scratch_dir

    def record(prefix):
        made.append(make(prefix))
        return made[-1]

    monkeypatch.setattr(mb, "scratch_dir", record)
    return made


def test_drain_timeout_raises_and_releases(spark, checkpoints):
    """Fault injection: a memory drain that cannot finish within its
    timeout must raise, not return the partial sink; afterwards no
    query is left running, the checkpoint is gone and the session's
    shuffle width is back to its prior value."""

    def stuck_map(it):  # a closure, so workers get it by value
        time.sleep(600)
        yield from it

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        stuck = kafka_like_stream(spark, SF_DIR_SMALL).mapInPandas(
            stuck_map, "key binary, value binary"
        )
        t0 = time.monotonic()
        with pytest.raises(TimeoutError):
            drain(stuck, timeout_sec=2)
        assert time.monotonic() - t0 < 60
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert checkpoints and not any(os.path.exists(d) for d in checkpoints)


def test_raising_foreachbatch_fails_the_drain(spark, checkpoints):
    """Fault injection: a foreachBatch sink that raises fails the
    drain loudly, with no query left active and no checkpoint left."""

    def boom(batch_df, batch_id):
        raise RuntimeError("injected sink failure")

    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        drain(kafka_like_stream(spark, SF_DIR_SMALL), boom)
    assert spark.streams.active == []
    assert checkpoints and not any(os.path.exists(d) for d in checkpoints)


def test_until_deadline_raises_without_partial_sink(spark):
    """Fault injection: an ``until`` predicate that never holds over an
    unbounded rate stream raises at its deadline, and the partially
    filled memory sink is dropped rather than handed back."""
    names: list[str] = []

    def never(sp, name):
        names.append(name)
        return False

    rate = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    with pytest.raises(TimeoutError):
        drain(rate, timeout_sec=2, until=never)
    assert names, "the predicate was never polled"
    assert not spark.catalog.tableExists(names[0])
    assert spark.streams.active == []


def test_until_fails_fast_on_a_failed_query(spark):
    """An ``until`` drain whose query has already failed raises that
    failure at once instead of polling until its deadline."""

    def boom(batch_df, batch_id):
        raise RuntimeError("injected batch failure")

    rate = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    t0 = time.monotonic()
    with pytest.raises(StreamingQueryException, match="injected batch failure"):
        drain(rate, boom, timeout_sec=300, until=lambda *_: False)
    assert time.monotonic() - t0 < 60
    assert spark.streams.active == []


_LEAK_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from datafusion_streams_spark import REGISTRY, get_session, scratch
spark = get_session(cpus="2")
for name in ("files_csv_roundtrip", "streaming_parquet_sink", "streaming_tumbling_hour"):
    REGISTRY[name].fn(spark, {sf!r}).collect()
print(scratch._ROOT)
"""


def test_registered_queries_leave_no_scratch_dirs(tmp_path):
    """A process that runs file-writing and streaming queries leaves no
    ``dfs_*`` directory in its TMPDIR once it exits: every engine dir
    lives under the one scratch root, removed at exit."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(tmp_path), "SPARK_DRIVER_MEMORY": "1g"}
    done = subprocess.run(
        [sys.executable, "-c", _LEAK_SCRIPT.format(repo=repo, sf=SF_DIR_SMALL)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    root = done.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path), root
    assert [e for e in os.listdir(tmp_path) if e.startswith("dfs_")] == []
