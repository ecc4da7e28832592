"""Kafka-style sources.

The reference's single real operator is a Kafka micro-batch scan
producing the fixed schema ``key binary (non-null), value binary
(non-null)`` (`/root/reference/src/lib.rs:7-12`), one consumer per
Kafka partition (`/root/reference/src/kafka/execution.rs:62-112`).

Two entry points:

* ``kafka_source`` — the real thing: Spark's built-in Kafka source,
  whose schema (key binary, value binary, topic, partition, offset,
  timestamp, timestampType) is a strict superset of the reference's.
  Config passthrough mirrors the reference's ``conf: HashMap``
  (`/root/reference/src/kafka/execution.rs:34`). Requires a broker +
  the spark-sql-kafka package; unavailable in the test container, so
  it is exercised only via the emulation below.

* ``kafka_like_from_events`` / ``kafka_like_stream`` — broker-free
  emulation: a deterministic Kafka-shaped table/stream derived from
  the ``events`` fixture, with the reference's exact non-null binary
  semantics (absent key/payload → empty bytes, not NULL —
  `/root/reference/src/kafka/execution.rs:137,140`).
"""

from __future__ import annotations

import glob as _glob

import pyarrow as pa
import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from datafusion_streams_spark.catalog import normalize_event_ts, table

# The events files' names; a stream reads them from their directory.
EVENTS_GLOB = "events*.parquet"


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True iff the events fixture stores ``ts`` as TIMESTAMP(NANOS) (or a
    raw int64), which Spark reads as a bare long under
    ``spark.sql.legacy.parquet.nanosAsLong``. TIMESTAMP(MICROS/MILLIS)
    is read natively as TIMESTAMP_NTZ and must NOT be divided.

    One parquet-footer read per call, driver-side at plan time — cheap,
    and the only robust way to know what Spark's explicit-schema
    streaming read will actually yield (the file stream source cannot
    infer, and a wrong declared type silently reinterprets the column;
    a micros fixture read as long then divided lands in 1970).
    """
    paths = sorted(_glob.glob(f"{sf_dir}/{EVENTS_GLOB}"))
    if not paths:
        raise FileNotFoundError(f"no {EVENTS_GLOB} under {sf_dir}")
    t = _pq.read_schema(paths[0]).field("ts").type
    if pa.types.is_timestamp(t):
        return t.unit == "ns"
    return True  # raw int64: historical nanos-as-long fixtures


def events_raw_schema(sf_dir: str) -> StructType:
    """Explicit schema for a streaming read of the events fixture,
    matching the parquet footer's actual physical type for ``ts``
    (long for NANOS fixtures, TIMESTAMP_NTZ for MICROS)."""
    ts_type = LongType() if _events_ts_is_nanos(sf_dir) else TimestampNTZType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# Opt-in micro-batch split for scale probes. None (the default) keeps
# the source's own behavior: Trigger.AvailableNow with no file cap
# drains every available file in ONE trigger. tools/scale_probe.py
# sets 1 so the stateful pipelines really carry state across one
# trigger per landed file at 10x volume — the state-store growth axis
# a single-trigger drain cannot exercise. Registered-query code paths
# are byte-identical when unset.
EVENTS_MAX_FILES_PER_TRIGGER: int | None = None


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events fixture with ``ts`` normalized to
    microsecond TIMESTAMP_NTZ by ``catalog.normalize_event_ts``, the
    guard ``catalog.table`` applies to the batch read, so the
    micros/nanos decision lives in exactly one place.

    One root, ``sf_dir``, filtered by name: the driver lists it inline
    on every trigger, where a glob makes each file a root and above 32
    roots (``parallelPartitionDiscovery.threshold``) every trigger runs
    a listing job. The listing is recursive, so the filter is what
    keeps other tables and ``batch/events.parquet/part-*`` out."""
    reader = spark.readStream.schema(events_raw_schema(sf_dir)).option(
        "pathGlobFilter", EVENTS_GLOB
    )
    if EVENTS_MAX_FILES_PER_TRIGGER is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(EVENTS_MAX_FILES_PER_TRIGGER)
        )
    return normalize_event_ts(reader.parquet(sf_dir))


def kafka_source_options(
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The exact option map ``kafka_source`` hands Spark's Kafka source —
    exposed as a pure function so the reference mapping is testable
    without a broker (the container has none; neither does the
    reference outside its docker-compose):
      - start at beginning (`…/execution.rs:77-79`) → startingOffsets=earliest
      - micro-batch row cap (`…/execution.rs:87`) → maxOffsetsPerTrigger
      - consumer config map (`…/execution.rs:34`) → option("kafka." + k, v)
    """
    options = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        options["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    for k, v in (conf or {}).items():
        options[f"kafka.{k}"] = v
    return options


def kafka_source(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    conf: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming DataFrame over a real Kafka topic.

    Maps the reference's operator surface 1:1 (see
    ``kafka_source_options``); per-Kafka-partition parallelism
    (`…/execution.rs:47-49,75`) is built into the source
    (1 topic-partition = 1 input partition).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(
        topic, bootstrap_servers, starting_offsets, max_offsets_per_trigger, conf
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def to_reference_schema(df: DataFrame) -> DataFrame:
    """Project any Kafka-shaped frame onto the reference's exact schema:
    non-nullable binary (key, value), absent → empty bytes
    (`/root/reference/src/kafka/execution.rs:135-142`)."""
    empty = F.encode(F.lit(""), "UTF-8")
    return df.select(
        F.coalesce(F.col("key"), empty).alias("key"),
        F.coalesce(F.col("value"), empty).alias("value"),
    )


def _kafka_shape(ev: DataFrame) -> DataFrame:
    """The reference's test fixture format
    (`/root/reference/tests/utils.rs:214-220`): key "Key {id}", value
    "Message {id}", UTF-8 encoded to binary."""
    ident = F.col("event_id").cast("string")
    return ev.select(
        F.encode(F.concat(F.lit("Key "), ident), "UTF-8").alias("key"),
        F.encode(F.concat(F.lit("Message "), ident), "UTF-8").alias("value"),
    )


def kafka_like_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Kafka-shaped batch table from the events fixture."""
    return _kafka_shape(table(spark, sf_dir, "events"))


def kafka_like_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming (micro-batch) variant of ``kafka_like_from_events``: the
    Kafka shape over ``events_stream``, whose file source stands in for
    the broker. Structured Streaming's MicroBatchExecution supplies the
    reference's per-micro-batch replan loop (`…/execution.rs:119-132`)
    natively."""
    return _kafka_shape(events_stream(spark, sf_dir))


def reference_test_messages(spark: SparkSession) -> DataFrame:
    """The reference's exact test fixture as a DataFrame: 15 messages per
    partition x 3 partitions, value "Message {id}", key "Key {id}"
    (`/root/reference/tests/utils.rs:214-220`,
    `/root/reference/tests/basic_tests.rs:27-29`), with the Kafka
    metadata columns Spark's source would add."""
    rows = [
        (f"Key {i}".encode(), f"Message {i}".encode(), p, i)
        for p in range(3)
        for i in range(15)
    ]
    return spark.createDataFrame(
        rows, "key binary, value binary, partition int, offset long"
    )
