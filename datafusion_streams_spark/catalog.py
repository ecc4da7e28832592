"""The engine's one fixture reader, and SQL catalog registration.

``table`` is the only place that knows where a fixture table lives
(``{sf_dir}/{name}.parquet``) and how ``events.ts`` is narrowed from
nanoseconds to microseconds; every query reads exactly the tables it
uses through it. The reference never finished its SQL/catalog layer —
``src/kafka/context.rs`` is an empty placeholder (see SURVEY.md §3
entry point 3). In Spark this layer is one line per table:
``createOrReplaceTempView``. We ship it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(ev: DataFrame) -> DataFrame:
    """events, batch or streaming, with ``ts`` as microsecond
    TIMESTAMP_NTZ.

    Spark has no nanosecond timestamp type (parquet NANOS is read as
    long via spark.sql.legacy.parquet.nanosAsLong); convert with an
    integer ns->us floor division — exactly what DuckDB does when it
    narrows nanos to its microsecond timestamps, so both engines see
    identical values. MICROS fixtures arrive as TIMESTAMP_NTZ and pass
    through: dividing an already-micros column is the 1000x-off bug
    class, hence the dtype guard.
    """
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return ev.select("event_id", "ts", "user_id", "event_type", "value", "props")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name`` under ``sf_dir``; ``events`` comes through
    ``normalize_event_ts``.

    Plain ``spark.read.parquet`` so Catalyst sees a native parquet
    relation: predicate pushdown, column pruning and partition-level
    parallelism all apply (a 100 TB table just means more row groups —
    the plan shape is identical). Each call infers the schema with one
    small Spark job, so read a table once per query and reuse the frame.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_event_ts(df) if name == "events" else df


def load_events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_us``: event time as INTEGER microseconds.

    Derived from ``table``'s normalized timestamp (single source of
    truth for the ns->us narrowing) — for operators that need an
    integer ordering key (RANGE window frames, as-of arithmetic) with
    exact cross-engine parity (DuckDB mirror: ``epoch_ns(ts) // 1000``;
    the UTC session makes the NTZ->instant cast exact).
    """
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def spread(spark: SparkSession, df: DataFrame, *cols: str) -> DataFrame:
    """Repartition with an EXPLICIT partition count (defaultParallelism).

    A bare ``repartition(col)`` has no pinned count, so AQE sizes the
    exchange by shuffle bytes — and small-but-compute-heavy relations
    (5k documents of raw text feeding shingle HOFs) coalesce into ONE
    partition, serializing all downstream map work on a single task
    (the round-3 `dedup_ngram_jaccard` 1.8x regression). An explicit
    count is exempt from AQE coalescing. On a real pre-split 100 TB
    table these repartitions are cheap no-op-shaped exchanges; on the
    single-file fixtures they are what buys parallelism.
    """
    n = spark.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols]) if cols else df.repartition(n)


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across the cluster for compute-heavy map
    pipelines (shingling, tokenization, quality scoring)."""
    return spread(spark, table(spark, sf_dir, "documents"), "doc_id")


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Register fixture tables as temp views (the SQL entry point the
    reference stubbed out and never built): the ``names`` given, or
    all ten. Each read costs a schema-inference job, so a query
    registers only the tables its SQL text names."""
    dfs = {name: table(spark, sf_dir, name) for name in names or TABLES}
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
