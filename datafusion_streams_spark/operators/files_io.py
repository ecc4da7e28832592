"""File source/sink roundtrips as registered, oracle-checked queries.

The reference gates file formats behind feature flags it never
exercises (`/root/reference/Cargo.toml:7` — avro/csv/json features of
the datafusion dependency, no test touches them). Here each format is
exercised end-to-end AS A QUERY: read the canonical parquet table,
write it through the format under test, read it back with an explicit
schema, and aggregate — the aggregate must hash-match the oracle
computed from the original parquet, proving the sink+source pair loses
nothing (quoting, date formatting, float text round-trip).

Scale posture: format conversion is map-only (one task per file split,
no shuffle); the verification aggregate's single exchange carries the
group keys only. Output dirs are per-call under the process scratch
root (safe to re-run in a session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import dec, dsum
from datafusion_streams_spark.operators import query
from datafusion_streams_spark.scratch import scratch_dir

# o_note is synthesized WITH embedded commas and double quotes to force
# the CSV writer through its quoting/escaping path; o_orderdate
# exercises date text round-trip; o_totalprice exercises float text
# round-trip (Spark writes shortest-roundtrip decimal strings, so the
# reparsed double is bit-identical).
_ORDERS_COLS = "o_orderkey LONG, o_orderdate DATE, o_orderpriority STRING, o_totalprice DOUBLE, o_note STRING"

_ROUNDTRIP_ORACLE = """
SELECT
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
    CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
    CAST(SUM(length(o_orderpriority || ', "' || o_orderstatus || '"')) AS BIGINT) AS note_chars,
    CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS first_date,
    CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS last_date
FROM orders
GROUP BY o_orderpriority
"""


def _verify_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        dsum("o_totalprice").alias("sum_total"),
        F.sum(F.length("o_note")).cast("long").alias("note_chars"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.max("o_orderdate").cast("string").alias("last_date"),
    )


def _orders_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    note = F.concat(
        F.col("o_orderpriority"), F.lit(', "'), F.col("o_orderstatus"), F.lit('"')
    )
    # the fixture stores o_orderdate as TIMESTAMP; the roundtrip contract
    # under test is the DATE type (ORC additionally has no NTZ-timestamp
    # physical type to round-trip through), so cast at the source
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
        "o_totalprice",
        note.alias("o_note"),
    )


@query("files_csv_roundtrip", oracle=_ROUNDTRIP_ORACLE, tags=("source", "sink", "files", "csv"))
def files_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> CSV sink -> CSV source (explicit schema, header,
    default quoting) -> verification aggregate. Checks the full CSV
    dialect path: comma-field quoting, date formatting, float text."""
    out = scratch_dir("csv_")
    _orders_subset(spark, sf_dir).write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(_ORDERS_COLS).option("header", "true").csv(out)
    return _verify_agg(back)


@query("files_json_roundtrip", oracle=_ROUNDTRIP_ORACLE, tags=("source", "sink", "files", "json"))
def files_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> JSON-lines sink -> JSON source (explicit schema) ->
    verification aggregate. Checks string escaping, ISO date text, and
    double round-trip through JSON number literals."""
    out = scratch_dir("json_")
    _orders_subset(spark, sf_dir).write.mode("overwrite").json(out)
    back = spark.read.schema(_ORDERS_COLS).json(out)
    return _verify_agg(back)


@query("files_orc_roundtrip", oracle=_ROUNDTRIP_ORACLE, tags=("source", "sink", "files", "orc"))
def files_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> ORC sink -> ORC source -> verification aggregate.

    ORC is the second binary columnar format Spark ships natively
    (predicate pushdown, column pruning, and vectorized reads apply
    exactly as for parquet); the round-trip proves binary-exact date /
    double / string fidelity through the ORC writer+reader pair, hash-
    checked against the aggregate computed from the original parquet.
    The read-back declares the same explicit schema as csv/json: the
    ORC reader otherwise surfaces DATE as TIMESTAMP under some
    reader/writer config combinations, and the explicit schema pins
    the round-trip contract to the column types under test."""
    out = scratch_dir("orc_")
    _orders_subset(spark, sf_dir).write.mode("overwrite").orc(out)
    back = spark.read.schema(_ORDERS_COLS).orc(out)
    return _verify_agg(back)


_PARTITIONED_ORACLE = """
SELECT o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@query(
    "files_partitioned_pruning",
    oracle=_PARTITIONED_ORACLE,
    tags=("source", "sink", "files", "partitioning"),
)
def files_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read: orders
    written partitionBy(o_orderpriority), read back with a partition
    filter that must prune to 2 of 5 directories (verified by plan
    assert in tests), then aggregated — the layout that turns a 100 TB
    scan into a directory listing plus only the matching files.

    The aggregate hash-matches the oracle computed from the unwritten
    original, proving the partition column round-trips losslessly
    through directory names (including the URL-encoding of spaces/
    specials in partition values).
    """
    from datafusion_streams_spark.layouts import memoized_layout

    def _build(path: str) -> None:
        table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)

    out = memoized_layout(sf_dir, "part_orders_by_priority", _build)
    back = spark.read.parquet(out).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
    )


_SCHEMA_EVOLUTION_ORACLE = """
SELECT
    source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN lang END) AS BIGINT) AS n_with_lang,
    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY source
"""


@query(
    "files_schema_evolution",
    oracle=_SCHEMA_EVOLUTION_ORACLE,
    tags=("source", "files", "schema"),
)
def files_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the documents
    table — v1 without the lang column, v2 (later rows) with it — read
    back in one scan with mergeSchema=true; the evolved column must
    surface as NULL on v1 rows and populated on v2 rows. This is the
    append-only data-lake contract every long-lived 100 TB table
    relies on (columns are added over time; old files stay readable).

    The verification aggregate counts lang presence per source and
    hash-matches an oracle computed from the ORIGINAL table with the
    v1/v2 split re-derived (doc_id parity) — proving the merged scan
    reconstructs exactly the union-by-name semantics. Schema merge is
    footer-only work at planning time; the scan itself stays map-only.
    """
    docs = table(spark, sf_dir, "documents")
    out = scratch_dir("evo_")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "n_chars"
    ).write.mode("overwrite").parquet(f"{out}/gen=1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "n_chars", "lang"
    ).write.mode("overwrite").parquet(f"{out}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("lang").cast("long").alias("n_with_lang"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


_COMPACTION_ORACLE = """
SELECT
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
    CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
    CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
GROUP BY o_orderpriority
"""

_COMPACTION_TARGET_BYTES = 128 * 1024 * 1024


@query("files_compaction", oracle=_COMPACTION_ORACLE, tags=("source", "sink", "files", "partitioning"))
def files_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the #1 operational fix on a real data
    lake: a fragmented table (here: orders deliberately shattered into
    64 tiny part files, the shape a streaming sink or over-parallel
    job leaves behind) is rewritten into ceil(bytes/128 MB) right-
    sized files, then read back and aggregated; the hash match against
    the never-written oracle proves compaction is lossless.

    Why it matters at 100 TB: scan parallelism is per-file-split, but
    a million 1 MB files costs a million task launches + a million
    footer reads + NameNode/listing pressure — compaction trades one
    bounded shuffle-free rewrite (coalesce, not repartition: map-side
    file concatenation, no exchange) for every future scan's speedup.
    The output file count is asserted in tests/test_sources_sinks.py;
    sizing is driver-side file-listing metadata only.
    """
    import math
    import os

    from datafusion_streams_spark.layouts import memoized_layout

    # the small-files mess is the FIXTURE a streaming job left behind;
    # the operation under test (and under time) is the compaction
    def _build(path: str) -> None:
        table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).repartition(64).write.mode("overwrite").parquet(path)

    out_small = memoized_layout(sf_dir, "small_orders", _build)
    out_compact = scratch_dir("compact_")
    small = spark.read.parquet(out_small)
    total_bytes = sum(
        os.path.getsize(os.path.join(out_small, f))
        for f in os.listdir(out_small)
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total_bytes / _COMPACTION_TARGET_BYTES))
    small.coalesce(n_out).write.mode("overwrite").parquet(out_compact)

    back = spark.read.parquet(out_compact)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum("o_totalprice").alias("sum_total"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


_MALFORMED_ORACLE = """
SELECT o_orderpriority AS grp,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders WHERE o_orderkey % 50 <> 0
GROUP BY o_orderpriority
UNION ALL
SELECT '<CORRUPT>' AS grp,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(NULL AS DOUBLE) AS sum_total
FROM orders WHERE o_orderkey % 50 = 0
"""


@query("files_csv_malformed", oracle=_MALFORMED_ORACLE, tags=("source", "files", "csv"))
def files_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingestion: a feed where every 50th record is
    garbage (wrong arity + untypeable key) read under PERMISSIVE mode
    with columnNameOfCorruptRecord — good rows parse, bad rows land in
    the corrupt-record column instead of failing the job, and the
    per-priority aggregate plus an explicit '<CORRUPT>' bucket
    hash-match the oracle's re-derivation of the same corruption rule.
    This is the real-feed posture (FAILFAST is for tests; production
    feeds always contain garbage) — the corrupt bucket count is the
    data-quality metric the ingestion dashboard plots.

    Scale: text write + permissive parse are both map-only; the
    quarantined rows keep their raw text for replay/debugging.
    """
    o = table(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % 50 == 0, F.lit("###corrupt###")
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_orderpriority"),
            F.col("o_totalprice").cast("string"),
        )
    )
    out = scratch_dir("malformed_")
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    # CSV column pruning must be OFF for corrupt-record detection to see
    # under-length rows when a downstream aggregate prunes the parse to a
    # column subset (documented Spark caveat on columnNameOfCorruptRecord);
    # restore the conf afterwards — it is a scan-planning flag, not state.
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    try:
        back = spark.read.schema(
            "o_orderkey LONG, o_orderpriority STRING, o_totalprice DOUBLE, _corrupt_record STRING"
        ).option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        ).csv(out)
        grp = F.when(
            F.col("_corrupt_record").isNotNull(), F.lit("<CORRUPT>")
        ).otherwise(F.col("o_orderpriority"))
        result = back.groupBy(grp.alias("grp")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            dsum("o_totalprice").alias("sum_total"),
        )
        # materialize while the conf is off (the plan executes lazily);
        # the collect is group-cardinality-bounded — one row per
        # o_orderpriority value plus <CORRUPT> (~6 rows), never data-sized
        result = spark.createDataFrame(
            result.collect(), schema=result.schema
        )
    finally:
        spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "true")
    return result


_JSON_NESTED_ORACLE = """
SELECT o_orderpriority AS priority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
    CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
"""


@query("files_json_nested", oracle=_JSON_NESTED_ORACLE, tags=("source", "sink", "files", "json"))
def files_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON ingestion: orders serialized as documents with a
    nested struct (meta.status/meta.priority) and an array field
    (amounts), written as JSON lines, read back with an explicit
    nested schema, filtered on a NESTED field, and flattened into the
    verification aggregate — the semi-structured event-log shape APIs
    actually emit (files_json_roundtrip covers the flat case; real
    feeds are nested).

    The nested-field filter (meta.status = 'O') must prune through the
    struct accessor, and array element access (amounts[0]) must
    round-trip the double exactly — both hash-proven against the
    oracle computed from the original flat table. Map-only both ways.
    """
    o = table(spark, sf_dir, "orders")
    doc = F.to_json(
        F.struct(
            F.col("o_orderkey"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("meta"),
            F.array(F.col("o_totalprice")).alias("amounts"),
        )
    )
    out = scratch_dir("json_nested_")
    o.select(doc.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.schema(
        "o_orderkey LONG, meta STRUCT<status: STRING, priority: STRING>, amounts ARRAY<DOUBLE>"
    ).json(out)
    return (
        back.filter(F.col("meta.status") == "O")
        .select(
            F.col("meta.priority").alias("priority"),
            F.element_at("amounts", 1).alias("amount"),
            "o_orderkey",
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("amount").alias("sum_total"),
            F.min("o_orderkey").cast("long").alias("min_key"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout audit (round 4): multi-dimensional data skipping
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension -> 16-bit z-value, 256 coarse buckets


def _z_terms_sql(x: str, y: str) -> str:
    """Bit-interleave SQL, generated identically for Spark and DuckDB
    (both support >> << & on BIGINT): x occupies even bits, y odd."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH dims AS (
    SELECT user_id % 256 AS ux,
        datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 256 AS dy
    FROM events
),
z AS (
    SELECT ux, dy, CAST({_z_terms_sql('ux', 'dy')} AS BIGINT) AS zval FROM dims
)
SELECT CAST(zval >> {_Z_BITS} AS BIGINT) AS zbucket,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(MIN(ux) AS BIGINT) AS min_user, CAST(MAX(ux) AS BIGINT) AS max_user,
    CAST(MIN(dy) AS BIGINT) AS min_day, CAST(MAX(dy) AS BIGINT) AS max_day,
    CAST(MAX(ux) - MIN(ux) AS BIGINT) AS user_span,
    CAST(MAX(dy) - MIN(dy) AS BIGINT) AS day_span
FROM z GROUP BY zbucket
"""


@query("layout_zorder_audit", oracle=_ZORDER_ORACLE, tags=("files", "layout", "agg"))
def layout_zorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit: interleave the bits of two
    scan dimensions (user bucket x day) into one clustering key and
    report, per coarse z-bucket, the min/max envelope of BOTH
    dimensions. This is the decision table for a Delta/Iceberg-style
    OPTIMIZE ZORDER rewrite: tight user_span AND day_span per bucket
    means a file sorted by zval serves point lookups on EITHER
    dimension from few row groups (parquet min/max skipping), where a
    single-column sort only prunes one. The interleave is pure integer
    bit arithmetic generated from one template for both engines — no
    UDF, stays in codegen, map-only; the audit aggregation shuffles
    256 groups.

    At 100 TB the same zval expression feeds
    ``df.repartitionByRange(N, "zval").sortWithinPartitions("zval")
    .write...`` — the audit here proves the envelope math that makes
    that rewrite worth the IO.
    """
    ev = table(spark, sf_dir, "events")
    dims = ev.select(
        (F.col("user_id") % 256).alias("ux"),
        (F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")) % 256)
        .cast("long")
        .alias("dy"),
    )
    z = dims.select("ux", "dy", F.expr(_z_terms_sql("ux", "dy")).cast("long").alias("zval"))
    return (
        z.groupBy(F.shiftright("zval", _Z_BITS).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("ux").cast("long").alias("min_user"),
            F.max("ux").cast("long").alias("max_user"),
            F.min("dy").cast("long").alias("min_day"),
            F.max("dy").cast("long").alias("max_day"),
            (F.max("ux") - F.min("ux")).cast("long").alias("user_span"),
            (F.max("dy") - F.min("dy")).cast("long").alias("day_span"),
        )
    )


@query(
    "files_pysink_manifest",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("source", "sink", "files", "datasource"),
)
def files_pysink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round trip through a PLUGGABLE PYTHON SINK (Spark 4 DataSource
    writer API, `sources/pysink.py`): per-task parquet part writes ->
    WriterCommitMessage -> driver-side atomic _MANIFEST.json commit;
    the read-back goes through the manifest only, so uncommitted task
    output is invisible (two-phase commit in ~30 lines of user code —
    the writer-side twin of ref_kafka_datasource_pipeline's pluggable
    source, and the registered-custom-plan architecture of the
    reference itself, `/root/reference/src/kafka/execution.rs:31`).

    The verification aggregate hash-matches the same oracle as the
    csv/json/orc round trips, proving the user-level writer preserved
    keys, dates, doubles and quoted strings exactly.
    """
    from datafusion_streams_spark.sources.pysink import (
        manifest_files,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    out = scratch_dir("pysink_")
    # repartition: same single-partition fixture effect as the avro
    # round trips — 8 ways keeps the per-task part writes (and the
    # read of the resulting part files) parallel
    _orders_subset(spark, sf_dir).repartition(8).write.format("manifest_sink").option(
        "path", out
    ).mode("append").save()
    back = spark.read.parquet(*manifest_files(out))
    return _verify_agg(back)


_PYSINK_STREAM_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


@query(
    "streaming_pysink_manifest",
    oracle=_PYSINK_STREAM_ORACLE,
    tags=("streaming", "sink", "datasource"),
)
def streaming_pysink_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming half of the pluggable Python sink: a real
    micro-batch drain writes each batch's partitions as part files and
    commits one _MANIFEST-<batchId>.json per batch — batch-id-keyed
    manifests make replays overwrite their own entry, which is the
    idempotence contract a foreachBatch MERGE sink provides
    (streaming_foreachbatch_merge) expressed at the DataSource level.

    The read-back aggregates only manifest-listed files and must
    hash-match the batch oracle over the full fixture: no duplicated,
    no lost, no uncommitted rows — whatever the micro-batch split was.
    """
    from datafusion_streams_spark.sources.kafka import events_stream
    from datafusion_streams_spark.sources.pysink import (
        manifest_files,
        register_manifest_sink,
    )
    from datafusion_streams_spark.streaming.microbatch import drain

    register_manifest_sink(spark)
    out = scratch_dir("pysink_s_")
    ev = events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")
    drain(ev, ("manifest_sink", out), timeout_sec=300)
    back = spark.read.parquet(*manifest_files(out))
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.count_distinct(F.col("user_id")).cast("long").alias("n_users"),
    )


@query(
    "files_avro_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("source", "sink", "files", "datasource"),
)
def files_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> AVRO sink -> AVRO source -> verification aggregate,
    through `sources/avro_py.py`: a clean-room implementation of the
    published Avro 1.11 object-container spec (null codec; zigzag
    varints, IEEE-754 LE doubles, length-prefixed UTF-8, date logical
    type) behind the Python DataSource API — closing the one format
    the environment blocks (no spark-avro jar, no Python avro lib;
    the reference itself only feature-flags avro and never tests it,
    Cargo.toml:7).

    Executors write one self-describing container file per partition
    (no driver collect) and the reader maps one input partition per
    file, decoding blocks streamingly. The aggregate hash-matches the
    same oracle as the csv/json/orc round trips: keys, DATE values,
    doubles and quoted strings survive the binary encoding exactly.
    Spec-conformance byte vectors are pinned in
    tests/test_sources_sinks.py.
    """
    from datafusion_streams_spark.sources.avro_py import register_avro_py

    register_avro_py(spark)
    out = scratch_dir("avro_")
    # repartition: the single-file fixture scan is ONE partition, which
    # would serialize the pure-Python encode into one task and produce
    # one container file (one read partition). A real table arrives
    # pre-split; 8 ways keeps write AND read parallel here.
    _orders_subset(spark, sf_dir).repartition(8).write.format("avro_py").option(
        "path", out
    ).mode("append").save()
    back = spark.read.format("avro_py").option("path", out).load()
    return _verify_agg(back)


@query(
    "files_avro_deflate",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("source", "sink", "files", "datasource"),
)
def files_avro_deflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The avro round trip with the DEFLATE codec (r6): executors
    compress each data block with raw RFC 1951 DEFLATE (stdlib zlib,
    wbits=-15 — the Avro 1.11 spec's 'deflate', NOT zlib-framed) and
    the reader inflates per block from the declared byte size. Same
    verification aggregate and oracle as `files_avro_roundtrip`, so
    the hash match proves compression is transparent to the values;
    spec conformance (independent zlib inflate of the on-disk block,
    2x+ size reduction) is pinned in tests/test_sources_sinks.py.
    """
    from datafusion_streams_spark.sources.avro_py import register_avro_py

    register_avro_py(spark)
    out = scratch_dir("avro_defl_")
    _orders_subset(spark, sf_dir).repartition(8).write.format("avro_py").option(
        "path", out
    ).option("codec", "deflate").mode("append").save()
    back = spark.read.format("avro_py").option("path", out).load()
    return _verify_agg(back)


@query(
    "files_avro_snappy",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("source", "sink", "files", "datasource"),
)
def files_avro_snappy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The avro round trip with the SNAPPY codec (r6): no snappy
    library ships in this container, so the blocks go through the
    clean-room `codecs/snappy.py` implementation of the public snappy
    block format (varint preamble + literal/copy tagged elements, a
    real greedy LZ77 matcher on the write side), each suffixed with
    the Avro spec's 4-byte big-endian CRC32 of the uncompressed bytes,
    verified on read. This closes the last codec named by the Avro
    1.11 container spec that spark-avro ships; the reference only ever
    feature-flagged avro (Cargo.toml:7). Same verification aggregate
    and oracle as `files_avro_roundtrip`, so the hash match proves
    the codec transparent; block-format spec vectors are pinned in
    tests/test_codecs.py and container conformance in
    tests/test_sources_sinks.py.
    """
    from datafusion_streams_spark.sources.avro_py import register_avro_py

    register_avro_py(spark)
    out = scratch_dir("avro_snap_")
    _orders_subset(spark, sf_dir).repartition(8).write.format("avro_py").option(
        "path", out
    ).option("codec", "snappy").mode("append").save()
    back = spark.read.format("avro_py").option("path", out).load()
    return _verify_agg(back)


_NOTE_SQL = """o_orderpriority || ', "' || o_orderstatus || '"'"""

_MERGE_ON_READ_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority, o_totalprice, {_NOTE_SQL} AS o_note
    FROM orders
),
merged AS (
    SELECT o_orderkey, o_orderdate, o_orderpriority, o_totalprice, o_note
    FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 13 <> 0
    UNION ALL
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DOUBLE), o_note
    FROM base WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0
)
SELECT
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
    CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
    CAST(SUM(length(o_note)) AS BIGINT) AS note_chars,
    CAST(MIN(o_orderdate) AS VARCHAR) AS first_date,
    CAST(MAX(o_orderdate) AS VARCHAR) AS last_date
FROM merged
GROUP BY o_orderpriority
"""


@query(
    "files_merge_on_read",
    oracle=_MERGE_ON_READ_ORACLE,
    tags=("source", "sink", "files", "lakehouse", "join"),
)
def files_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read table layout: immutable base parquet + a delete
    vector + an upsert delta, reconciled at READ time — the lakehouse
    pattern (Iceberg positional deletes / Delta DVs / Hudi MoR) that
    makes row-level DELETE and UPDATE O(changed rows) instead of
    O(table) at 100 TB, deferring the rewrite to compaction.

    The base table is never rewritten: deletes land as a key file
    (keys % 7), updates as full replacement rows (keys % 13, price+1,
    exact DECIMAL arithmetic so the written double is engine-
    identical). The read path is the production shape — base
    LEFT ANTI JOIN (delete keys UNION update keys), then UNION ALL the
    delta rows. Both tombstone relations are broadcast (delete/delta
    files are tiny relative to base by construction of the pattern;
    past the broadcast threshold this becomes a shuffled anti-join,
    still O(changes) state per task). The verification aggregate
    hash-matches the oracle computed by applying the same DELETE +
    UPDATE logically to the original parquet — proving read-time
    reconciliation loses nothing.
    """
    from datafusion_streams_spark.layouts import memoized_layout

    # the base+delete+delta layout is the FIXTURE (at scale it
    # pre-exists); memoize the one-time write so the timed path is the
    # read-time reconciliation
    def _build(path: str) -> None:
        base = _orders_subset(spark, sf_dir)
        base.write.mode("overwrite").parquet(f"{path}/base")
        written = spark.read.parquet(f"{path}/base")
        # delete vector: bare keys (as a positional-delete file would carry)
        written.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey"
        ).write.mode("overwrite").parquet(f"{path}/deletes")
        # upsert delta: full rows, price bumped via exact decimal arithmetic
        written.filter(
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 7 != 0)
        ).withColumn(
            "o_totalprice", (dec("o_totalprice") + F.lit(1)).cast("double")
        ).write.mode("overwrite").parquet(f"{path}/delta")

    root = memoized_layout(sf_dir, "mor_orders", _build)
    base_dir, del_dir, upd_dir = f"{root}/base", f"{root}/deletes", f"{root}/delta"

    base_r = spark.read.parquet(base_dir)
    dels = spark.read.parquet(del_dir)
    upds = spark.read.parquet(upd_dir)
    tombstones = dels.select("o_orderkey").unionByName(upds.select("o_orderkey"))
    merged = base_r.join(
        F.broadcast(tombstones), on="o_orderkey", how="left_anti"
    ).unionByName(upds)
    return _verify_agg(merged)


_TIME_TRAVEL_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority, o_totalprice, {_NOTE_SQL} AS o_note
    FROM orders
),
snapshots AS (
    SELECT 1 AS version, * FROM base
    UNION ALL
    SELECT 2 AS version, * FROM base WHERE o_orderkey % 7 <> 0
)
SELECT
    CAST(version AS BIGINT) AS version,
    o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
    CAST(MIN(o_orderdate) AS VARCHAR) AS first_date,
    CAST(MAX(o_orderdate) AS VARCHAR) AS last_date
FROM snapshots
GROUP BY version, o_orderpriority
"""


@query(
    "files_time_travel",
    oracle=_TIME_TRAVEL_ORACLE,
    tags=("source", "sink", "files", "lakehouse"),
)
def files_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table reads (time travel): each commit writes
    NEW immutable data files plus a manifest listing exactly the files
    in that snapshot; readers resolve a version to its file list and
    scan only those — so querying yesterday's snapshot after today's
    compaction/delete is just reading a different manifest, the
    Iceberg/Delta mechanism that makes reproducible training-data
    snapshots free at 100 TB (no copies, only metadata).

    v1 commits the full orders subset; v2 commits a DELETE (keys % 7
    dropped) rewritten into fresh files in a sibling directory — v1's
    files are untouched. Both manifests are tiny JSON (file lists —
    metadata, not data; at scale this is the catalog/metastore layer).
    The query reads BOTH versions through their manifests after v2
    exists and aggregates each: v1's numbers must still match the
    original table exactly (snapshot isolation — proven by the hash
    check) while v2 reflects the delete.
    """
    import json as _json
    import os as _os

    from datafusion_streams_spark.layouts import memoized_layout

    def _commit(table: str, df: DataFrame, version: int) -> None:
        data_dir = _os.path.join(table, f"data-v{version}")
        df.write.mode("overwrite").parquet(data_dir)
        files = sorted(
            _os.path.join(data_dir, f)
            for f in _os.listdir(data_dir)
            if f.endswith(".parquet")
        )
        manifest = {"version": version, "files": files}
        tmp = _os.path.join(table, f".manifest-v{version}.tmp")
        with open(tmp, "w") as fh:
            _json.dump(manifest, fh)
        _os.rename(tmp, _os.path.join(table, f"manifest-v{version}.json"))

    # both commits are the table's HISTORY — a fixture that pre-exists
    # at scale; the timed path is manifest resolution + the two scans
    def _build(table: str) -> None:
        _commit(table, _orders_subset(spark, sf_dir), 1)
        _commit(
            table,
            spark.read.parquet(_os.path.join(table, "data-v1")).filter(
                F.col("o_orderkey") % 7 != 0
            ),
            2,
        )

    table = memoized_layout(sf_dir, "tt_orders", _build)

    def _read_version(version: int) -> DataFrame:
        with open(_os.path.join(table, f"manifest-v{version}.json")) as fh:
            manifest = _json.load(fh)
        return spark.read.parquet(*manifest["files"])

    def _snap_agg(df: DataFrame, version: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
            F.min("o_orderdate").cast("string").alias("first_date"),
            F.max("o_orderdate").cast("string").alias("last_date"),
        ).select(F.lit(version).cast("long").alias("version"), "*")

    return _snap_agg(_read_version(1), 1).unionByName(_snap_agg(_read_version(2), 2))
