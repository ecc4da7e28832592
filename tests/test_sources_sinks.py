"""Source-format and sink coverage (SURVEY.md §2.3 rows: file scans /
formats, sinks)."""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datafusion_streams_spark.sources import kafka as ksrc
from datafusion_streams_spark.sources.kafka import events_stream, kafka_like_stream
from datafusion_streams_spark.streaming.microbatch import drain
from tests.conftest import SF_DIR_SMALL

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))

from eventlog import LISTING_PREFIX  # noqa: E402
from tools.reuse_audit import execution_mark, stream_batches  # noqa: E402


def _events_sample(spark):
    from datafusion_streams_spark.catalog import table

    return table(spark, SF_DIR_SMALL, "events").select(
        "event_id", "user_id", "event_type", "value"
    )


def test_csv_roundtrip(spark, tmp_path):
    src = _events_sample(spark)
    d = str(tmp_path)
    src.write.mode("overwrite").option("header", "true").csv(d)
    back = (
        spark.read.option("header", "true")
        .schema("event_id long, user_id long, event_type string, value double")
        .csv(d)
    )
    assert back.count() == src.count()
    assert back.agg(F.sum("event_id")).first()[0] == src.agg(F.sum("event_id")).first()[0]


def test_json_roundtrip(spark, tmp_path):
    src = _events_sample(spark)
    d = str(tmp_path)
    src.write.mode("overwrite").json(d)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(d)
    assert back.count() == src.count()
    assert back.agg(F.sum("event_id")).first()[0] == src.agg(F.sum("event_id")).first()[0]


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    """Partitioned parquet write + partition-pruned read: the layout a
    100 TB table would actually use."""
    src = _events_sample(spark)
    d = str(tmp_path)
    src.write.mode("overwrite").partitionBy("event_type").parquet(d)
    back = spark.read.parquet(d).filter(F.col("event_type") == "purchase")
    expected = src.filter(F.col("event_type") == "purchase").count()
    assert back.count() == expected
    plan = back._sc._jvm.PythonSQLUtils.explainString(back._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan


def test_streaming_parquet_sink(spark, tmp_path):
    """writeStream -> parquet files (exactly-once file sink with the
    offset/commit log the reference lacks entirely)."""
    out = str(tmp_path)
    msgs = kafka_like_stream(spark, SF_DIR_SMALL).select(
        F.col("key").cast("string").alias("key"),
        F.length(F.col("value").cast("string")).alias("len_value"),
    )
    drain(msgs, ("parquet", out))
    written = spark.read.parquet(out)
    assert written.count() == spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet").count()
    assert set(written.columns) == {"key", "len_value"}


def _land_events(directory: Path, n_files: int, rows: int, first_id: int = 0) -> set[int]:
    """``n_files`` events files of ``rows`` fixture rows each, with fresh
    event ids from ``first_id``; returns the ids landed."""
    src = pq.read_table(f"{SF_DIR_SMALL}/events.parquet").slice(0, rows)
    directory.mkdir(parents=True, exist_ok=True)
    ids: set[int] = set()
    for i in range(n_files):
        col = list(range(first_id + i * rows, first_id + (i + 1) * rows))
        t = src.set_column(0, "event_id", pa.array(col, pa.int64()))
        pq.write_table(t, str(directory / f"events-{i:05d}.parquet"))
        ids.update(col)
    return ids


def test_events_stream_runs_no_listing_job_per_trigger(spark, tmp_path, monkeypatch):
    """The events stream lists its one directory root on the driver:
    over 40 landed files (above the 32-root parallel-discovery
    threshold) no job of the query is a parallel leaf-file listing. A
    glob path would make every file a root and run such a job on every
    trigger. A batch of more than 32 new files is still listed once by
    its own file index, so a cap of 8 files per trigger keeps that
    batch-sized listing out of this check."""
    ids = _land_events(tmp_path, 40, 5)
    monkeypatch.setattr(ksrc, "EVENTS_MAX_FILES_PER_TRIGGER", 8)
    mark = execution_mark(spark)
    name = drain(
        events_stream(spark, str(tmp_path)).select("event_id"),
        until=lambda s, n: s.table(n).count() >= len(ids),
    )
    got = {r.event_id for r in spark.table(name).collect()}
    spark.catalog.dropTempView(name)
    assert got == ids

    run_ids = {run_id for n, run_id in stream_batches(spark, mark) if n == name}
    assert len(run_ids) == 1
    job_ids = spark.sparkContext.statusTracker().getJobIdsForGroup(run_ids.pop())
    assert job_ids  # the query's jobs are in its run-id group
    store = spark.sparkContext._jsc.sc().statusStore()
    descriptions = [store.job(j).description() for j in job_ids]
    descriptions = [d.get() for d in descriptions if d.isDefined()]
    assert [d for d in descriptions if d.startswith(LISTING_PREFIX)] == []


def test_events_stream_reads_only_events_files(spark, tmp_path):
    """The directory root is listed recursively, so the name filter is
    what keeps a landing file, another table and a batch copy of the
    events under ``batch/events.parquet/`` out of the stream."""
    ids = _land_events(tmp_path, 1, 20)
    (tmp_path / "_landing-events-00001.parquet").write_bytes(
        (tmp_path / "events-00000.parquet").read_bytes()
    )
    shutil.copy(f"{SF_DIR_SMALL}/customer.parquet", tmp_path / "customer.parquet")
    part = tmp_path / "batch" / "events.parquet"
    _land_events(part, 1, 20, first_id=10**6)
    (part / "events-00000.parquet").rename(part / "part-00.parquet")

    name = drain(events_stream(spark, str(tmp_path)).select("event_id"))
    got = [r.event_id for r in spark.table(name).collect()]
    spark.catalog.dropTempView(name)
    assert sorted(got) == sorted(ids)


def test_events_stream_rejects_directory_shaped_events(spark, tmp_path):
    """A directory named ``events.parquet`` fails at plan build instead
    of streaming nothing: its part files do not match the name filter."""
    _land_events(tmp_path / "events.parquet", 1, 5)
    with pytest.raises(OSError):
        events_stream(spark, str(tmp_path))


def test_pydatasource_batch_matches_builtin_path(spark):
    """The pluggable Python DataSource must produce byte-identical
    messages to the built-in emulation (same generator, same
    non-null-binary semantics)."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.kafka import kafka_like_from_events
    from datafusion_streams_spark.sources.pydatasource import register_kafka_emu

    register_kafka_emu(spark)
    via_ds = (
        spark.read.format("kafka_emu")
        .option("path", f"{SF_DIR_SMALL}/events.parquet")
        .load()
        .select("key", "value")
    )
    builtin = kafka_like_from_events(spark, SF_DIR_SMALL)
    a = {(bytes(r.key), bytes(r.value)) for r in via_ds.collect()}
    b = {(bytes(r.key), bytes(r.value)) for r in builtin.collect()}
    assert a == b
    # reference partitioning contract: one task per emulated partition
    assert via_ds.rdd.getNumPartitions() == 3
    # non-null binary (reference src/lib.rs:9-10)
    assert via_ds.where(F.col("key").isNull() | F.col("value").isNull()).count() == 0


def test_pydatasource_stream_row_cap_bounds_batches(spark):
    """The stream reader's maxRowsPerBatch must bound each micro-batch's
    admitted rows (the reference's batch_size at execution.rs:87),
    observable as multiple batches over the 1000-row fixture."""
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.pydatasource import register_kafka_emu

    register_kafka_emu(spark)
    s = (
        spark.readStream.format("kafka_emu")
        .option("path", f"{SF_DIR_SMALL}/events.parquet")
        .option("maxRowsPerBatch", "300")
        .load()
    )
    batch_sizes = []

    def sink(df, epoch_id):
        n = df.count()
        if n:
            batch_sizes.append(n)

    drain(
        s.select(F.length(F.col("value").cast("string")).alias("len_value")),
        sink,
        timeout_sec=60,
        until=lambda *_: sum(batch_sizes) >= 1000,
    )
    assert sum(batch_sizes) == 1000, batch_sizes
    # the 300-row cap splits 3 ways -> 100/partition/trigger; every
    # batch obeys the cap and >= 4 triggers were needed
    assert all(n <= 300 for n in batch_sizes), batch_sizes
    assert len(batch_sizes) >= 4, batch_sizes


def test_compaction_reduces_file_count(spark, tmp_path):
    """files_compaction's operational claim: 64 shattered part files
    come back as ceil(bytes/target) files (1 at fixture scale), with
    zero row loss."""
    import os

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compact")
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.parquet(src)
    n_small = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_small == 64
    spark.read.parquet(src).coalesce(1).write.parquet(dst)
    n_compact = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_compact == 1
    assert spark.read.parquet(dst).count() == 10_000


def test_pysink_manifest_atomicity_on_failure(spark, tmp_path):
    """A failed write job must leave NO manifest — readers going through
    manifest_files() observe nothing (two-phase commit contract). The
    part files of failed/aborted tasks are garbage, not data."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datafusion_streams_spark.sources.pysink import (
        manifest_files,
        register_manifest_sink,
    )

    register_manifest_sink(spark)
    out = str(tmp_path)

    @F.udf("long")
    def boom(v):
        if v == 7:
            raise ValueError("injected task failure")
        return v

    df = spark.range(0, 16, 1, 4).select(boom(F.col("id")).alias("id"))
    with pytest.raises(Exception):
        df.write.format("manifest_sink").option("path", out).mode("append").save()
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    assert manifest_files(out) == []


def test_avro_py_spec_byte_vectors(tmp_path):
    """Pin the clean-room Avro binary encoding to the spec's published
    examples: zigzag varint longs (1 -> 0x02, -64 -> 0x7f, 64 -> 0x80
    0x01), container magic, and the null-codec metadata keys."""
    import io
    import os

    from datafusion_streams_spark.sources.avro_py import (
        MAGIC,
        _read_long,
        _write_long,
        write_avro_file,
    )

    def enc(n: int) -> bytes:
        b = io.BytesIO()
        _write_long(b, n)
        return b.getvalue()

    assert enc(0) == b"\x00"
    assert enc(-1) == b"\x01"
    assert enc(1) == b"\x02"
    assert enc(-2) == b"\x03"
    assert enc(2) == b"\x04"
    assert enc(-64) == b"\x7f"
    assert enc(64) == b"\x80\x01"
    for n in (0, 1, -1, 63, -64, 64, 2**40, -(2**40), 2**62):
        assert _read_long(io.BufferedReader(io.BytesIO(enc(n)))) == n

    td = str(tmp_path)
    p = os.path.join(td, "v.avro")
    write_avro_file(p, [("k", "long")], [{"k": 1}])
    raw = open(p, "rb").read()
    assert raw[:4] == MAGIC == b"Obj\x01"
    assert b"avro.schema" in raw and b"avro.codec" in raw and b"null" in raw


def test_avro_py_reader_rejects_unknown_codec(tmp_path):
    """Codec guard: an unsupported codec (bzip2 — named by the Avro
    spec but deliberately not implemented here) must raise a clear
    error, not decode garbage. null/deflate/snappy are the supported
    set since r6 and exercised below."""
    import io

    import pytest

    from datafusion_streams_spark.sources.avro_py import (
        MAGIC,
        SYNC,
        _write_long,
        read_avro_header,
    )

    buf = io.BytesIO()
    buf.write(MAGIC)
    _write_long(buf, 2)
    for k, v in ((b"avro.schema", b'{"type":"record","name":"r","fields":[]}'),
                 (b"avro.codec", b"bzip2")):
        _write_long(buf, len(k)); buf.write(k)
        _write_long(buf, len(v)); buf.write(v)
    _write_long(buf, 0)
    buf.write(SYNC)
    p = tmp_path / "bad.avro"
    p.write_bytes(buf.getvalue())
    with pytest.raises(ValueError, match="codec"):
        read_avro_header(str(p))


def test_avro_bare_int_field_decodes_as_long_not_date(tmp_path):
    """r6 ADVICE: an externally written container with a plain "int"
    column (no logicalType) must decode as integers — only
    {"type":"int","logicalType":"date"} is a date. Hand-build the
    container so the schema JSON is exactly what a foreign writer
    emits (int and long share the zigzag-varint wire format)."""
    import io

    from datafusion_streams_spark.sources.avro_py import (
        MAGIC,
        SYNC,
        _fields_from_avro_json,
        _write_long,
        read_avro_file,
    )

    schema = (
        b'{"type":"record","name":"r","fields":['
        b'{"name":"a","type":"int"},'
        b'{"name":"d","type":{"type":"int","logicalType":"date"}}]}'
    )
    assert _fields_from_avro_json(schema.decode()) == [("a", "long"), ("d", "date")]

    buf = io.BytesIO()
    buf.write(MAGIC)
    _write_long(buf, 2)
    for k, v in ((b"avro.schema", schema), (b"avro.codec", b"null")):
        _write_long(buf, len(k)); buf.write(k)
        _write_long(buf, len(v)); buf.write(v)
    _write_long(buf, 0)
    buf.write(SYNC)
    body = io.BytesIO()
    _write_long(body, -42)      # the bare int column
    _write_long(body, 19723)    # 2024-01-01 as days-since-epoch
    _write_long(buf, 1)
    _write_long(buf, len(body.getvalue()))
    buf.write(body.getvalue())
    buf.write(SYNC)
    p = tmp_path / "ext.avro"
    p.write_bytes(buf.getvalue())

    rows = list(read_avro_file(str(p)))
    assert len(rows) == 1
    a, d = rows[0]
    assert a == -42 and isinstance(a, int)
    import datetime

    assert isinstance(d, datetime.date) and d.year == 2024

    # spec-legal wrapped plain types unwrap; unknown logicalTypes fall
    # back to the base type; non-scalar bases fail closed as ValueError
    import json as _json

    import pytest as _pytest

    def fields_of(ftypes):
        return _fields_from_avro_json(_json.dumps({
            "type": "record", "name": "r",
            "fields": [{"name": f"c{i}", "type": t} for i, t in enumerate(ftypes)],
        }))

    assert fields_of([{"type": "long"}, {"type": "int"}]) == [
        ("c0", "long"), ("c1", "long")]
    assert fields_of([{"type": "int", "logicalType": "time-millis"}]) == [
        ("c0", "long")]
    assert fields_of([{"type": "string", "logicalType": "date"}]) == [
        ("c0", "string")]  # date requires an int base
    with _pytest.raises(ValueError, match="unsupported field type"):
        fields_of([{"type": "array", "items": "long"}])
    # unknown scalar types are whitelisted OUT at parse time (a type
    # passed through would surface as a decode-loop error or a raw
    # KeyError from the DataSource schema hook), and valid-JSON shape
    # corruption fails closed as ValueError, never TypeError/KeyError
    for bad in (5, "boolean", "float", "bytes", None):
        with _pytest.raises(ValueError, match="unsupported field type"):
            fields_of([bad])
    with _pytest.raises(ValueError, match="non-string field name"):
        _fields_from_avro_json(
            '{"type":"record","fields":[{"name":5,"type":"long"}]}'
        )
    for shape in ("[]", "5", "null", "{}", '{"fields":5}', '{"fields":[5]}',
                  '{"fields":[{}]}', '{"fields":[{"name":"x"}]}'):
        with _pytest.raises(ValueError):
            _fields_from_avro_json(shape)


def test_avro_columnar_paths_match_row_paths(tmp_path):
    """The Arrow DataSource fast paths (columnar encode with raw date32
    days, block-wise RecordBatch decode) must be wire-identical to the
    per-row reference implementation for every codec."""
    import datetime

    from datafusion_streams_spark.sources.avro_py import (
        read_avro_batches,
        read_avro_file,
        write_avro_file,
        write_avro_file_cols,
    )

    fields = [("k", "long"), ("d", "date"), ("p", "double"), ("s", "string")]
    rows = [
        {
            "k": i * 13 - 7,
            "d": datetime.date(1997, 3, 1) + datetime.timedelta(days=i % 11),
            "p": i / 3.0,
            "s": f'v {i}, "q"',
        }
        for i in range(9001)  # spans multiple 4096-row blocks + a tail
    ]
    epoch = datetime.date(1970, 1, 1)
    cols = [
        [r["k"] for r in rows],
        [(r["d"] - epoch).days for r in rows],  # raw date32 days
        [r["p"] for r in rows],
        [r["s"] for r in rows],
    ]
    for codec in ("null", "deflate", "snappy"):
        p_row = str(tmp_path / f"row_{codec}.avro")
        p_col = str(tmp_path / f"col_{codec}.avro")
        assert write_avro_file(p_row, fields, rows, codec=codec) == 9001
        assert write_avro_file_cols(p_col, fields, iter([cols]), codec=codec) == 9001
        assert open(p_row, "rb").read() == open(p_col, "rb").read(), codec

        row_vals = list(read_avro_file(p_row))
        batches = list(read_avro_batches(p_col))
        assert [len(b) for b in batches] == [4096, 4096, 809]
        arrow_vals = [
            tuple(b.column(j)[i].as_py() for j in range(len(fields)))
            for b in batches
            for i in range(len(b))
        ]
        assert arrow_vals == row_vals, codec

    # an empty partition writes a header-only container that both
    # readers handle as zero rows
    p_empty = str(tmp_path / "empty.avro")
    assert write_avro_file_cols(p_empty, fields, iter([]), codec="null") == 0
    assert list(read_avro_file(p_empty)) == []
    assert list(read_avro_batches(p_empty)) == []


def test_avro_wire_range_checks_fail_closed(tmp_path):
    """A 10-byte zigzag varint can carry up to 2**70 — beyond int64 and
    far beyond python's date range. Corrupt containers holding such
    values must raise ValueError from BOTH readers (the fail-closed
    contract), never leak OverflowError out of pa.array / timedelta."""
    import pytest

    from datafusion_streams_spark.sources.avro_py import (
        _write_block,
        _write_container_header,
        read_avro_batches,
        read_avro_file,
    )

    def zigzag(n: int) -> bytes:
        z = n << 1
        out = bytearray()
        while z > 0x7F:
            out.append((z & 0x7F) | 0x80)
            z >>= 7
        out.append(z)
        return bytes(out)

    cases = [
        (("x", "long"), zigzag(1 << 70), "long out of int64 range"),
        (("d", "date"), zigzag(1 << 40), "date out of supported range"),
    ]
    # writers enforce the same bound: no container we emit is one our
    # own readers refuse
    from datafusion_streams_spark.sources.avro_py import (
        write_avro_file,
        write_avro_file_cols,
    )

    with pytest.raises(ValueError, match="long out of int64 range"):
        write_avro_file(str(tmp_path / "wbig.avro"), [("x", "long")], [{"x": 1 << 70}])
    with pytest.raises(ValueError, match="long out of int64 range"):
        write_avro_file_cols(
            str(tmp_path / "wbig2.avro"), [("x", "long")], iter([[[1 << 70]]])
        )
    # the columnar writer takes raw date32 days (full int32 range from
    # an Arrow cast) — days beyond python's date range must fail at
    # encode, mirroring the decoders, not produce an unreadable file
    with pytest.raises(ValueError, match="date out of supported range"):
        write_avro_file_cols(
            str(tmp_path / "wbig3.avro"), [("d", "date")], iter([[[1 << 40]]])
        )
    # a block declaring more rows than its bytes can hold (>= 1 byte
    # per field value) must be rejected before the decode loop runs
    p_rc = str(tmp_path / "rowcount.avro")
    with open(p_rc, "wb") as f:
        _write_container_header(f, [("x", "long")], "null")
        _write_block(f, 1 << 40, zigzag(1), "null")
    for reader in (read_avro_file, read_avro_batches):
        with pytest.raises(ValueError, match="row count exceeds block size"):
            list(reader(p_rc))
    for field, body, msg in cases:
        p = str(tmp_path / f"corrupt_{field[1]}.avro")
        with open(p, "wb") as f:
            _write_container_header(f, [field], "null")
            _write_block(f, 1, body, "null")
        with pytest.raises(ValueError, match=msg):
            list(read_avro_file(p))
        with pytest.raises(ValueError, match=msg):
            list(read_avro_batches(p))


def test_avro_spec_container_conformance_edges(tmp_path):
    """Two container-walk edges from the Avro 1.11 spec: (a) a NEGATIVE
    metadata-map block count is followed by a long byte size, then
    |count| pairs — a reader using abs(count) alone misparses the size
    long as the first key length; (b) a data block whose body holds
    bytes beyond its declared row count is corrupt and must be rejected
    by both readers, not silently accepted."""
    import io
    import pytest

    from datafusion_streams_spark.sources.avro_py import (
        MAGIC,
        SYNC,
        _avro_schema_json,
        _encode_block,
        _write_block,
        _write_long,
        _write_bytes,
        read_avro_batches,
        read_avro_file,
        read_avro_meta,
    )

    fields = [("x", "long")]

    # (a) negative-count metadata map block
    p = str(tmp_path / "negmap.avro")
    meta = io.BytesIO()
    _write_bytes(meta, b"avro.schema")
    _write_bytes(meta, _avro_schema_json(fields).encode())
    _write_bytes(meta, b"avro.codec")
    _write_bytes(meta, b"null")
    pairs = meta.getvalue()
    with open(p, "wb") as f:
        f.write(MAGIC)
        head = io.BytesIO()
        _write_long(head, -2)          # negative count: 2 pairs
        _write_long(head, len(pairs))  # spec-mandated block byte size
        f.write(head.getvalue())
        f.write(pairs)
        zero = io.BytesIO()
        _write_long(zero, 0)
        f.write(zero.getvalue())
        f.write(SYNC)
        _write_block(f, 2, _encode_block([{"x": 1}, {"x": 2}], fields), "null")
    assert read_avro_meta(p) == (fields, "null")
    assert list(read_avro_file(p)) == [(1,), (2,)]
    assert [b.num_rows for b in read_avro_batches(p)] == [2]

    # (b) trailing bytes after the declared rows of a block
    p_bad = str(tmp_path / "trailing.avro")
    with open(p_bad, "wb") as f:
        f.write(MAGIC)
        head = io.BytesIO()
        _write_long(head, 2)
        f.write(head.getvalue())
        f.write(pairs)
        zero = io.BytesIO()
        _write_long(zero, 0)
        f.write(zero.getvalue())
        f.write(SYNC)
        body = _encode_block([{"x": 1}], fields) + b"\x02"  # 1 row + junk
        _write_block(f, 1, body, "null")
    with pytest.raises(ValueError, match="trailing bytes"):
        list(read_avro_file(p_bad))
    with pytest.raises(ValueError, match="trailing bytes"):
        list(read_avro_batches(p_bad))


def test_avro_zero_field_spark_read_preserves_count(spark, tmp_path):
    """A zero-field container read through the Spark DataSource yields
    its row count (column-less RecordBatches survive the channel; the
    schema() hook must return StructType([]), not an empty DDL string).
    The WRITE direction cannot be symmetric: Spark ships writer input
    as Arrow batches under both protocols and a zero-column batch
    carries no row count — documented on AvroPyZeroFieldWriter."""
    from datafusion_streams_spark.sources.avro_py import (
        register_avro_py,
        write_avro_file,
    )

    d = tmp_path / "zf"
    d.mkdir()
    assert write_avro_file(str(d / "part-0.avro"), [], [{}] * 5) == 5
    register_avro_py(spark)
    back = spark.read.format("avro_py").option("path", str(d)).load()
    assert back.columns == []
    assert back.count() == 5


def test_avro_huge_declared_lengths_fail_closed_without_allocation(tmp_path):
    """A corrupt varint can declare a ~2**60-byte metadata value or
    block body; handing that to read() preallocates the buffer and
    raises MemoryError (found by mutation soak). Both declared-length
    reads are chunked and must fail closed with ValueError at EOF,
    quickly."""
    import io
    import time
    import pytest

    from datafusion_streams_spark.sources.avro_py import (
        MAGIC,
        SYNC,
        _avro_schema_json,
        _encode_block,
        _write_bytes,
        _write_long,
        read_avro_batches,
        read_avro_file,
        read_avro_meta,
    )

    fields = [("x", "long")]

    def header(f, key_len_override=None):
        f.write(MAGIC)
        meta = io.BytesIO()
        _write_long(meta, 2)
        if key_len_override is not None:
            _write_long(meta, key_len_override)  # huge declared key length
        else:
            _write_bytes(meta, b"avro.schema")
        _write_bytes(meta, _avro_schema_json(fields).encode())
        _write_bytes(meta, b"avro.codec")
        _write_bytes(meta, b"null")
        _write_long(meta, 0)
        f.write(meta.getvalue())
        f.write(SYNC)

    p_meta = str(tmp_path / "huge_meta.avro")
    with open(p_meta, "wb") as f:
        header(f, key_len_override=1 << 60)
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="truncated"):
        read_avro_meta(p_meta)
    assert time.monotonic() - t0 < 2.0

    p_block = str(tmp_path / "huge_block.avro")
    with open(p_block, "wb") as f:
        header(f)
        head = io.BytesIO()
        _write_long(head, 1)        # one declared row
        _write_long(head, 1 << 60)  # huge declared block byte size
        f.write(head.getvalue())
        f.write(_encode_block([{"x": 1}], fields))
        f.write(SYNC)
    for reader in (read_avro_file, read_avro_batches):
        t0 = time.monotonic()
        with pytest.raises(ValueError, match="truncated"):
            list(reader(p_block))
        assert time.monotonic() - t0 < 2.0


def test_avro_deflate_bomb_and_name_injection_fail_closed(tmp_path):
    """r8 hardening (ADVICE): (1) a crafted deflate block that inflates
    past the per-block budget must fail closed as ValueError BEFORE
    ballooning (unbounded zlib.decompress allocated the full decoded
    size pre-check — 65KB -> 64MB); (2) a schema field name like
    'a bigint, b' must be rejected at parse time, not flow into the
    DDL string the DataSource schema hook builds; (3) the columnar
    block decoder rejects zero-field schemas instead of silently
    losing the row count."""
    import io
    import json
    import zlib

    import pytest

    from datafusion_streams_spark.sources.avro_py import (
        MAGIC,
        SYNC,
        _MAX_BLOCK_DECODED_BYTES,
        _avro_schema_json,
        _decode_block_cols,
        _decompress_block,
        _fields_from_avro_json,
        _write_bytes,
        _write_long,
        read_avro_batches,
        read_avro_file,
    )

    # (1a) real-budget bomb: ~64KB of deflate expanding to budget+1
    bomb_plain_len = _MAX_BLOCK_DECODED_BYTES + 1
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    bomb = c.compress(b"\x00" * bomb_plain_len) + c.flush()
    assert len(bomb) < 1 << 17  # the attack: tiny wire, huge decode
    with pytest.raises(ValueError, match="decode budget"):
        _decompress_block(bomb, "deflate")
    # at/under budget still round-trips
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    ok_payload = c.compress(b"ab" * 512) + c.flush()
    assert _decompress_block(ok_payload, "deflate") == b"ab" * 512
    # truncated stream and trailing garbage both fail closed
    with pytest.raises(ValueError):
        _decompress_block(ok_payload[:-1], "deflate")
    with pytest.raises(ValueError, match="trailing"):
        _decompress_block(ok_payload + b"junk", "deflate")

    # (1b) end-to-end: a container whose deflate block is the bomb
    # raises ValueError from both readers (never MemoryError)
    fields = [("s", "string")]
    p = str(tmp_path / "bomb.avro")
    with open(p, "wb") as f:
        f.write(MAGIC)
        meta = io.BytesIO()
        _write_long(meta, 2)
        _write_bytes(meta, b"avro.schema")
        _write_bytes(meta, _avro_schema_json(fields).encode())
        _write_bytes(meta, b"avro.codec")
        _write_bytes(meta, b"deflate")
        _write_long(meta, 0)
        f.write(meta.getvalue())
        f.write(SYNC)
        head = io.BytesIO()
        _write_long(head, 1)          # declared rows
        _write_long(head, len(bomb))  # declared (compressed) size
        f.write(head.getvalue())
        f.write(bomb)
        f.write(SYNC)
    for reader in (read_avro_file, read_avro_batches):
        with pytest.raises(ValueError, match="decode budget"):
            list(reader(p))

    # (2) Avro's name rule [A-Za-z_][A-Za-z0-9_]* enforced at parse time
    def schema_with_name(name):
        return json.dumps({
            "type": "record", "name": "r",
            "fields": [{"name": name, "type": "long"}],
        })

    for bad in ("a bigint, b", 'a"b', "1x", "", "a-b", "a.b", "a\nb"):
        with pytest.raises(ValueError, match="invalid field name"):
            _fields_from_avro_json(schema_with_name(bad))
    assert _fields_from_avro_json(schema_with_name("_ok_Name9")) == [
        ("_ok_Name9", "long")]

    # (3) columnar decoder refuses zero-field schemas (its return shape
    # cannot carry a bare row count); the row decoder remains the path
    with pytest.raises(ValueError, match="zero-field"):
        _decode_block_cols(b"", [], 5)


def test_avro_zero_field_schema_preserves_row_count(tmp_path):
    """Zero-field rows occupy zero bytes — only the block headers carry
    the count. The row writer/reader frame it; the batch reader returns
    column-less RecordBatches with the right length (struct<> arrays);
    the columnar writer rejects (its col-block contract has no count);
    non-empty zero-field block bodies fail closed."""
    import pytest

    from datafusion_streams_spark.sources.avro_py import (
        _write_block,
        _write_container_header,
        read_avro_batches,
        read_avro_file,
        write_avro_file,
        write_avro_file_cols,
    )

    p = str(tmp_path / "zerofield.avro")
    assert write_avro_file(p, [], [{} for _ in range(5)]) == 5
    assert list(read_avro_file(p)) == [()] * 5
    batches = list(read_avro_batches(p))
    assert sum(b.num_rows for b in batches) == 5
    assert all(b.num_columns == 0 for b in batches)

    with pytest.raises(ValueError, match="zero-field schema"):
        write_avro_file_cols(str(tmp_path / "zf2.avro"), [], iter([]))

    p_bad = str(tmp_path / "zf_bad.avro")
    with open(p_bad, "wb") as f:
        _write_container_header(f, [], "null")
        _write_block(f, 2, b"\x01", "null")
    with pytest.raises(ValueError, match="trailing bytes"):
        list(read_avro_batches(p_bad))
    with pytest.raises(ValueError, match="trailing bytes"):
        list(read_avro_file(p_bad))

    # zero-field rows occupy zero bytes, so the declared count is the
    # only content — a corrupt header demanding 2**40 rows must fail
    # closed in both readers instead of allocating the row objects
    import time

    p_bomb = str(tmp_path / "zf_bomb.avro")
    with open(p_bomb, "wb") as f:
        _write_container_header(f, [], "null")
        _write_block(f, 1 << 40, b"", "null")
    for reader in (read_avro_file, read_avro_batches):
        t0 = time.monotonic()
        with pytest.raises(ValueError, match="row count implausible"):
            list(reader(p_bomb))
        assert time.monotonic() - t0 < 2.0


def test_avro_py_deflate_codec_roundtrip(tmp_path):
    """r6: the deflate codec is raw RFC 1951 DEFLATE per block (no
    zlib framing, no checksum — the Avro spec's definition). A
    compressible payload must (a) roundtrip exactly, (b) produce a
    genuinely smaller file than the null codec, and (c) decompress
    with plain zlib at wbits=-15 straight from the block bytes —
    proving on-disk spec conformance, not just self-consistency."""
    import io
    import zlib

    from datafusion_streams_spark.sources.avro_py import (
        SYNC,
        _read_long,
        read_avro_file,
        read_avro_meta,
        write_avro_file,
    )

    fields = [("k", "long"), ("s", "string"), ("d", "double")]
    rows = [{"k": i, "s": "repetitive payload " * 5, "d": i / 8} for i in range(200)]
    p_null = str(tmp_path / "n.avro")
    p_defl = str(tmp_path / "d.avro")
    write_avro_file(p_null, fields, rows, codec="null")
    write_avro_file(p_defl, fields, rows, codec="deflate")

    assert read_avro_meta(p_defl)[1] == "deflate"
    assert list(read_avro_file(p_defl)) == list(read_avro_file(p_null))
    import os

    assert os.path.getsize(p_defl) < os.path.getsize(p_null) / 2

    # independent decode: skip header, read (count, size, block), raw-
    # inflate the block with stdlib zlib and check the first zigzag long
    with open(p_defl, "rb") as f:
        f.read(4)
        while True:
            count = _read_long(f)
            if count == 0:
                break
            for _ in range(abs(count)):
                f.read(_read_long(f))
                f.read(_read_long(f))
        assert f.read(16) == SYNC
        n_rows = _read_long(f)
        size = _read_long(f)
        body = zlib.decompress(f.read(size), -15)
        assert n_rows == 200
        assert _read_long(io.BytesIO(body)) == 0  # first row: k=0


def test_avro_py_snappy_codec_roundtrip(tmp_path):
    """r6: the snappy codec per the Avro spec — each block is the raw
    snappy block format followed by a 4-byte BIG-endian CRC32 of the
    UNCOMPRESSED bytes. A compressible payload must (a) roundtrip
    exactly, (b) beat the null codec on size, and (c) carry a CRC that
    stdlib zlib.crc32 independently confirms against the decompressed
    block — and corrupting the stored CRC must fail the read."""
    import io
    import struct
    import zlib

    from datafusion_streams_spark.codecs.snappy import decompress as snappy_raw
    from datafusion_streams_spark.sources.avro_py import (
        SYNC,
        _read_long,
        read_avro_file,
        read_avro_meta,
        write_avro_file,
    )

    fields = [("k", "long"), ("s", "string"), ("d", "double")]
    rows = [{"k": i, "s": "repetitive payload " * 5, "d": i / 8} for i in range(200)]
    p_null = str(tmp_path / "n.avro")
    p_snap = str(tmp_path / "s.avro")
    write_avro_file(p_null, fields, rows, codec="null")
    write_avro_file(p_snap, fields, rows, codec="snappy")

    assert read_avro_meta(p_snap)[1] == "snappy"
    assert list(read_avro_file(p_snap)) == list(read_avro_file(p_null))
    import os

    assert os.path.getsize(p_snap) < os.path.getsize(p_null) / 2

    # independent decode: skip the metadata map, read (count, size,
    # block); the last 4 block bytes are a big-endian CRC32 that must
    # match zlib.crc32 of the snappy-decoded body
    with open(p_snap, "rb") as f:
        f.read(4)
        while True:
            count = _read_long(f)
            if count == 0:
                break
            for _ in range(abs(count)):
                f.read(_read_long(f))
                f.read(_read_long(f))
        assert f.read(16) == SYNC
        n_rows = _read_long(f)
        size = _read_long(f)
        blob = f.read(size)
        body = snappy_raw(blob[:-4])
        (crc,) = struct.unpack(">I", blob[-4:])
        assert zlib.crc32(body) == crc
        assert n_rows == 200
        assert _read_long(io.BytesIO(body)) == 0  # first row: k=0

    # flip a CRC byte on disk -> the reader must refuse the block
    import pytest

    raw = bytearray(open(p_snap, "rb").read())
    # the CRC of the first block sits right before the trailing SYNC
    crc_pos = len(raw) - 16 - 4
    raw[crc_pos] ^= 0xFF
    p_bad = str(tmp_path / "bad_crc.avro")
    open(p_bad, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC32"):
        list(read_avro_file(p_bad))


def test_avro_block_codec_property(tmp_path):
    """Generative identity of the four avro encode/decode paths over
    adversarial values: extreme zigzag longs, empty/unicode/quote-heavy
    strings, signed zeros, inf and denormal doubles, epoch-adjacent
    dates. Row encode == columnar encode byte-for-byte; row decode ==
    columnar decode value-for-value (doubles compared bitwise)."""
    import datetime
    import math
    import struct as _struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datafusion_streams_spark.sources.avro_py import (
        _decode_block_cols,
        _decode_block_rows,
        _encode_block,
        _encode_cols,
    )

    fields = [("k", "long"), ("d", "date"), ("p", "double"), ("s", "string")]
    kinds = [k for _, k in fields]
    # the full int64 domain: the min/max boundaries exercise the
    # 10-byte-varint edge right under the decoders' range rejection
    longs = st.one_of(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        st.sampled_from([-(1 << 63), (1 << 63) - 1, -(1 << 62), (1 << 62)]),
    )
    days = st.integers(min_value=-100_000, max_value=100_000)
    doubles = st.one_of(
        st.floats(allow_nan=False),  # inf/denormals included
        st.sampled_from([0.0, -0.0, 5e-324, float("inf"), float("-inf")]),
    )
    strings = st.text(max_size=40)
    rows_strategy = st.lists(
        st.tuples(longs, days, doubles, strings), min_size=0, max_size=50
    )

    @settings(max_examples=120, deadline=None)
    @given(rows_strategy)
    def check(tuples):
        epoch = datetime.date(1970, 1, 1)
        row_dicts = [
            {"k": k, "d": epoch + datetime.timedelta(days=dd), "p": p, "s": s}
            for k, dd, p, s in tuples
        ]
        cols = [
            [t[0] for t in tuples],
            [t[1] for t in tuples],  # raw days
            [t[2] for t in tuples],
            [t[3] for t in tuples],
        ]
        wire_row = _encode_block(row_dicts, fields)
        wire_col = _encode_cols(cols, kinds)
        assert wire_row == wire_col
        dec_rows = _decode_block_rows(wire_row, fields, len(tuples))
        dec_cols = _decode_block_cols(wire_col, fields, len(tuples))
        for i, (k, dd, p, s) in enumerate(tuples):
            rk, rd, rp, rs = dec_rows[i]
            assert rk == k and rd == row_dicts[i]["d"] and rs == s
            assert _struct.pack("<d", rp) == _struct.pack("<d", p)  # bitwise
            assert dec_cols[0][i] == k and dec_cols[1][i] == dd
            assert _struct.pack("<d", dec_cols[2][i]) == _struct.pack("<d", p)
            assert dec_cols[3][i] == s

    check()


def test_avro_py_reader_fails_closed_under_mutation(tmp_path):
    """Seeded byte-mutation fuzz over all three codecs: a corrupted
    container must either decode or raise ValueError — never a leaked
    KeyError (schema JSON), struct.error (truncated double), or
    zlib.error (corrupt deflate block). At corpus scale corrupt files
    are a certainty, and a leaked exception type is a worker crash
    instead of a quarantinable row."""
    import random as _random

    from datafusion_streams_spark.sources.avro_py import (
        read_avro_file,
        write_avro_file,
    )

    rng = _random.Random(42)
    fields = [("k", "long"), ("s", "string"), ("d", "double")]
    rows = [{"k": i, "s": "payload %d" % i, "d": i / 8} for i in range(50)]
    pbad = str(tmp_path / "mut.avro")
    from datafusion_streams_spark.sources.avro_py import read_avro_batches

    for codec in ("null", "deflate", "snappy"):
        p = str(tmp_path / (codec + ".avro"))
        write_avro_file(p, fields, rows, codec=codec)
        good = open(p, "rb").read()
        assert len(list(read_avro_file(p))) == 50
        for i in range(500):
            b = bytearray(good)
            for _ in range(rng.randrange(1, 4)):
                op = rng.randrange(3)
                if op == 0 and b:
                    b[rng.randrange(len(b))] = rng.randrange(256)
                elif op == 1 and len(b) > 1:
                    del b[rng.randrange(len(b))]
                else:
                    b.insert(rng.randrange(len(b) + 1), rng.randrange(256))
            open(pbad, "wb").write(bytes(b))
            try:
                list(read_avro_file(pbad))
            except ValueError:
                pass  # the contract: malformed container -> ValueError
            if i % 5 == 0:  # the Arrow batch path shares the contract
                try:
                    list(read_avro_batches(pbad))
                except ValueError:
                    pass
