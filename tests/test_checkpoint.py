"""Offset checkpointing / exactly-once: the capability the reference
explicitly lacks (always replays from Offset::Beginning per recv —
`/root/reference/src/kafka/execution.rs:77-79,129-131`; SURVEY.md §3
entry point 2). Spark's offset log must process each input exactly
once across separate query restarts.

Every checkpoint file goes through the session's FileSystem-API
checkpoint manager (``session.get_session``): it verifies each log
file's ``.crc`` on read, and on a local path it forks no ``readlink``."""

from __future__ import annotations

import collections
import os
import re

import pytest
from pyspark.sql import functions as F

from datafusion_streams_spark.sources.kafka import events_stream
from datafusion_streams_spark.streaming.microbatch import drain
from tests.conftest import SF_DIR_SMALL

# chmod forks of one stateful drain of the events fixture: Hadoop's
# local FS sets each new directory's and file's permission (data file
# and .crc alike) through a shell without its native library. The
# highest count seen in fresh local[2] and local[4] processes.
DRAIN_CHMOD_FORKS = 60


def _run_once(spark, src_glob: str, ckpt: str, out_dir: str) -> None:
    q = (
        spark.readStream.schema("id long")
        .parquet(src_glob)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "drain did not finish"
    finally:
        q.stop()


def test_checkpoint_no_reprocessing_across_restarts(spark, tmp_path):
    """Run -> add data -> run again with the SAME checkpoint (parquet
    sink supports recovery; memory does not): total output must be
    10 + 5 rows with no duplicates — each input file processed exactly
    once across restarts."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.createDataFrame([(i,) for i in range(10)], "id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f1")

    _run_once(spark, f"{src}/f*/part-*.parquet", ckpt, out)
    first = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(first) == list(range(10))

    spark.createDataFrame([(i,) for i in range(10, 15)], "id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f2")

    # restart with the SAME checkpoint: only f2 may flow, no re-emission of f1
    _run_once(spark, f"{src}/f*/part-*.parquet", ckpt, out)
    total = [r.id for r in spark.read.parquet(out).collect()]
    assert sorted(total) == list(range(15)), (
        f"exactly-once violated: {sorted(total)}"
    )


def _event_counts(spark):
    return (
        events_stream(spark, SF_DIR_SMALL)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _process_starts(spark, fn, jfr_path) -> collections.Counter:
    """Run ``fn`` under a JDK Flight Recorder recording of the driver
    JVM's ``jdk.ProcessStart`` events; count the started programs by
    name."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
        path = jvm.java.io.File(str(jfr_path)).toPath()
        rec.dump(path)
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
    return collections.Counter(
        os.path.basename(events.get(i).getString("command").split()[0])
        for i in range(events.size())
    )


def test_stateful_drain_forks_no_readlink(spark, tmp_path):
    """Spark's default checkpoint manager renames through Hadoop's
    FileContext, whose link-status checks fork ``readlink`` 8 times per
    offsets, commits, source-log or state-store file. The FileSystem-API
    manager checks with ``getFileStatus`` and forks none; the ``chmod``
    forks per created file and directory stay."""
    agg = _event_counts(spark)
    forks = _process_starts(
        spark,
        lambda: spark.table(drain(agg, output_mode="complete")).collect(),
        tmp_path / "drain.jfr",
    )
    assert forks["readlink"] == 0, dict(forks)
    assert 0 < forks["chmod"] <= DRAIN_CHMOD_FORKS, dict(forks)


def test_corrupted_offsets_file_fails_the_restart(spark, tmp_path):
    """Fault injection: one digit of a committed batch's offsets entry
    is changed, so the JSON still parses, and the batch's commit is
    removed so the restart must re-plan it from that entry. The restart
    fails on the entry's checksum instead of running the batch from a
    silently corrupted offset."""
    ckpt = str(tmp_path / "ckpt")
    agg = _event_counts(spark)

    def run_once():
        q = (
            agg.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "drain did not finish"
        finally:
            q.stop()

    run_once()
    entry = os.path.join(ckpt, "offsets", "0")
    with open(entry) as f:
        text = f.read()
    last = re.search(r'"batchTimestampMs":(\d+)', text).end(1) - 1
    digit = str((int(text[last]) + 1) % 10)
    with open(entry, "w") as f:
        f.write(text[:last] + digit + text[last + 1:])
    os.remove(os.path.join(ckpt, "commits", "0"))

    with pytest.raises(Exception, match="Checksum error"):
        run_once()
