"""Offset checkpointing / exactly-once: the capability the reference
explicitly lacks (always replays from Offset::Beginning per recv —
`/root/reference/src/kafka/execution.rs:77-79,129-131`; SURVEY.md §3
entry point 2). Spark's offset log must process each input exactly
once across separate query restarts."""

from __future__ import annotations

from pyspark.sql import functions as F


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
