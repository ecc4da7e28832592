"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same logical plans run
well from local[32] up to a 1000-executor cluster — AQE re-plans
shuffles at runtime (coalesce, skew-join split), broadcast threshold
lets dimension tables (region/nation/supplier/part at TPC-H ratios)
avoid shuffle joins, and Arrow makes the few pandas-UDF paths
batch-vectorized instead of row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults mirror the driver environment: local[$SPARK_GRAFT_CPUS] with
# spark.sql.shuffle.partitions sized to the core count. On a real
# cluster the master/partition count comes from the deployment, not
# from here — everything else carries over unchanged.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_session(app_name: str = "datafusion-streams-spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Config rationale (each survives a 100x scale-up):
      - AQE on + skew-join: runtime shuffle re-planning; skewed agg/join
        keys get split automatically instead of stalling one task.
      - autoBroadcastJoinThreshold 64MB: TPC-H dims (region, nation,
        supplier, part) broadcast instead of shuffling the fact table.
      - session timezone UTC: deterministic timestamp semantics that
        match the DuckDB oracle bit-for-bit.
      - Arrow enabled: pandas-UDF paths (similarity, multimodal) move
        columnar batches, not pickled rows.
      - parquet filter/aggregate pushdown on: scans read only what the
        query needs (verified in tests/test_plans.py).
      - streaming checkpoints through the FileSystem-API manager: every
        offsets, commits and file-source log entry and every HDFS-backed
        state-store delta file is written to a temp file and renamed.
        Spark's default manager renames through Hadoop's FileContext,
        whose link-status checks call ``RawLocalFileSystem
        .getFileLinkStatus``; without Hadoop's native library that forks
        ``readlink``, 8 times per file (data and ``.crc``, in both rename
        layers). The FileSystem API checks with ``getFileStatus`` instead,
        which forks nothing, and it verifies the ``.crc`` on read (a
        corrupted offsets file fails the restart, tests/test_checkpoint.py).
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixture events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as long and convert (see
        # catalog.normalize_event_ts) — DuckDB applies the same ns->us floor.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing"
            ".FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER_OVERRIDE"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
