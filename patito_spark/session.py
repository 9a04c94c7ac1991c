"""SparkSession helpers tuned for the patito_spark workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def active_session() -> SparkSession:
    """Return the active SparkSession, creating a tuned local one if needed."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        return spark
    return get_session()


def get_session(app_name: str = "patito_spark") -> SparkSession:
    """Create (or get) a local SparkSession with scale-sane defaults.

    Library code reaches this only through :func:`active_session`, when
    no session is active; on a cluster users bring their own session and
    keep its settings. A direct call while a session exists applies the
    runtime-settable options below to that session (``getOrCreate``
    does). The settings:

    * AQE on — runtime coalescing + skew-join handling,
    * shuffle partitions sized to cores (``max(cpus, 8)``),
    * Arrow enabled for the pandas-UDF operators,
    * streaming checkpoints written through the Hadoop ``FileSystem``
      API (``FileSystemBasedCheckpointFileManager``) rather than
      ``FileContext``; the checkpoint files on disk are the same.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Scan split size is min(maxPartitionBytes, max(openCostInBytes,
        # bytes/cores)); the 4 MB openCost default caps a single small
        # file at 1-2 splits — a serial scan on a 32-core local session.
        # 256 KB reflects local-SSD open cost (text_redact at sf1:
        # 2.12 s -> 0.37 s from this alone); multi-file cluster layouts
        # size splits from maxPartitionBytes regardless.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # Spark's default FileContext checkpoint manager resolves links
        # through RawLocalFileSystem.getFileLinkStatus; without native
        # Hadoop that execs `readlink` once per offset, commit and
        # state-store file (512 forks per stream_ingest pass, docs/perf.md).
        # The FileSystem manager forks none. Safe here: a local session
        # has a single writer per checkpoint, a POSIX rename is atomic,
        # and the checkpoint format on disk is unchanged, so a checkpoint
        # written under Spark's default restarts under this one. HDFS and
        # object-store users bring their own session, which keeps
        # Spark's default.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # A varied pipeline session compiles hundreds of whole-stage-
        # codegen classes; the 100-entry default class cache evicts and
        # re-pays 1-2 s of Janino compilation per re-run of a plan
        # (docs/perf.md, round 11 — this masqueraded as operator cost
        # for two rounds). Class metadata is cheap; hold the workload.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
