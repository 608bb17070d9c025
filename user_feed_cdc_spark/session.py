"""SparkSession factory tuned for the local test harness.

The configs mirror what a 1000-executor cluster deployment would set
(AQE on, sane shuffle partitioning, Arrow for the Python boundary);
only master/memory are local-mode specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "user_feed_cdc_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # match local parallelism; on a real cluster AQE coalesces anyway
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Streaming checkpoint metadata (offset/commit logs, state-store
        # deltas) is written through FileContext; Hadoop's default
        # local AbstractFileSystem is ChecksumFs, which shadows every
        # tiny WAL write with a .crc file and doubles the create+rename
        # count. Raw local fs halves the per-micro-batch walCommit +
        # commitOffsets time (measured 40→22 ms / 41→23 ms per batch,
        # floor-probe A/B) with identical atomic-rename semantics; the
        # conf only binds the file:// scheme, so HDFS/S3 deployments
        # are untouched (their FileContext impls are unaffected).
        # The price: ChecksumFs is also what verifies those files, so
        # local streaming offset/commit logs and state-store files are
        # read back with no CRC check, and a torn or bit-flipped file
        # is not detected. That is a local-only trade-off for tests and
        # benchmarks; a deployment that keeps checkpoints on file://
        # should drop this line rather than inherit it unknowingly.
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
