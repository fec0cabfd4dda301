"""SparkSession factory tuned for the engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting —
  at cluster scale the static ``shuffle.partitions`` is only a ceiling.
- ``parquet.nanosAsLong``: the driver's ``events`` table stores
  TIMESTAMP(NANOS), which Spark's vectorized parquet reader rejects; read
  as int64 nanoseconds and derive DOUBLE epoch seconds (the reference's own
  time representation, epicsarchiver/schema.py:21).
- UTC session timezone so timestamp-derived values are engine-independent
  (matches the DuckDB oracle, which is timezone-naive).
- Arrow enabled for the pandas-UDF slow paths (vectorized batch transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_spark(app_name: str = "epicsarchiver-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this would be ~2-3× total executor cores; AQE coalesces down.
    """
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        # local mode = one JVM doing driver + executor work: the 1g/1g
        # heap/direct defaults cap any Arrow-heavy plan (a grouped-map
        # whose output exceeds ~1 GB of concurrent batches dies in
        # netty's direct arena — found by tools/scale_probe.py at ×10
        # data). Cluster deployments size executors explicitly instead.
        # Listing stays on the driver: Spark lists a level of more than
        # 32 sibling dirs (each 128-bucket run of the points store) with
        # a job, whose tasks would run in this same JVM anyway, so that
        # job only adds a launch per run to every store open.
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
            .config(
                "spark.driver.extraJavaOptions", "-XX:MaxDirectMemorySize=8g"
            )
        )
    return builder.getOrCreate()
