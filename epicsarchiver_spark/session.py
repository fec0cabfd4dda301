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


def local_jvm_memory(phys_bytes: int | None = None) -> tuple[str, str]:
    """Default (heap, direct memory) of the local-mode JVM, as JVM sizes.

    Rule: the JVM gets at most 5/8 of physical memory, half of it as
    heap and an eighth as direct memory (Arrow and netty buffers),
    capped at 16g and 8g; the other 3/8 stays with the Python workers
    of the pandas UDFs, the driver's Python process and the OS. A heap
    allowed to outgrow the machine gets the JVM killed: with a 16g heap
    on a 15 GB box without swap the kernel killed it at 15.2 GB RSS.
    Floors 1g / 512m. ``phys_bytes`` defaults to this machine's."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):  # no sysconf: the caps
            phys_bytes = 1 << 40
    mib = phys_bytes >> 20
    return f"{min(max(mib // 2, 1024), 16384)}m", f"{min(max(mib // 8, 512), 8192)}m"


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
        # Both are sized from physical memory (``local_jvm_memory``);
        # $SPARK_GRAFT_DRIVER_MEM sets the heap instead.
        # Listing stays on the driver: Spark lists a level of more than
        # 32 sibling dirs (each 128-bucket run of the points store) with
        # a job, whose tasks would run in this same JVM anyway, so that
        # job only adds a launch per run to every store open.
        heap, direct = local_jvm_memory()
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap))
            .config("spark.driver.extraJavaOptions", f"-XX:MaxDirectMemorySize={direct}")
        )
    return builder.getOrCreate()
