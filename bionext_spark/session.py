"""SparkSession factory tuned for the engine.

Defaults follow the public Spark tuning guidance: shuffle partitions sized
to cores for local runs (overridden per-deploy at cluster scale), AQE on
(runtime coalescing + skew-join splitting), Arrow enabled for the pandas
UDF kernels, UTC session timezone so results compare bit-for-bit against
the DuckDB oracle, and a codegen cache large enough that a warm KG run or
query pass compiles (almost) none of its generated classes again.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bionext_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); on a real
    cluster the master is taken from the environment/spark-submit and this
    argument is ignored. ``extra_conf`` is applied last, so it overrides
    any setting above.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Small-bytes ≠ small-compute: AQE's coalescing floor is byte-based
        # (default minPartitionSize 1MB), so a shuffle carrying tiny rows
        # into a CPU-heavy stage (e.g. the per-conversation entity arrays
        # feeding the O(m²) pair-generation HOFs) collapses to ONE task and
        # serializes minutes of codegen work. 16k keeps parallelism-first
        # coalescing at ~defaultParallelism tasks for such stages; genuinely
        # tiny stages stay sub-second either way.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Shuffle files on tmpfs: on a real cluster every executor brings
        # its own local SSDs (shuffle I/O scales with cluster size); a
        # single shared spinning /tmp makes local N-vs-4N runs disk-bound
        # and understates scaling. Falls back to the default if absent.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated classes are compiled (Janino, median 9 ms a class on
        # 4 CPUs) once per cache entry. One pipeline.run generates ~285
        # and one pass of the headline queries ~240, so the default 100
        # entries evicted what the next run needed and every warm run
        # compiled them all again; at 2,000 a warm KG run compiles 4-6 and
        # a warm query pass none. A static conf: it must be set before the
        # session starts, and it applies to every JVM of the app.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
