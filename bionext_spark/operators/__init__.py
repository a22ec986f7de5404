"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Runtime knob for the round-robin width ahead of CPU-bound kernel stages.
# On a cluster, set at submit time (spark-submit --conf) to executors ×
# cores × a small oversubscription factor; unset it falls back to
# defaultParallelism (total cores known to the scheduler), never to a
# driver-side constant.
KERNEL_PARALLELISM_CONF = "spark.bionext.kernel.parallelism"

# Largest side input an operator collects to the driver (lexicons, few-shot
# examples, alias edges); a larger one takes the operator's distributed path.
MAX_DRIVER_ROWS = 2_000_000


def kernel_repartition(df: DataFrame) -> DataFrame:
    """Round-robin spread ahead of a CPU-bound Arrow kernel stage.

    Kernel stages (tagger/encoder/classifier forward passes) are
    compute-bound, not byte-bound: AQE's size-targeted coalescing would
    fold their input into a handful of ~64MB partitions and serialize the
    model. Round-robin (not conv_id-keyed) keeps one skewed conversation's
    windows from pinning a single task; the grouped stages that need
    conv_id co-location shuffle on their own keys afterwards.
    """
    spark = df.sparkSession
    n = int(spark.conf.get(KERNEL_PARALLELISM_CONF, "0") or 0)
    if n <= 0:
        n = spark.sparkContext.defaultParallelism
    return df.repartition(n)
