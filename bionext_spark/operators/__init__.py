"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Runtime knob for the round-robin width ahead of CPU-bound kernel stages.
# On a cluster, set at submit time (spark-submit --conf) to executors ×
# cores × a small oversubscription factor; unset it falls back to
# defaultParallelism (total cores known to the scheduler), never to a
# driver-side constant.
KERNEL_PARALLELISM_CONF = "spark.bionext.kernel.parallelism"

# Largest side input an operator collects to the driver (lexicons, few-shot
# examples, alias edges); a larger one takes the operator's distributed path.
MAX_DRIVER_ROWS = 2_000_000


def local_relation(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """Driver-side rows → a DataFrame over a ``LocalRelation``.

    The rows reach the JVM as one Arrow table, so the plan holds them: the
    frame broadcasts from the driver, and building or scanning it starts
    no Spark job and no Python worker. A frame built from a list is a
    ``LogicalRDD`` that a Python worker scans at every use, and so is one
    built from an empty pandas frame (``createDataFrame`` takes its Arrow
    path only for a non-empty one). ``rows`` are tuples in ``schema``'s
    field order or mappings keyed by field name. Keep them small: every
    plan that reads the frame carries them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    records = [r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows]
    return spark.createDataFrame(pa.Table.from_pylist(records, to_arrow_schema(schema)), schema)


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
