"""Flagship query: full KG pipeline over transcripts derived from the
driver's events table, ending in top co-mentioned entity pairs.

``derive_transcripts`` maps events deterministically into the
input_hint transcript shape (conv = user, turn order = (ts, event_id),
turn text templated from event_type with planted lexicon mentions), so
the whole tagger→linker→extractor engine runs on driver-provided data
with zero randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bionext_spark.config import DEFAULT_CONFIG
from bionext_spark.pipeline import KGRun, checkpoint_cuts, run_chain

_TURN_TEXT = {
    "click": "the patient took aspirin for diabetes today",
    "view": "human tp53 expression was studied in hela cells",
    "purchase": "mouse brca1 carried the rs12345 variant",
    "error": "caffeine worsened migraine in zebrafish",
    "signup": "salt and nacl combo drug helped neuropathy",
}


def derive_transcripts(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """events → transcripts. ``replicate`` clones the event stream into k
    disjoint user universes (deterministic) — used by the scaling bench to
    make compute dominate the fixed per-job planning cost."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    if replicate > 1:
        # scan parallelism = file count; a single small parquet file would
        # make the replicate expansion + the window's shuffle WRITE side
        # run in ONE task (measured: a 7s single-task job at replicate 96
        # — the map side of the first shuffle was serial). Spread the base
        # rows first; the shuffle is tiny (pre-expansion).
        e = e.repartition(spark.sparkContext.defaultParallelism)
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        e = e.crossJoin(F.broadcast(reps)).withColumn(
            "user_id", F.col("user_id") + F.col("rep") * 10_000_000
        ).drop("rep")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    text = F.element_at(
        F.create_map(*[F.lit(x) for kv in _TURN_TEXT.items() for x in kv]), F.col("event_type")
    )
    roles = F.array(F.lit("user"), F.lit("assistant"), F.lit("tool"))
    return e.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "ts",
        F.coalesce(text, F.lit("no entities here")).alias("text"),
        F.col("event_type").alias("tool"),
    ).withColumn("role", roles[F.col("turn_idx") % 3]).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


def run_kg_pipeline(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """events-derived transcripts → triples (full engine, stub adapters):
    the declared chain through triples, held in memory with the
    pipeline's localCheckpoint cut set."""
    # DEFAULT_CONFIG is looked up here at call time, so a script may swap
    # it on this module (scripts/profile_weak.py)
    out = run_chain(
        KGRun(spark, DEFAULT_CONFIG),
        derive_transcripts(spark, sf_dir, replicate),
        checkpoint_cuts,
        until="triples",
    )
    return out["triples"]


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-mentioned (subj, pred, obj) triples by conversation count."""
    triples = run_kg_pipeline(spark, sf_dir)
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(F.countDistinct("conv_id").alias("n_conversations"))
        .orderBy(F.desc("n_conversations"), "subj", "pred", "obj")
        .limit(50)
    )
