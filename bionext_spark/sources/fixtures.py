"""DataFrame loaders for the synthetic fixtures (S1/S3-S7 equivalents).

The reference reads BioC JSON, JSONL KBs, .npy matrices, pickles and TSVs
(SURVEY.md §2.1); our engine's canonical source is a columnar table per
input. These builders create DataFrames from the deterministic synth rows
with explicit schemas (the side tables as driver-held ``LocalRelation``s,
the transcripts as input data); ``write_fixture_tables`` materializes them as
parquet so tests/bench exercise the real scan path (column pruning +
predicate pushdown).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bionext_spark import schemas, synth
from bionext_spark.operators import local_relation

# the declared stage-boundary schema IS the consumed shape (no drift)
TRAIN_DIRECT_RANKED = schemas.TRAIN_DIRECT
LEXICON_CONCEPTS_RANKED = T.StructType(
    schemas.LEXICON_CONCEPTS.fields + [T.StructField("rank", T.IntegerType(), False)]
)
LEXICON_GENES_RANKED = T.StructType(
    schemas.LEXICON_GENES.fields + [T.StructField("rank", T.IntegerType(), False)]
)
LEXICON_VARIANTS = T.StructType(
    [
        T.StructField("mention", T.StringType(), False),
        T.StructField("identifier", T.StringType(), False),
        T.StructField("gene_id", T.StringType(), True),
    ]
)
GENE_SYMBOLS = T.StructType(
    [
        T.StructField("gene_id", T.StringType(), False),
        T.StructField("symbol", T.StringType(), False),
    ]
)


def _with_rank(rows: list[dict]) -> list[dict]:
    return [{**r, "rank": i} for i, r in enumerate(rows)]


def transcripts_df(spark: SparkSession, rows: list[dict] | None = None) -> DataFrame:
    return spark.createDataFrame(rows or synth.generate_transcripts(), schemas.TRANSCRIPTS)


def lexicon_concepts_df(spark: SparkSession) -> DataFrame:
    return local_relation(spark, _with_rank(synth.lexicon_concepts_rows()), LEXICON_CONCEPTS_RANKED)


def lexicon_genes_df(spark: SparkSession) -> DataFrame:
    return local_relation(spark, _with_rank(synth.lexicon_genes_rows()), LEXICON_GENES_RANKED)


def train_direct_df(spark: SparkSession) -> DataFrame:
    return local_relation(spark, synth.train_direct_rows(), TRAIN_DIRECT_RANKED)


def lexicon_variants_df(spark: SparkSession) -> DataFrame:
    return local_relation(spark, synth.lexicon_variants_rows(), LEXICON_VARIANTS)


def gene_symbols_df(spark: SparkSession) -> DataFrame:
    """J8 — NCBI gene_lookup.json analog (gene_id → symbol), the broadcast
    side of the seq-variant LitVar/LLM hops (reference seq_variant.py:312)."""
    return local_relation(spark, synth.gene_symbols_rows(), GENE_SYMBOLS)


def variant_examples_df(spark: SparkSession) -> DataFrame:
    """K5 few-shot example memory (mention, code, gene) — the dataflow
    side table select_fewshot_examples retrieves from (reference
    seq_variant.py:324-341)."""
    return local_relation(
        spark, synth.variant_fewshot_rows(), "mention string, code string, gene string"
    )


_SIDE_CACHE: dict[str, object] = {}


def linker_side_data(spark: SparkSession):
    """Session-memoized LinkerSideData over the synth fixture lexicons,
    derived from the synth rows in the driver (no input frame, no Spark
    job). The lexicons are deterministic module constants, so one
    derivation per Spark application is exact."""
    from bionext_spark.operators.linking import LinkerSideData

    key = spark.sparkContext.applicationId
    side = _SIDE_CACHE.get(key)
    if side is None:
        side = LinkerSideData.from_rows(
            spark,
            synth.train_direct_rows(),
            _with_rank(synth.lexicon_concepts_rows()),
            _with_rank(synth.lexicon_genes_rows()),
            synth.lexicon_variants_rows(),
        )
        _SIDE_CACHE.clear()  # one live session at a time; drop stale apps
        _SIDE_CACHE[key] = side
    return side


FIXTURE_BUILDERS = {
    "transcripts": transcripts_df,
    "lexicon_concepts": lexicon_concepts_df,
    "lexicon_genes": lexicon_genes_df,
    "train_direct": train_direct_df,
    "lexicon_variants": lexicon_variants_df,
    "gene_symbols": gene_symbols_df,
}


def write_fixture_tables(
    spark: SparkSession,
    base_dir: str,
    transcripts_rows: list[dict] | None = None,
    bucket_count: int = 32,
) -> dict[str, str]:
    """Materialize fixtures as parquet; transcripts are bucketed by
    hash(conv_id) via repartition (PipelineConfig.bucket_count) so
    downstream per-conversation stages start co-located."""
    paths: dict[str, str] = {}
    os.makedirs(base_dir, exist_ok=True)
    for name, builder in FIXTURE_BUILDERS.items():
        df = builder(spark, transcripts_rows) if name == "transcripts" else builder(spark)
        path = os.path.join(base_dir, name)
        if name == "transcripts":
            df = df.repartition(bucket_count, "conv_id")
        df.write.mode("overwrite").parquet(path)
        paths[name] = path
    return paths
