"""Physical-plan assertions: the engine's scale design claims hold in the
plans Catalyst actually produces (broadcast lexicon joins, parquet filter
pushdown, column pruning)."""

from __future__ import annotations

from bionext_spark.entry_queries import (
    j1_broadcast_lookup,
    p2_filter_renumber,
    q1_pricing_summary,
)
from bionext_spark.plans import (
    broadcast_join_count,
    pushed_filters,
    read_schema,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_lexicon_joins_are_broadcast(spark):
    df = j1_broadcast_lookup(spark, SF)
    assert broadcast_join_count(df) >= 2  # part AND supplier stay broadcast


def test_filter_pushdown_reaches_scan(spark):
    df = p2_filter_renumber(spark, SF)
    pf = pushed_filters(df)
    assert "value" in pf and "GreaterThan" in pf or "50" in pf, pf


def test_column_pruning(spark):
    df = q1_pricing_summary(spark, SF)
    rs = read_schema(df)
    # only the 5 needed lineitem columns are read, not all 11
    assert "l_quantity" in rs and "l_extendedprice" in rs
    assert "l_partkey" not in rs and "l_suppkey" not in rs, rs


def test_linker_dictionary_join_is_broadcast(spark, transcripts):
    from bionext_spark import synth
    from bionext_spark.adapters import StubEncoder, StubLexiconTagger
    from bionext_spark.operators.assemble import assemble_conversations
    from bionext_spark.operators.linking import run_linker
    from bionext_spark.operators.tagging import run_tagger
    from bionext_spark.sources import fixtures

    convs = assemble_conversations(transcripts)
    mentions = run_tagger(convs, StubLexiconTagger(synth.tag_lexicon_entries()))
    links = run_linker(
        spark,
        mentions,
        side=fixtures.linker_side_data(spark),
        encoder=StubEncoder(),
    )
    assert uses_broadcast_join(links)


def test_topk_uses_take_ordered_not_global_window(spark):
    """The ANN/near-dup top-k queries must plan as TakeOrderedAndProject
    (per-partition heap + driver merge), never a single-partition global
    window — the round-1 scale-killer this round removed."""
    from bionext_spark.corpus_queries import (
        ann_lsh_bucket,
        ann_topk_cosine,
        dedup_embedding_cosine,
    )
    from bionext_spark.plans import physical_plan

    for fn in (ann_topk_cosine, ann_lsh_bucket, dedup_embedding_cosine):
        plan = physical_plan(fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_pair_generation_single_shuffle_and_bounded(spark):
    """generate_pairs: exactly two Exchanges — the conv_id groupBy plus
    the explicit REPARTITION_BY_NUM that keeps the O(m²) pair-generation
    explode parallel (AQE would otherwise coalesce the tiny agg output to
    one task and serialize it) — and an adversarial entity-rich
    conversation never materializes pairs past the two-level cap."""
    from pyspark.sql import functions as F

    from bionext_spark.config import PipelineConfig
    from bionext_spark.operators.pairs import generate_pairs
    from bionext_spark.plans import physical_plan

    # 5000 distinct gene ids in ONE conversation → raw pairs ~12.5M
    links = spark.range(5000).select(
        F.lit("conv_adv").alias("conv_id"),
        F.concat(F.lit("g"), F.col("id")).alias("linked_id"),
        F.lit("GeneOrGeneProduct").alias("label"),
        F.col("id").cast("int").alias("start"),
        (F.col("id") + 1).cast("int").alias("end"),
    )
    cfg = PipelineConfig(max_pairs_per_conversation=100, max_entities_per_conversation=64)
    pairs = generate_pairs(links, cfg)
    plan = physical_plan(pairs)
    assert plan.count("Exchange") == 2, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    # the heavy Generate must sit ABOVE the repartition exchange (parallel),
    # not below it next to the aggregate
    assert plan.index("Generate") < plan.index("REPARTITION_BY_NUM"), plan
    rows = {(r["e1_id"], r["e2_id"]) for r in pairs.collect()}
    # expected: entity pre-cap = first 64 ids in string sort order, then
    # the first 100 pairs of the lexicographic enumeration
    ents = sorted(f"g{i}" for i in range(5000))[:64]
    expected = [
        (ents[i], ents[j])
        for i in range(len(ents))
        for j in range(i + 1, len(ents))
    ][:100]
    assert rows == set(expected)


def test_t_spread_repartitions_only_narrow_scans(spark, tmp_path):
    """entry_queries.t_spread adds exactly one hash exchange on the key
    over a single-file table, and none over a table with at least
    defaultParallelism files (the no-op path at real scale)."""
    from pyspark.sql import functions as F

    from bionext_spark.entry_queries import t_spread
    from bionext_spark.plans import physical_plan

    n = spark.sparkContext.defaultParallelism
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    df.coalesce(1).write.parquet(str(tmp_path / "one.parquet"))
    df.repartition(n).write.parquet(str(tmp_path / "many.parquet"))

    one = physical_plan(t_spread(spark, str(tmp_path), "one", "k"))
    assert one.count("Exchange") == 1, one
    assert one.count("hashpartitioning(k#") == 1, one
    many = physical_plan(t_spread(spark, str(tmp_path), "many", "k"))
    assert "Exchange" not in many, many
