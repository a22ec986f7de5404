"""Parity-mode P/R gate (FIXTURES.md §6) + skew/pair-cap semantics."""

from __future__ import annotations

import pytest

from bionext_spark import kernels as K
from bionext_spark import oracle, synth
from bionext_spark.config import DEFAULT_CONFIG, PipelineConfig
from bionext_spark.metrics import relation_metrics


@pytest.fixture(scope="module")
def oracle_out(transcripts_rows):
    lex = oracle.Lexicons(
        synth.lexicon_concepts_rows(),
        [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
        synth.train_direct_rows(),
        synth.lexicon_variants_rows(),
    )
    return oracle.run_pipeline(
        transcripts_rows, lex, K.build_tag_lexicon(synth.tag_lexicon_entries())
    )


def test_parity_precision_recall_one(spark, transcripts, oracle_out):
    """With the frozen stub adapters, engine triples must match the oracle
    at P = R = 1.0 (the BASELINE target is P/R ≥ 0.95 vs the reference;
    in parity mode the oracle IS the reference and equality is exact)."""
    from bionext_spark import synth as S
    from bionext_spark.adapters import StubEncoder, StubLexiconTagger
    from bionext_spark.operators.assemble import assemble_conversations
    from bionext_spark.operators.extraction import aggregate_triples, classify_pair_spans
    from bionext_spark.operators.linking import run_cleaner, run_linker
    from bionext_spark.operators.pairs import generate_pairs, pair_spans
    from bionext_spark.operators.tagging import run_tagger
    from bionext_spark.sources import fixtures

    convs = assemble_conversations(transcripts).cache()
    mentions = run_tagger(convs, StubLexiconTagger(S.tag_lexicon_entries()))
    links = run_linker(
        spark, mentions,
        side=fixtures.linker_side_data(spark), encoder=StubEncoder(),
    )
    cleaned = run_cleaner(links).cache()
    triples = aggregate_triples(
        classify_pair_spans(pair_spans(generate_pairs(cleaned), cleaned), convs)
    )
    gold = spark.createDataFrame(
        [(t["conv_id"], t["subj"], t["pred"], t["obj"], t["novel"]) for t in oracle_out["triples"]],
        "conv_id string, subj string, pred string, obj string, novel boolean",
    )
    m = relation_metrics(triples, gold)
    assert m["micro"]["precision"] == 1.0
    assert m["micro"]["recall"] == 1.0
    assert m["novelty_accuracy"] == 1.0


def test_pair_cap_bounds_skewed_conversations(transcripts_rows):
    """The per-conversation pair cap bounds O(n²) blow-up; the oracle and
    engine share the deterministic (type, id) pair order so a capped run
    is reproducible, and the capped set is a prefix of the uncapped one."""
    lex = oracle.Lexicons(
        synth.lexicon_concepts_rows(),
        [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
        synth.train_direct_rows(),
        synth.lexicon_variants_rows(),
    )
    tag_lex = K.build_tag_lexicon(synth.tag_lexicon_entries())
    full = oracle.run_pipeline(transcripts_rows, lex, tag_lex, DEFAULT_CONFIG)
    capped_cfg = PipelineConfig(max_pairs_per_conversation=3)
    capped = oracle.run_pipeline(transcripts_rows, lex, tag_lex, capped_cfg)
    by_conv_full: dict[str, list] = {}
    for p in full["pairs"]:
        by_conv_full.setdefault(p["conv_id"], []).append((p["e1_id"], p["e2_id"]))
    by_conv_capped: dict[str, list] = {}
    for p in capped["pairs"]:
        by_conv_capped.setdefault(p["conv_id"], []).append((p["e1_id"], p["e2_id"]))
    assert any(len(v) == 3 for v in by_conv_capped.values())  # cap engaged
    for conv, pairs in by_conv_capped.items():
        assert len(pairs) <= 3
        assert pairs == by_conv_full[conv][: len(pairs)]  # deterministic prefix


def test_spark_cap_matches_oracle(spark, transcripts, transcripts_rows):
    from bionext_spark import synth as S
    from bionext_spark.adapters import StubEncoder, StubLexiconTagger
    from bionext_spark.operators.assemble import assemble_conversations
    from bionext_spark.operators.linking import run_cleaner, run_linker
    from bionext_spark.operators.pairs import generate_pairs
    from bionext_spark.operators.tagging import run_tagger
    from bionext_spark.sources import fixtures

    cfg = PipelineConfig(max_pairs_per_conversation=3)
    convs = assemble_conversations(transcripts).cache()
    mentions = run_tagger(convs, StubLexiconTagger(S.tag_lexicon_entries()), cfg)
    links = run_linker(
        spark, mentions,
        side=fixtures.linker_side_data(spark), encoder=StubEncoder(), cfg=cfg,
    )
    cleaned = run_cleaner(links)
    got = sorted(
        (r["conv_id"], r["e1_id"], r["e2_id"]) for r in generate_pairs(cleaned, cfg).collect()
    )
    lex = oracle.Lexicons(
        synth.lexicon_concepts_rows(),
        [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
        synth.train_direct_rows(),
        synth.lexicon_variants_rows(),
    )
    exp_pipeline = oracle.run_pipeline(
        transcripts_rows, lex, K.build_tag_lexicon(synth.tag_lexicon_entries()), cfg
    )
    exp = sorted((p["conv_id"], p["e1_id"], p["e2_id"]) for p in exp_pipeline["pairs"])
    assert got == exp
