"""Stage 2 tests: linker cascades, majority vote, cleaner vs oracle."""

from __future__ import annotations

import pytest

from bionext_spark import kernels as K
from bionext_spark import oracle, synth
from bionext_spark.adapters import StubEncoder, StubLexiconTagger
from bionext_spark.operators.assemble import assemble_conversations
from bionext_spark.operators import local_relation
from bionext_spark.operators.linking import LinkerSideData, run_cleaner, run_linker
from bionext_spark.operators.tagging import run_tagger
from bionext_spark.sources import fixtures

SIDE_TABLES = ("dict_lex", "gene_lex", "flat_train_keys", "gene_dict_keys")


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


@pytest.fixture(scope="module")
def mentions(transcripts):
    convs = assemble_conversations(transcripts)
    return run_tagger(convs, StubLexiconTagger(synth.tag_lexicon_entries()))


@pytest.fixture(scope="module")
def spark_links(spark, mentions):
    return run_linker(
        spark, mentions, side=fixtures.linker_side_data(spark), encoder=StubEncoder()
    )


LINK_KEY = ("conv_id", "mention_id", "label", "start", "end", "text", "turn_idx", "linked_id", "method")


def _norm(rows):
    return sorted(tuple(r[k] for k in LINK_KEY) for r in rows)


def test_linker_matches_oracle(spark_links, oracle_out):
    got = _norm(r.asDict() for r in spark_links.collect())
    exp = _norm(oracle_out["links"])
    assert len(exp) > 50
    # The oracle must exercise every cascade hop for the test to mean much.
    methods = {r["method"] for r in oracle_out["links"] if r["method"]}
    assert {"train", "kb", "embedding", "rsid"} <= methods
    assert got == exp


def test_linker_covers_unlinked_and_default_taxon(oracle_out):
    links = oracle_out["links"]
    assert any(r["linked_id"] == "-" for r in links)  # cleaner has work
    # merged-id correction fired somewhere
    assert any(r["linked_id"] == "11103" for r in links)
    assert not any(r["linked_id"] == "3052230" for r in links)


def test_cleaner_matches_oracle(spark_links, oracle_out):
    got = _norm(r.asDict() for r in run_cleaner(spark_links).collect())
    exp = _norm(oracle_out["clean_links"])
    assert got == exp
    # renumbering: ids dense from 0 per conversation
    per_conv: dict[str, list[int]] = {}
    for row in exp:
        per_conv.setdefault(row[0], []).append(row[1])
    for ids in per_conv.values():
        assert sorted(ids) == list(range(len(ids)))


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_fixture_side_data_starts_no_job(spark, monkeypatch):
    """The fixture side data is derived in the driver: no Spark job, no
    cached RDD, and each broadcast table is a LocalRelation."""
    sc = spark.sparkContext
    monkeypatch.setattr(fixtures, "_SIDE_CACHE", {})
    persistent = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("test-side-data", "fixture side data")
    try:
        side = fixtures.linker_side_data(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test-side-data")) == []
    assert sc._jsc.getPersistentRDDs().size() == persistent
    for name in SIDE_TABLES:
        assert _plan_class(getattr(side, name)) == "LocalRelation", name


def test_driver_side_data_equals_relational_fallback(spark, mentions, spark_links):
    """Lexicons past ``max_driver_rows`` keep the relational lexicon plans;
    they link exactly as the driver-derived side data does."""
    side = LinkerSideData.build(
        spark,
        fixtures.train_direct_df(spark),
        fixtures.lexicon_concepts_df(spark),
        fixtures.lexicon_genes_df(spark),
        fixtures.lexicon_variants_df(spark),
        max_driver_rows=0,
    )
    assert _plan_class(side.dict_lex) == "Union"
    rel = run_linker(spark, mentions, encoder=StubEncoder(), side=side)
    got = _norm(r.asDict() for r in rel.collect())
    exp = _norm(r.asDict() for r in spark_links.collect())
    assert got == exp


def test_empty_lexicons_link_only_rsids(spark, mentions):
    """With four empty lexicon tables every mention comes back unlinked,
    except rs-prefixed variants, which are their own id
    (seq_variant.py:414-416) and need no lexicon."""
    side = LinkerSideData.build(
        spark,
        *(
            local_relation(spark, [], schema)
            for schema in (
                fixtures.TRAIN_DIRECT_RANKED,
                fixtures.LEXICON_CONCEPTS_RANKED,
                fixtures.LEXICON_GENES_RANKED,
                fixtures.LEXICON_VARIANTS,
            )
        ),
    )
    assert (side.known_taxa, side.emb_taxa, side.kb_matrices) == ([], [], {})
    links = run_linker(spark, mentions, encoder=StubEncoder(), side=side).collect()
    assert len(links) == mentions.count() > 50
    for r in links:
        rsid = r["label"] == "SequenceVariant" and r["text"].lower().startswith("rs")
        assert (r["linked_id"], r["method"]) == (
            (r["text"].lower(), "rsid") if rsid else ("-", None)
        ), r
    assert any(r["method"] == "rsid" for r in links)
