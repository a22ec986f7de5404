"""The declared KG chain (pipeline.CHAIN) and its two materializers.

Spark-free: the fold's order, seeds and resume keys. With Spark: the
in-memory chain (flagship.run_kg_pipeline) equals the pure-Python oracle,
and the catalog chain (pipeline.run) commits the same triples, resumes a
lost edges stage from the committed vertices, and, run again, compiles
almost no generated class.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from bionext_spark import pipeline as P
from bionext_spark.config import DEFAULT_CONFIG
from bionext_spark.sources.catalog import StageCatalog

SF = "/root/testdata/sf0.001"
TRIPLE_COLS = ["conv_id", "subj", "pred", "obj", "novel"]

# The ids pipeline.run committed before the chain was declared as data:
# checkpoint directories written by earlier versions must still resume.
PINNED_SNAPSHOTS = {
    "conversations": "e43a07b026e67e58",
    "mentions": "5e96e62877bc21f4",
    "links": "30a6ff09aa867d53",
    "clean_links": "77b41d6d280bd294",
    "pairs": "83df37317673f823",
    "triples": "f000219bcbb3e34f",
    "vertices": "1251b3d9cbd717db",
    "edges": "c8c699e9c893a029",
}


def _run_without_spark() -> P.KGRun:
    return P.KGRun(SimpleNamespace(conf=SimpleNamespace(set=lambda key, value: None)))


class _IdOnlyCatalog:
    """Computes each stage's snapshot id the way StageCatalog.run_stage
    does, without building or writing anything."""

    def run_stage(self, stage, fn, inputs, config_fingerprint):
        return stage, SimpleNamespace(
            snapshot_id=StageCatalog.snapshot_id(stage, inputs, config_fingerprint)
        )


def test_catalog_chain_reproduces_pinned_snapshot_ids():
    commit = P.CatalogMaterializer(_IdOnlyCatalog(), DEFAULT_CONFIG, "input")
    out = P.run_chain(_run_without_spark(), None, commit)
    assert list(out) == [P.SOURCE, *PINNED_SNAPSHOTS]
    assert {s: m.snapshot_id for s, m in commit.manifests.items()} == PINNED_SNAPSHOTS


def test_seeds_replace_their_stages_and_prune_what_only_feeds_them():
    calls = []

    def record(stage, build, inputs):
        calls.append((stage, inputs))
        return stage

    seed = object()
    out = P.run_chain(
        _run_without_spark(), None, record, until="triples", seeds={"clean_links": seed}
    )
    # mentions and links only feed clean_links, so they never run
    assert calls == [
        ("conversations", (P.SOURCE,)),
        ("clean_links", ()),
        ("pairs", ("clean_links", "conversations")),
        ("triples", ("pairs", "conversations")),
    ]
    assert "links" not in out and "vertices" not in out

    # triples also reads clean_links, so seeding pairs does not prune it
    calls.clear()
    P.run_chain(_run_without_spark(), None, record, until="triples", seeds={"pairs": seed})
    assert [stage for stage, _ in calls] == [s.name for s in P.CHAIN[:6]]


def test_edges_are_built_from_the_materialized_vertices(monkeypatch):
    """edges reads the vertices stage's materialized output (the committed
    table under CatalogMaterializer), and seeding clean_links + triples
    still yields both graph stages."""
    monkeypatch.setattr(P, "graph_vertices", lambda clean: ("vertices of", clean))
    monkeypatch.setattr(P, "graph_edges", lambda vertices, triples: ("edges of", vertices, triples))
    out = P.run_chain(
        _run_without_spark(), None, lambda stage, build, inputs: ("held", build()),
        seeds={"clean_links": "C", "triples": "T"},
    )
    assert out["vertices"] == ("held", ("vertices of", ("held", "C")))
    assert out["edges"] == ("held", ("edges of", out["vertices"], ("held", "T")))


def test_checkpoint_cuts_materializes_exactly_the_cut_set():
    cut = []

    class _Df:
        def __init__(self, stage):
            self.stage = stage

        def localCheckpoint(self):
            cut.append(self.stage)
            return self

    for s in P.CHAIN:
        P.checkpoint_cuts(s.name, lambda s=s: _Df(s.name), s.inputs)
    assert cut == ["conversations", "mentions", "clean_links"]


def test_no_stage_after_a_cut_reads_an_uncut_stage_before_it():
    """run_chain releases the caches built so far after each cut stage,
    which is sound only while this holds."""
    names = [s.name for s in P.CHAIN]
    for i, cut in enumerate(names):
        if cut not in P.CUTS:
            continue
        before = set(names[:i]) - P.CUTS
        for s in P.CHAIN[i + 1 :]:
            assert not before & set(s.inputs + s.reads), (cut, s.name)


@pytest.fixture(scope="module")
def flagship_triples(spark):
    from bionext_spark.flagship import run_kg_pipeline

    return sorted(tuple(r) for r in run_kg_pipeline(spark, SF).select(*TRIPLE_COLS).collect())


def test_in_memory_chain_matches_oracle(spark, flagship_triples):
    from bionext_spark import kernels as K
    from bionext_spark import oracle, synth
    from bionext_spark.flagship import derive_transcripts

    rows = [r.asDict() for r in derive_transcripts(spark, SF).collect()]
    lex = oracle.Lexicons(
        synth.lexicon_concepts_rows(),
        [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
        synth.train_direct_rows(),
        synth.lexicon_variants_rows(),
    )
    out = oracle.run_pipeline(rows, lex, K.build_tag_lexicon(synth.tag_lexicon_entries()))
    expected = sorted(tuple(t[c] for c in TRIPLE_COLS) for t in out["triples"])
    assert len(expected) == 537
    assert flagship_triples == expected


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """(transcripts, checkpoint dir, result) of one pipeline.run at SF."""
    from bionext_spark.flagship import derive_transcripts

    transcripts = derive_transcripts(spark, SF)
    path = str(tmp_path_factory.mktemp("kg"))
    return transcripts, path, P.run(spark, transcripts, path)


def test_catalog_chain_commits_the_in_memory_triples(flagship_triples, committed):
    result = committed[2]
    got = sorted(tuple(r) for r in result.triples.select(*TRIPLE_COLS).collect())
    assert got == flagship_triples
    assert set(result.manifests) == set(PINNED_SNAPSHOTS)


def test_warm_run_compiles_almost_no_generated_class(spark, committed, tmp_path):
    """A second run of the same input reuses the generated classes of the
    first: the codegen cache holds a whole run's (~285 classes), where the
    default 100 entries made every run compile them all again."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    P.run(spark, committed[0], str(tmp_path))
    assert compiles.getCount() - before <= 10


def test_resume_after_a_kill_during_edges(spark, committed, monkeypatch):
    """With only edges lost, the rerun rebuilds it from the committed
    vertices: same snapshot id and rows, and no connected components."""
    import shutil

    from bionext_spark.operators import canonicalize

    _, path, result = committed
    snapshot = result.manifests["edges"].snapshot_id
    catalog = StageCatalog(spark, path)
    rows = sorted(tuple(r) for r in catalog.read("edges", snapshot).collect())
    shutil.rmtree(os.path.join(path, "edges"))

    def killed(*args):
        raise AssertionError("connected components ran again")

    monkeypatch.setattr(canonicalize, "connected_components", killed)
    resumed = P.run(spark, committed[0], path)
    assert resumed.manifests["edges"].snapshot_id == snapshot
    assert sorted(tuple(r) for r in catalog.read("edges", snapshot).collect()) == rows


def test_no_entities_commits_empty_stages(spark, tmp_path):
    """Transcripts with no planted mention: every stage commits, and each
    one after ``conversations`` is empty, with no row-bearing files."""
    import random

    from bionext_spark import synth
    from bionext_spark.sources import fixtures
    from bionext_spark.sources.fixtures import transcripts_df

    rng = random.Random(3)
    rows = [
        {**r, "text": synth._make_turn(rng, [])}
        for r in synth.generate_transcripts(n_conversations=4, skew_conversation_turns=5)
    ]
    transcripts = transcripts_df(spark, rows)
    fixtures.linker_side_data(spark)  # session-memoized, cached on first use
    persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
    result = P.run(spark, transcripts, str(tmp_path))
    # run_linker's caches are released once links is committed
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent
    assert list(result.manifests) == list(PINNED_SNAPSHOTS)
    assert result.manifests["conversations"].row_count > 0
    for stage, m in result.manifests.items():
        if stage != "conversations":
            assert (m.row_count, m.partition_counts) == (0, {}), stage
    catalog = StageCatalog(spark, str(tmp_path))
    for stage in ("triples", "vertices", "edges"):
        assert catalog.read(stage, result.manifests[stage].snapshot_id).count() == 0, stage
