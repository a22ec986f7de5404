"""The KG stage chain, declared once, and the two ways to materialize it.

The reference declares its pipeline once, as ``[Tagger, Linker,
Extractor]``, and folds one input through it (main.py:85-100, 115-116).
Here ``CHAIN`` is that declaration: eight named stages, transcripts →
conversations → mentions → links → clean_links → pairs → triples →
vertices/edges. Each stage names the stages whose snapshot ids key it (and
any other stage it reads) and builds its DataFrame from the outputs
already produced. ``run_chain`` folds the list through a materializer
``(stage, build, inputs) -> DataFrame``, which decides only how each
stage's output is held:

* ``CatalogMaterializer`` commits every stage as a snapshotted table
  through ``StageCatalog.run_stage``, so any stage resumes idempotently
  (``run``; launch on a cluster with spark-submit --py-files, see
  scripts/submit.sh).
* ``checkpoint_cuts`` calls ``localCheckpoint`` on the ``CUTS`` stages
  only and leaves the rest lazy (``flagship.run_kg_pipeline``).
  ``localCheckpoint`` caches the rows and truncates the logical plan;
  without a cut the chained plan grows to hundreds of operators and
  Catalyst's per-query analysis dominates wall time. ``cache`` is no
  substitute: it kept the cleaner's partitioning visible, but it
  re-embedded the whole linker plan at every cached reference (pair-chain
  plan text 1.4 MB cached vs 8 KB checkpointed), a ~7 s serial driver gap
  per run; the cut costs a few small re-shuffles of the narrow link rows
  instead, which scale with cores. ``links`` and ``pairs`` stay lazy:
  the cleaner and the classify kernel consume them in the same plan, so
  ``pair_spans`` flows into the kernel unmaterialized. Cutting ``pairs``
  double-counted work at 8 cores (ARCHITECTURE.md, "Section tables need
  the fused plan"), and cutting every stage measured no faster on 4 CPUs,
  so the cut set is a constant, not an option.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from bionext_spark import synth
from bionext_spark.adapters import (
    EncoderAdapter,
    RelationAdapter,
    StubLexiconTagger,
    TaggerAdapter,
)
from bionext_spark.config import DEFAULT_CONFIG, PipelineConfig
from bionext_spark.operators.assemble import assemble_conversations
from bionext_spark.operators.canonicalize import graph_edges, graph_vertices
from bionext_spark.operators.extraction import (
    aggregate_triples,
    classify_pair_spans,
    estimate_pair_weights,
)
from bionext_spark.operators.linking import LinkerSideData, run_cleaner, run_linker
from bionext_spark.operators.pairs import generate_pairs, pair_spans
from bionext_spark.operators.tagging import run_tagger
from bionext_spark.sources import fixtures
from bionext_spark.sources.catalog import Manifest, StageCatalog

# The chain's one source: the transcripts table every run starts from.
SOURCE = "transcripts"


@dataclass
class KGRun:
    """Per-run set-up every stage build reads. ``None`` adapters are the
    deterministic stubs, ``side`` defaults to the session-memoized fixture
    lexicons, and the seq-variant hops stay off unless ``litvar``/``llm``
    are given (``gene_symbols`` then defaults to the fixture symbols)."""

    spark: SparkSession
    cfg: PipelineConfig = DEFAULT_CONFIG
    tagger: TaggerAdapter | None = None
    encoder: EncoderAdapter | None = None
    classifier: RelationAdapter | None = None
    side: LinkerSideData | None = None
    gene_symbols: DataFrame | None = None
    litvar: object = None
    llm: object = None
    fewshot_examples: DataFrame | None = None
    # what the stage builds cached (run_linker's fan-out inputs), until
    # run_chain releases them
    caches: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    def release_caches(self) -> None:
        """Unpersist ``caches``, newest first, so no cache is released
        before one built over it."""
        while self.caches:
            self.caches.pop().unpersist()


@dataclass(frozen=True)
class Stage:
    name: str
    # The stages (or SOURCE) whose snapshot ids key this one's snapshot.
    inputs: tuple[str, ...]
    build: Callable[[KGRun, dict[str, DataFrame]], DataFrame]
    # Stages the build also reads that do not key its snapshot, because
    # their outputs are functions of ``inputs``; run_chain produces them.
    reads: tuple[str, ...] = ()


def _conversations(run: KGRun, out: dict[str, DataFrame]) -> DataFrame:
    # salted two-phase assembly: conversations longer than
    # skew_turns_threshold spread over many reducers in phase 1
    seg = run.cfg.skew_turns_threshold if run.cfg.salt_buckets > 0 else 0
    return assemble_conversations(out[SOURCE], segment_size=seg)


def _mentions(run: KGRun, out: dict[str, DataFrame]) -> DataFrame:
    tagger = run.tagger if run.tagger is not None else StubLexiconTagger(synth.tag_lexicon_entries())
    return run_tagger(out["conversations"], tagger, run.cfg)


def _links(run: KGRun, out: dict[str, DataFrame]) -> DataFrame:
    gene_symbols = run.gene_symbols
    if gene_symbols is None and (run.litvar is not None or run.llm is not None):
        gene_symbols = fixtures.gene_symbols_df(run.spark)
    return run_linker(
        run.spark,
        out["mentions"],
        encoder=run.encoder,
        cfg=run.cfg,
        gene_symbols=gene_symbols,
        litvar=run.litvar,
        llm=run.llm,
        side=run.side if run.side is not None else fixtures.linker_side_data(run.spark),
        fewshot_examples=run.fewshot_examples,
        caches=run.caches,
    )


def _pairs(run: KGRun, out: dict[str, DataFrame]) -> DataFrame:
    # the span lists, not the marked text: the marked text is
    # ~|pairs|×|doc| bytes and is produced transiently inside the fused
    # classifier kernel instead
    return pair_spans(generate_pairs(out["clean_links"], run.cfg), out["clean_links"])


def _triples(run: KGRun, out: dict[str, DataFrame]) -> DataFrame:
    # weight-aware classify bucketing: the estimate reads only the
    # clean_links/conversations outputs, never the pairs subtree
    # (extraction.estimate_pair_weights)
    convs = out["conversations"]
    weights = estimate_pair_weights(out["clean_links"], convs, run.cfg)
    return aggregate_triples(
        classify_pair_spans(out["pairs"], convs, run.classifier, run.cfg, pair_weights=weights)
    )


CHAIN: tuple[Stage, ...] = (
    Stage("conversations", (SOURCE,), _conversations),
    Stage("mentions", ("conversations",), _mentions),
    Stage("links", ("mentions",), _links),
    Stage("clean_links", ("links",), lambda run, out: run_cleaner(out["links"])),
    Stage("pairs", ("clean_links", "conversations"), _pairs),
    # clean_links is in its lineage through pairs, so it does not key it
    Stage("triples", ("pairs", "conversations"), _triples, reads=("clean_links",)),
    # vertices reads only clean_links; both graph stages keep the
    # (clean_links, triples) key their snapshot ids were first pinned with
    Stage("vertices", ("clean_links", "triples"), lambda run, out: graph_vertices(out["clean_links"])),
    # from the materialized vertices (the committed table under
    # CatalogMaterializer), so its write computes no components again
    Stage(
        "edges",
        ("clean_links", "triples"),
        lambda run, out: graph_edges(out["vertices"], out["triples"]),
        reads=("vertices",),
    ),
)

Materializer = Callable[[str, Callable[[], DataFrame], tuple[str, ...]], DataFrame]


def run_chain(
    run: KGRun,
    transcripts: DataFrame,
    materialize: Materializer,
    until: str = CHAIN[-1].name,
    seeds: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Fold ``CHAIN`` up to and including ``until`` through
    ``materialize``; returns every output by stage name.

    ``seeds`` replace the outputs of the stages they name. A seed goes
    through ``materialize`` with no inputs, and stages needed only to
    produce a seeded output are not run."""
    seeds = seeds or {}
    # Arrow batch size for the kernel stages = the model batch size
    run.spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(run.cfg.kernel_batch_size))
    stages = CHAIN[: [s.name for s in CHAIN].index(until) + 1]
    last_seed = max((i for i, s in enumerate(stages) if s.name in seeds), default=-1)
    needed = {s.name for s in stages[last_seed + 1 :]}
    for s in reversed(stages):
        if s.name in needed and s.name not in seeds:
            needed.update(s.inputs, s.reads)
    out = {SOURCE: transcripts}
    for s in stages:
        if s.name in seeds and s.name in needed:
            out[s.name] = materialize(s.name, lambda df=seeds[s.name]: df, ())
        elif s.name in needed:
            out[s.name] = materialize(s.name, lambda s=s: s.build(run, out), s.inputs)
        if s.name in CUTS:
            # both materializers hold a cut stage's output (a commit or a
            # localCheckpoint), and no later stage reads an uncut stage
            # before it, so the caches built so far are read no more
            run.release_caches()
    return out


# The stages the in-memory chain cuts with localCheckpoint (see module doc).
CUTS = frozenset({"conversations", "mentions", "clean_links"})


def checkpoint_cuts(stage: str, build: Callable[[], DataFrame], inputs: tuple[str, ...]) -> DataFrame:
    df = build()
    return df.localCheckpoint() if stage in CUTS else df


def _fingerprint(cfg: PipelineConfig) -> str:
    return json.dumps(dataclasses.asdict(cfg), sort_keys=True)


class CatalogMaterializer:
    """Commits each stage through ``StageCatalog.run_stage``, keyed by the
    snapshot ids of its inputs (``SOURCE`` maps to ``input_snapshot``)."""

    def __init__(self, catalog: StageCatalog, cfg: PipelineConfig, input_snapshot: str):
        self.catalog = catalog
        self.fp = _fingerprint(cfg)
        self.snapshots = {SOURCE: input_snapshot}
        self.manifests: dict[str, Manifest] = {}

    def __call__(self, stage: str, build: Callable[[], DataFrame], inputs: tuple[str, ...]) -> DataFrame:
        df, m = self.catalog.run_stage(stage, build, [self.snapshots[i] for i in inputs], self.fp)
        self.snapshots[stage] = m.snapshot_id
        self.manifests[stage] = m
        return df


@dataclass
class PipelineResult:
    triples: DataFrame
    manifests: dict[str, Manifest]

    def metrics(self) -> dict:
        return {
            name: {"rows": m.row_count, "snapshot": m.snapshot_id, "partitions": len(m.partition_counts)}
            for name, m in self.manifests.items()
        }


def run(
    spark: SparkSession,
    transcripts: DataFrame,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    input_snapshot: str = "input",
    litvar=None,
    llm=None,
) -> PipelineResult:
    """transcripts → triples + graph, every stage committed to a
    snapshotted table under ``checkpoint_dir`` (resumes what is there)."""
    commit = CatalogMaterializer(
        StageCatalog(spark, checkpoint_dir, bucket_count=cfg.bucket_count), cfg, input_snapshot
    )
    out = run_chain(KGRun(spark, cfg, litvar=litvar, llm=llm), transcripts, commit)
    return PipelineResult(triples=out["triples"], manifests=commit.manifests)
