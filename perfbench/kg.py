"""``kg_build``: ``pipeline.run`` on generated transcripts into a fresh
checkpoint directory per rep, checked against ``oracle.run_pipeline``.

The traced run adds one resume rep: the ``pairs``, ``triples``,
``vertices`` and ``edges`` stage directories of the traced build are
deleted and ``pipeline.run`` reruns, as after a kill during ``pairs``. It
measures the catalog's read side and must reproduce the build's snapshot
ids.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time
from contextlib import contextmanager

from perfbench.tracing import Tracer, job_group, rollup_groups

N_CONVERSATIONS = 150
STAGES = ["conversations", "mentions", "links", "clean_links", "pairs", "triples", "vertices", "edges"]
RESUMED = ["pairs", "triples", "vertices", "edges"]
STAGE_FIELDS = ["wall_s", "task_core_s", "shuffle_mb", "task_skew", "jobs", "rows_out"]
TRIPLE_COLS = ["conv_id", "subj", "pred", "obj", "novel"]


def per_layer_names() -> list[str]:
    return (
        [f"{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
        + ["catalog.write_s", "catalog.read_s", "catalog.manifest_scan_s", "catalog.written_mb"]
        + ["resume.wall_s", "resume.skipped_s", "resume.catalog.read_s", "resume.catalog.manifest_scan_s"]
        + ["linking.linked_frac", "extraction.kept_frac"]
    )


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / 1e6


@contextmanager
def instrument(tracer: Tracer, sc, prefix: str, rows_out: dict):
    """Record spans around the catalog's public calls and run each stage
    under the job group ``prefix + stage``; every span name starts with
    ``prefix``.

    The benchmark measures the program from outside, so the calls are
    wrapped on the classes for the duration of the block and restored after.
    Spark is lazy, so a stage's operators execute inside the catalog's
    parquet write; that call gets its own ``exec`` span, which makes the
    self time of ``catalog.write`` the catalog's own work (manifest row
    counts, commit rename, re-read)."""
    from pyspark.sql import DataFrameWriter

    from bionext_spark.sources.catalog import StageCatalog

    originals = {
        name: getattr(StageCatalog, name)
        for name in ("run_stage", "write", "read", "is_committed", "read_manifest")
    }
    parquet = DataFrameWriter.parquet

    def run_stage(self, stage, fn, inputs, config_fingerprint=""):
        def op():
            with tracer.span(prefix + "op"):
                return fn()

        with job_group(sc, prefix + stage), tracer.span(prefix + stage):
            df, m = originals["run_stage"](self, stage, op, inputs, config_fingerprint)
        rows_out[stage] = m.row_count
        return df, m

    def spanned(name, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)
        return wrapper

    StageCatalog.run_stage = run_stage
    StageCatalog.write = spanned(prefix + "catalog.write", originals["write"])
    StageCatalog.read = spanned(prefix + "catalog.read", originals["read"])
    StageCatalog.is_committed = spanned(prefix + "catalog.manifest_scan", originals["is_committed"])
    StageCatalog.read_manifest = spanned(prefix + "catalog.manifest_scan", originals["read_manifest"])
    DataFrameWriter.parquet = spanned(prefix + "exec", parquet)
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(StageCatalog, name, fn)
        DataFrameWriter.parquet = parquet


class KgBuild:
    warmup_reps = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.reps = 0
        self.snapshots: dict[str, str] | None = None
        self.last = None

    # -- inputs and oracle (excluded from setup_s) --------------------------
    def prepare(self) -> dict:
        from bionext_spark import kernels as K
        from bionext_spark import oracle, synth

        # conversation 0 is generate_transcripts' "skew" conversation; give
        # it an ordinary 3-40 turn length so no conversation is an outlier
        first = random.Random(self.seed).randint(3, 40)
        self.rows = synth.generate_transcripts(N_CONVERSATIONS, first, seed=self.seed)
        lex = oracle.Lexicons(
            synth.lexicon_concepts_rows(),
            [{**r, "rank": i} for i, r in enumerate(synth.lexicon_genes_rows())],
            synth.train_direct_rows(),
            synth.lexicon_variants_rows(),
        )
        out = oracle.run_pipeline(self.rows, lex, K.build_tag_lexicon(synth.tag_lexicon_entries()))
        self.expected = sorted(tuple(t[c] for c in TRIPLE_COLS) for t in out["triples"])
        return {"conversations": N_CONVERSATIONS, "turns": len(self.rows), "triples": len(self.expected)}

    def load(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from bionext_spark import schemas

        path = os.path.join(self.work_dir, "transcripts")
        os.makedirs(path)
        cols = {c: [r[c] for r in self.rows] for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
        table = pa.table({
            **cols,
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            # naive generator timestamps are UTC, the session time zone
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        })
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        self.transcripts = spark.read.schema(schemas.TRANSCRIPTS).parquet(path)

    def side_data(self, spark) -> None:
        from bionext_spark.sources import fixtures

        fixtures.linker_side_data(spark)

    # -- reps ----------------------------------------------------------------
    def _run(self, spark, ck: str):
        from bionext_spark import pipeline

        t0 = time.perf_counter()
        result = pipeline.run(spark, self.transcripts, ck)
        return result, time.perf_counter() - t0

    def rep(self, spark) -> float:
        """One build into a fresh checkpoint dir; returns its wall seconds."""
        if self.last is not None:
            shutil.rmtree(self.last, ignore_errors=True)
        self.reps += 1
        self.last = os.path.join(self.work_dir, f"ck{self.reps}")
        self.result, wall = self._run(spark, self.last)
        return wall

    def check(self) -> bool:
        """Committed triples equal the oracle's, and every rep commits the
        same snapshot ids."""
        got = sorted(tuple(r) for r in self.result.triples.select(*TRIPLE_COLS).collect())
        snaps = {s: m.snapshot_id for s, m in self.result.manifests.items()}
        if self.snapshots is None:
            self.snapshots = snaps
        return got == self.expected and snaps == self.snapshots

    # -- traced rep ----------------------------------------------------------
    def traced(self, spark, tracer: Tracer) -> tuple[float, bool]:
        """Traced build, then a traced resume of it. Returns the build's
        wall and whether both reps were correct."""
        sc = spark.sparkContext
        self.rows_out: dict[str, int] = {}
        if self.last is not None:
            shutil.rmtree(self.last, ignore_errors=True)
        self.last = os.path.join(self.work_dir, "ck_traced")
        with instrument(tracer, sc, "", self.rows_out):
            with tracer.span("rep"):
                self.result, wall = self._run(spark, self.last)
        ok = self.check()
        self.written_mb = _dir_mb(self.last)
        for stage in RESUMED:
            shutil.rmtree(os.path.join(self.last, stage))
        with instrument(tracer, sc, "resume.", {}):
            with tracer.span("resume"):
                self.result, _ = self._run(spark, self.last)
        return wall, ok and self.check()

    def layer_metrics(self, tracer: Tracer, events) -> tuple[dict[str, float], list[dict]]:
        groups = rollup_groups(events)
        out: dict[str, float] = {}
        for stage in STAGES:
            g = groups.get(stage, {})
            out[f"{stage}.wall_s"] = tracer.total(stage)
            for f in ("task_core_s", "shuffle_mb", "task_skew", "jobs"):
                out[f"{stage}.{f}"] = g.get(f, 0.0)
            out[f"{stage}.rows_out"] = self.rows_out[stage]
        out["catalog.write_s"] = tracer.total("catalog.write", self_only=True)
        out["catalog.read_s"] = tracer.total("catalog.read", self_only=True)
        out["catalog.manifest_scan_s"] = tracer.total("catalog.manifest_scan")
        out["catalog.written_mb"] = self.written_mb
        out["resume.wall_s"] = tracer.total("resume")
        out["resume.skipped_s"] = sum(tracer.total("resume." + s) for s in STAGES if s not in RESUMED)
        out["resume.catalog.read_s"] = tracer.total("resume.catalog.read", self_only=True)
        out["resume.catalog.manifest_scan_s"] = tracer.total("resume.catalog.manifest_scan")
        out["linking.linked_frac"] = self.rows_out["clean_links"] / max(self.rows_out["mentions"], 1)
        out["extraction.kept_frac"] = self.rows_out["triples"] / max(self.rows_out["pairs"], 1)
        return out, [g for name, g in groups.items() if name]

