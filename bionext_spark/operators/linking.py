"""Stage 2 — entity linking (SURVEY.md J1-J4, A1, P2, O3/O4).

Re-expresses the reference's seven sequential linker passes
(src/linker/__init__.py:29-40) as one DataFrame dataflow:

* J1/J2 dictionary hops → **broadcast hash joins** against lexicon tables
  (the lexicons are side data, MBs — never shuffled).
* O3 cascade ("first non-empty lookup wins", chemicals.py:96-111) →
  union of per-hop candidate sets tagged with a priority, keep each
  mention's minimum-priority hop (inside the vote kernel, which groups by
  the same key).
* O4 distinct-encode-join (replaces the reference's lru_cache,
  chemicals.py:71): only *distinct unmatched lowercased texts* ever reach
  the encoder kernel; results join back. This is the main throughput lever
  — mention texts are heavy-tailed.
* J3 embedding similarity → encoder kernel in mapInPandas + numpy matmul
  against the broadcast KB matrices; per-KB-file argmax, > threshold,
  best across files (chemicals.py:71-94).
* J4 nearest-anchor → per-conversation equi-join genes×linked-organisms +
  ``min_by`` on (|Δstart|, org_start) (genes.py:107-130; strict ``<``
  keeps the earliest organism on ties), default '9606'.
* A1 majority vote → one grouped kernel per conversation bucket
  (``majority_vote_grouped``): count support per (conv, candidate), pick
  per mention the max (count, -rank) — Python ``max`` first-of-max
  tie-break reproduced via lexicon rank order.
* P2 cleaner → filter '-' + row_number re-numbering (cleaner.py:5-30).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bionext_spark.adapters import EncoderAdapter, StubEncoder
from bionext_spark.config import (
    DEFAULT_CONFIG,
    DEFAULT_TAX_ID,
    TAXONOMY_ID_CORRECTIONS,
    PipelineConfig,
)
from bionext_spark.operators import MAX_DRIVER_ROWS, local_relation

CAND_COLS = ("conv_id", "mention_id", "cand", "rank", "priority")


def _cands(df: DataFrame, cand, rank, priority: int) -> DataFrame:
    return df.select(
        "conv_id",
        "mention_id",
        cand.alias("cand"),
        rank.cast("long").alias("rank"),
        F.lit(priority).alias("priority"),
    )


def vote_conversation(
    rows: list[tuple[int, str | None, str, int, int]],
    corrections: dict[str, str] | None = None,
) -> list[tuple[int, str, int]]:
    """Pure hop-select + majority-vote for ONE conversation's candidate
    rows (mention_id, label, cand, rank, priority) → per-mention
    (mention_id, linked_id, priority), with the reference's semantics
    (chemicals.py:96-135): O3 min-priority hop per mention, A1
    per-(label, cand) support counts, max count with first-in-list (rank)
    tie-break (modelled by ``oracle._majority_vote``)."""
    from collections import defaultdict

    min_p: dict[int, int] = {}
    for mid, _lbl, _cand, _rank, prio in rows:
        if mid not in min_p or prio < min_p[mid]:
            min_p[mid] = prio
    chosen = [r for r in rows if r[4] == min_p[r[0]]]
    counts: dict[tuple[str | None, str], int] = defaultdict(int)
    for _mid, lbl, cand, _rank, _p in chosen:
        counts[(lbl, cand)] += 1
    best: dict[int, tuple[int, int, str]] = {}  # mid -> (cnt, -rank, cand)
    for mid, lbl, cand, rank, _p in chosen:
        key = (counts[(lbl, cand)], -rank)
        if mid not in best or key > best[mid][:2]:
            best[mid] = (key[0], key[1], cand)
    out = []
    for mid, (_c, _nr, cand) in best.items():
        if corrections:
            cand = corrections.get(cand, cand)
        out.append((mid, cand, min_p[mid]))
    return out


def majority_vote_grouped(
    cands: DataFrame,
    corrections: dict[str, str] | None = None,
    per_label: bool = False,
) -> DataFrame:
    """O3 hop-select + A1 majority vote as a grouped kernel: ONE shuffle
    and a per-conversation ``vote_conversation`` pass, instead of a window
    + counts + join + groupBy chain (~4 shuffles).

    ``per_label=True`` votes several entity types in one pass (counts
    keyed by (conv, label, cand)), equivalent to the reference's separate
    per-pass votes since every mention has exactly one label.

    The kernel groups on a conv_id HASH BUCKET, not conv_id itself: per-
    conversation candidate lists are tiny, so per-group Arrow round-trip
    overhead dominated when every conversation was its own applyInPandas
    group (~3 group calls per conversation across the vote passes — the
    measured reason the linker stage scaled only ~2× from N to 4N cores).
    Bucketing amortizes that overhead over ~thousands of conversations per
    python call; the inner pandas groupby preserves per-conversation
    semantics bit-for-bit."""
    import pandas as pd

    has_label = per_label
    spark = cands.sparkSession
    n_buckets = spark.sparkContext.defaultParallelism * 8

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        out_conv: list[str] = []
        out_mid: list[int] = []
        out_id: list[str] = []
        out_p: list[int] = []
        for conv, g in pdf.groupby("conv_id", sort=False):
            rows = list(
                zip(
                    g["mention_id"],
                    g["label"] if has_label else [None] * len(g),
                    g["cand"],
                    g["rank"],
                    g["priority"],
                )
            )
            for mid, cand, prio in vote_conversation(rows, corrections):
                out_conv.append(conv)
                out_mid.append(int(mid))
                out_id.append(cand)
                out_p.append(int(prio))
        return pd.DataFrame(
            {
                "conv_id": out_conv,
                "mention_id": pd.Series(out_mid, dtype="int32"),
                "linked_id": out_id,
                "priority": pd.Series(out_p, dtype="int32"),
            }
        )

    bucketed = cands.withColumn("_b", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
    return bucketed.groupBy("_b").applyInPandas(
        per_bucket, "conv_id string, mention_id int, linked_id string, priority int"
    )


# ---------------------------------------------------------------------------
# Side data — every lexicon-derived structure the linker joins against.
#
# The lexicons are side data by contract (MBs — the reference loads them
# as in-process dicts + .npy matrices, src/linker/utils.py): the scale
# axis is the transcript corpus, never the lexicons. LinkerSideData derives
# them ONCE per session, in the driver, from plain rows (``from_rows``),
# and holds the four broadcast tables as ``LocalRelation``s
# (``operators.local_relation``): deriving and broadcasting them starts no
# Spark job, no Python worker and no cache. Derived per run and
# relationally, they were a serial constant that bounded local N→4N
# scaling (round 2); inputs past ``max_driver_rows`` keep those plans.
# ---------------------------------------------------------------------------


DICT_LEX_SCHEMA = "label string, key_kind string, text_key string, cand string, rank long, priority int"
GENE_LEX_SCHEMA = "tax_id string, text_key string, cand string, rank long, priority int"


def _kb_matrices(concepts) -> dict[str, tuple[list[str], np.ndarray]]:
    """Concept rows → {kb: (ids, embedding matrix)} in rank order. The
    embeddings are rounded to their declared float type
    (``schemas.LEXICON_CONCEPTS``), so rows read from a frame and rows
    handed over directly give the same matrices."""
    emb_rows = sorted((r for r in concepts if r["embedding"] is not None), key=lambda r: r["rank"])
    out = {}
    for kb in sorted({r["kb"] for r in emb_rows}):
        sub = [r for r in emb_rows if r["kb"] == kb]
        out[kb] = (
            [r["id"] for r in sub],
            np.array([r["embedding"] for r in sub], dtype=np.float32).astype(np.float64),
        )
    return out


class LinkerSideData:
    """All lexicon-derived side structures, derived once per session.

    ``dict_lex`` / ``gene_lex`` / ``flat_train_keys`` / ``gene_dict_keys``
    are the broadcast-join sides: ``LocalRelation``s over driver-side rows,
    or the relational fallback plans when an input exceeds
    ``max_driver_rows``. ``known_taxa`` (the gene KB's taxa) and
    ``emb_taxa`` (the taxa with a gene embedding file) are python lists;
    ``kb_matrices`` the numpy KB matrices (rank-ordered, unit-norm rows —
    reference pre-loads .npy, chemicals.py:59-62)."""

    def __init__(self, dict_lex, gene_lex, known_taxa, flat_train_keys,
                 gene_dict_keys, kb_matrices):
        self.dict_lex = dict_lex
        self.gene_lex = gene_lex
        self.known_taxa = known_taxa
        self.flat_train_keys = flat_train_keys
        self.gene_dict_keys = gene_dict_keys
        self.kb_matrices = kb_matrices
        self.emb_taxa = sorted(
            kb.removeprefix("gene_") for kb in kb_matrices if kb.startswith("gene_")
        )

    @staticmethod
    def build(
        spark: SparkSession,
        train_direct: DataFrame,
        lexicon_concepts: DataFrame,
        lexicon_genes: DataFrame,
        lexicon_variants: DataFrame,
        max_driver_rows: int = MAX_DRIVER_ROWS,
    ) -> "LinkerSideData":
        """Side data over lexicon tables: collects each table that fits
        ``max_driver_rows`` and derives from its rows (``from_rows``);
        past the bound, the lexicon tables stay relational plans."""
        # concepts ALWAYS collect: the KB embedding matrices must fit the
        # driver regardless (they broadcast as numpy, like the reference's
        # .npy loads)
        co = lexicon_concepts.select("kb", "id", "text", "embedding", "rank").collect()

        def _try_collect(df: DataFrame):
            rows = df.limit(max_driver_rows + 1).collect()
            return None if len(rows) > max_driver_rows else rows

        tr = _try_collect(train_direct)
        ge = _try_collect(lexicon_genes)
        va = _try_collect(lexicon_variants)
        if tr is not None and ge is not None and va is not None:
            return LinkerSideData.from_rows(spark, tr, co, ge, va)

        gene_lex = _gene_lexicon(train_direct, lexicon_genes)
        return LinkerSideData(
            _dictionary_lexicon(train_direct, lexicon_concepts, lexicon_variants),
            gene_lex,
            sorted(r[0] for r in lexicon_genes.select("tax_id").distinct().collect()),
            train_direct.filter(
                F.col("label").isin(list(FLAT_EMB_KBS)) & F.col("tax_id").isNull()
            ).select("label", "text_key").distinct(),
            gene_lex.filter(F.col("priority") <= 1).select("tax_id", "text_key").distinct(),
            _kb_matrices(co),
        )

    @staticmethod
    def from_rows(spark: SparkSession, train_direct, concepts, genes, variants) -> "LinkerSideData":
        """Side data from lexicon rows (mappings or ``Row``s with the
        fixture tables' columns), derived in the driver with exactly the
        relational semantics of ``_dictionary_lexicon`` / ``_gene_lexicon``.
        Starts no Spark job."""
        dict_rows = [
            (
                r["label"],
                "raw" if r["label"] == "OrganismTaxon" else "lower",
                r["text_key"], r["linked_id"], r["rank"], 0,
            )
            for r in train_direct
            if r["tax_id"] is None
        ]
        dict_rows += [
            ("OrganismTaxon", "lower", r["text"], r["id"], r["rank"], 1)
            for r in concepts
            if r["kb"] == "taxonomy"
        ]
        dict_rows += [
            ("SequenceVariant", "lower", r["mention"], r["identifier"], 0, 2) for r in variants
        ]

        gene_rows = [
            (r["tax_id"], r["text_key"], r["linked_id"], r["rank"], 0)
            for r in train_direct
            if r["label"] == "GeneOrGeneProduct" and r["tax_id"] is not None
        ]
        kb_min: dict[tuple, int] = {}
        backup_min: dict[tuple, int] = {}
        for r in genes:
            k = (r["tax_id"], r["alias"], r["gene_id"])
            kb_min[k] = min(kb_min.get(k, r["rank"]), r["rank"])
            b = (r["alias"], r["gene_id"])
            backup_min[b] = min(backup_min.get(b, r["rank"]), r["rank"])
        gene_rows += [(t, a, g, rk, 1) for (t, a, g), rk in kb_min.items()]
        gene_rows += [(None, a, g, rk, 3) for (a, g), rk in backup_min.items()]

        flat_keys = sorted(
            {
                (r["label"], r["text_key"])
                for r in train_direct
                if r["label"] in FLAT_EMB_KBS and r["tax_id"] is None
            }
        )
        gd_keys = sorted({(t, a) for (t, a, _g, _rk, p) in gene_rows if p <= 1})
        return LinkerSideData(
            local_relation(spark, dict_rows, DICT_LEX_SCHEMA),
            local_relation(spark, gene_rows, GENE_LEX_SCHEMA),
            sorted({r["tax_id"] for r in genes}),
            local_relation(spark, flat_keys, "label string, text_key string"),
            local_relation(spark, gd_keys, "tax_id string, text_key string"),
            _kb_matrices(concepts),
        )


# ---------------------------------------------------------------------------
# J3 — distinct-encode embedding lookup.
# ---------------------------------------------------------------------------


def embedding_lookup(
    spark: SparkSession,
    texts: DataFrame,  # carries (grp, text_key)
    kb_matrices: dict[str, tuple[list[str], np.ndarray]],
    kbs_by_group: dict[str, list[str]],
    encoder: EncoderAdapter,
    threshold: float,
    dash_groups: frozenset[str] | set[str] = frozenset(),
) -> DataFrame:
    """Encode each distinct (grp, text) once, match against broadcast KB
    matrices (J3 + O4). ``kbs_by_group`` maps the grp value (entity label
    for the flat hops, 'tax:<id>' for the per-taxon gene hop — BOTH hop
    families resolve in this single kernel pass, one distinct shuffle
    instead of two) to its KB files; per-file argmax > threshold, best
    across files (chemicals.py:71-94). ``kb_matrices`` is the
    LinkerSideData matrices dict (rank-ordered so argmax first-max ==
    lowest rank).

    Returns (grp, text_key, cand) — ``cand`` is NULL when nothing clears
    the threshold, except for groups in ``dash_groups`` where it is '-'
    (the reference's gene hop *always* answers when the taxon has an
    embedding file, genes.py:146-151)."""
    wanted_kbs = {kb for kbs in kbs_by_group.values() for kb in kbs}
    matrices = {kb: m for kb, m in kb_matrices.items() if kb in wanted_kbs}
    bc = spark.sparkContext.broadcast((matrices, kbs_by_group, set(dash_groups)))
    key_cols = ["grp", "text_key"]
    out_schema = "grp string, text_key string, cand string"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mats, groups, dash = bc.value
        for pdf in batches:
            if pdf.empty:
                yield pdf.assign(cand=pd.Series(dtype=object))[key_cols + ["cand"]]
                continue
            embs = np.array(encoder.encode_batch(list(pdf["text_key"])), dtype=np.float64)
            cands: list[str | None] = []
            for i in range(len(pdf)):
                grp = pdf["grp"].iloc[i]
                wanted = sorted(groups.get(grp, []))
                best: tuple[float, str] | None = None
                for kb in wanted:
                    if kb not in mats:
                        continue
                    ids, M = mats[kb]
                    scores = M @ embs[i]
                    j = int(np.argmax(scores))
                    if scores[j] > threshold and (best is None or scores[j] > best[0]):
                        best = (float(scores[j]), ids[j])
                cands.append(best[1] if best else ("-" if grp in dash else None))
            yield pdf[key_cols].assign(cand=cands)

    return texts.select(*key_cols).distinct().mapInPandas(score, out_schema)


def select_fewshot_examples(
    spark: SparkSession,
    texts: DataFrame,  # (text_key) — distinct texts reaching the LLM hop
    examples: DataFrame,  # (mention, code, gene) — variant train memory
    encoder: EncoderAdapter,
    k: int = 50,
    threshold: float = 0.6,
    max_driver_rows: int = MAX_DRIVER_ROWS,
) -> DataFrame:
    """K5 few-shot example retrieval as a DATAFLOW op (reference
    seq_variant.py:239-268: torch.topk(embeddings @ target, k=50), keep
    scores > 0.6, examples feed the LLM prompt in topk order).

    The example table is side data (reference builds it driver-side from
    BioRED train + tmVar, :324-341): its mention embeddings are encoded
    ONCE on the driver and broadcast; each distinct unresolved text then
    scores against the matrix in a mapInPandas kernel — the same
    distinct-encode shape as the J3 embedding lookup, cost ∝ |distinct
    texts| × |examples|. Ties keep the lower example index (torch.topk's
    first-occurrence order on CPU).

    Returns (text_key, shots: array<struct<gene, mention, code>>) in
    (score desc, example index asc) order — the exact prompt order.

    The example table is collected to the driver only while it fits
    ``max_driver_rows`` (same bound-and-fallback pattern as
    ``LinkerSideData.build``); an oversized table routes to the fully
    relational scorer instead of OOMing the driver."""
    ex_rows = examples.select("mention", "code", "gene").limit(max_driver_rows + 1).collect()
    if len(ex_rows) > max_driver_rows:
        return _select_fewshot_relational(texts, examples, encoder, k, threshold)
    if ex_rows:
        M = np.array(encoder.encode_batch([r["mention"] for r in ex_rows]), dtype=np.float64)
    else:
        M = np.zeros((0, getattr(encoder, "dim", 1)))
    triples = [(r["gene"], r["mention"], r["code"]) for r in ex_rows]
    bc = spark.sparkContext.broadcast((M, triples, k, threshold))
    out_schema = (
        "text_key string, shots array<struct<gene: string, mention: string, code: string>>"
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat, shots, kk, thr = bc.value
        for pdf in batches:
            if pdf.empty or not len(shots):
                yield pdf.assign(shots=[[] for _ in range(len(pdf))])[
                    ["text_key", "shots"]
                ]
                continue
            embs = np.array(encoder.encode_batch(list(pdf["text_key"])), dtype=np.float64)
            scores = mat @ embs.T  # (n_examples, batch)
            out = []
            for j in range(scores.shape[1]):
                col = scores[:, j]
                # stable argsort on (-score, idx) == torch.topk order
                top = np.argsort(-col, kind="stable")[:kk]
                out.append([shots[i] for i in top if col[i] > thr])
            yield pdf[["text_key"]].assign(shots=out)

    return texts.select("text_key").distinct().mapInPandas(score, out_schema)


_SHOTS_TYPE = "array<struct<gene: string, mention: string, code: string>>"


def _select_fewshot_relational(
    texts: DataFrame,
    examples: DataFrame,
    encoder: EncoderAdapter,
    k: int,
    threshold: float,
) -> DataFrame:
    """Distributed fallback for an example table too large to collect:
    both sides are encoded executor-side (Arrow-batched mapInPandas), the
    |texts| × |examples| matmul the driver path runs becomes a join + HOF
    dot product, and top-k per text is a ``row_number`` window — the same
    score/threshold/cap semantics at unbounded example-table size.

    Ties on exactly equal scores break lexicographically on
    (mention, code, gene) instead of the driver path's collect-order index
    — a distributed table has no stable "row order" to index by."""

    def _enc(cols: list[str], text_col: str, out_col: str):
        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    yield pdf.assign(**{out_col: []})[cols + [out_col]]
                    continue
                embs = encoder.encode_batch(list(pdf[text_col]))
                yield pdf[cols].assign(
                    **{out_col: [[float(x) for x in e] for e in embs]}
                )

        return gen

    ex_enc = examples.select("gene", "mention", "code").mapInPandas(
        _enc(["gene", "mention", "code"], "mention", "emb"),
        "gene string, mention string, code string, emb array<double>",
    )
    tx = texts.select("text_key").distinct()
    tx_enc = tx.mapInPandas(
        _enc(["text_key"], "text_key", "temb"),
        "text_key string, temb array<double>",
    )
    dot = F.expr("aggregate(zip_with(temb, emb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    w = Window.partitionBy("text_key").orderBy(F.desc("score"), "mention", "code", "gene")
    shots = (
        tx_enc.crossJoin(ex_enc)
        .withColumn("score", dot)
        .filter(F.col("score") > threshold)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .groupBy("text_key")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("rnk", F.struct("gene", "mention", "code").alias("s"))
                    )
                ),
                lambda e: e["s"],
            ).alias("shots")
        )
    )
    return tx.join(shots, "text_key", "left").select(
        "text_key",
        F.coalesce("shots", F.expr(f"CAST(array() AS {_SHOTS_TYPE})")).alias("shots"),
    )


# ---------------------------------------------------------------------------
# Unified cascade candidate generation.
#
# Every *dictionary* hop of every per-label cascade normalizes into one
# broadcastable candidate-lexicon table
#     (label, key_kind, text_key, cand, rank, priority)
# so ALL tax-independent hops resolve in a SINGLE broadcast hash join
# (the reference runs seven sequential passes; the first engine version
# ran ~10 broadcast joins — one per hop — which made the DAG latency-
# bound: ~200 scheduler stages dominated wall time and killed N→4N
# scaling). Gene hops join a second, taxon-keyed lexicon after the
# nearest-organism anchor is known. key_kind carries the reference's
# mixed normalization (taxonomy train memory matches RAW text,
# taxonomy.py:53; everything else lowercases).
# ---------------------------------------------------------------------------


def _dictionary_lexicon(train: DataFrame, concepts: DataFrame, variants: DataFrame) -> DataFrame:
    """All tax-independent dictionary hops as one lexicon table."""
    tr = train.filter(F.col("tax_id").isNull()).select(
        "label",
        F.when(F.col("label") == "OrganismTaxon", F.lit("raw")).otherwise(F.lit("lower")).alias("key_kind"),
        F.col("text_key"),
        F.col("linked_id").alias("cand"),
        F.col("rank").cast("long").alias("rank"),
        F.lit(0).alias("priority"),
    )
    tax_kb = concepts.filter(F.col("kb") == "taxonomy").select(
        F.lit("OrganismTaxon").alias("label"),
        F.lit("lower").alias("key_kind"),
        F.col("text").alias("text_key"),
        F.col("id").alias("cand"),
        F.col("rank").cast("long").alias("rank"),
        F.lit(1).alias("priority"),
    )
    var_kb = variants.select(
        F.lit("SequenceVariant").alias("label"),
        F.lit("lower").alias("key_kind"),
        F.col("mention").alias("text_key"),
        F.col("identifier").alias("cand"),
        F.lit(0).cast("long").alias("rank"),
        F.lit(2).alias("priority"),
    )
    return tr.unionByName(tax_kb).unionByName(var_kb)


def _gene_lexicon(train: DataFrame, genes_kb: DataFrame) -> DataFrame:
    """Taxon-keyed gene hops: train memory (genes.py:36-53), per-taxon KB
    (genes.py:141-144), all-taxa backup (genes.py:153-156, tax_id NULL)."""
    tr = train.filter(
        (F.col("label") == "GeneOrGeneProduct") & F.col("tax_id").isNotNull()
    ).select("tax_id", "text_key", F.col("linked_id").alias("cand"), F.col("rank").cast("long").alias("rank"), F.lit(0).alias("priority"))
    kb = (
        genes_kb.groupBy("tax_id", F.col("alias").alias("text_key"), "gene_id")
        .agg(F.min("rank").cast("long").alias("rank"))
        .select("tax_id", "text_key", F.col("gene_id").alias("cand"), "rank", F.lit(1).alias("priority"))
    )
    backup = (
        genes_kb.groupBy(F.col("alias").alias("text_key"), "gene_id")
        .agg(F.min("rank").cast("long").alias("rank"))
        .select(F.lit(None).cast("string").alias("tax_id"), "text_key", F.col("gene_id").alias("cand"), "rank", F.lit(3).alias("priority"))
    )
    return tr.unionByName(kb).unionByName(backup)


def _nearest_org_anchor(
    m_gene: DataFrame, linked_orgs: DataFrame, known_taxa: list[str]
) -> DataFrame:
    """J4 — nearest linked organism whose taxon exists in the gene KB
    (strict < keeps the earliest organism on distance ties,
    genes.py:107-130); default '9606' when none.

    Shape: each conversation's (few) qualifying anchors collect into ONE
    array row — an ObjectHashAggregate over |org links| rows — which then
    hash-joins onto the gene mentions, and the nearest pick runs as a
    whole-stage-codegen fold over that per-conversation array. The earlier
    join-then-groupBy form (first() payload + min_by) planned as a DOUBLE
    SortAggregate over |gene mentions| × |anchors per conversation|
    exploded rows — at bench scale the single largest JVM stage (measured
    379 core-s of the 16-core run; this form removes the sort and the
    mention-row explosion entirely). Anchor-less conversations survive the
    left join with a NULL array → NULL fold → the default taxon.

    ``known_taxa``: list of taxon ids (``LinkerSideData.known_taxa``);
    it becomes an InSet predicate, zero extra jobs."""
    anchors = linked_orgs.filter(F.col("org_tax").isin(known_taxa))
    per_conv = anchors.groupBy("conv_id").agg(
        F.collect_list(F.struct("org_start", "org_tax")).alias("_orgs")
    )
    # lexicographic (distance, org_start) minimum — identical tie rule to
    # min_by(org_tax, struct(d, org_start)): distance ties keep the
    # earliest organism (genes.py:107-130 strict <)
    nearest = F.expr(
        """
        aggregate(
            _orgs,
            struct(cast(null as string) as tax, cast(0 as bigint) as d,
                   cast(0 as bigint) as os),
            (acc, o) -> CASE
                WHEN acc.tax IS NULL
                     OR abs(start - o.org_start) < acc.d
                     OR (abs(start - o.org_start) = acc.d AND o.org_start < acc.os)
                THEN struct(o.org_tax as tax,
                            cast(abs(start - o.org_start) as bigint) as d,
                            cast(o.org_start as bigint) as os)
                ELSE acc END,
            acc -> acc.tax)
        """
    )
    return (
        m_gene.join(per_conv, "conv_id", "left")
        .withColumn("tax_id", F.coalesce(nearest, F.lit(DEFAULT_TAX_ID)))
        .drop("_orgs")
    )


# ---------------------------------------------------------------------------
# Seq-variant cascade tail (reference src/linker/seq_variant.py:376-505).
# ---------------------------------------------------------------------------


def _cache(df: DataFrame, caches: list[DataFrame] | None) -> DataFrame:
    """``df.cache()``, recorded in ``caches`` (see ``run_linker``)."""
    df = df.cache()
    if caches is not None:
        caches.append(df)
    return df


def _variant_candidates(
    mentions: DataFrame,
    c_dict: DataFrame,
    c_rs: DataFrame,
    gene_winners_votes: DataFrame,  # (conv_id, mention_id, linked_id, priority)
    gene_symbols: DataFrame | None,
    litvar,
    llm,
    fewshot_examples: DataFrame | None = None,
    encoder: EncoderAdapter | None = None,
    fewshot_k: int = 50,
    fewshot_threshold: float = 0.6,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """All SequenceVariant candidate hops as one prioritized frame:

      0 train memory     (engine extension, SURVEY §2)
      1 rs-prefix        (seq_variant.py:414-416)
      2 tmVar lexicon    (engine extension)
      3 LitVar REST      (seq_variant.py:436-444): J4 nearest LINKED gene
                         anchor (:388-395) → J8 gene_lookup symbol
                         (:419-420) → F2 mention cleanup (:422-426) →
                         memoized lookup; the returned rsid LIST becomes
                         ranked candidates for the doc-level list vote
                         (:462-486 — same (count, first-in-list) rule as
                         the engine's majority vote).
      4 LLM few-shot     (:233-305, 446-453): only for mentions no prior
                         hop answered; F3 codon→amino rewrite keys the
                         memoized call, F5 scrub + F4 SUB→Allele rewrite
                         run on the raw model text downstream.
    """
    from bionext_spark.functions.text import (
        clean_variant_mention_col,
        convert_amino_acids_udf,
        rewrite_sub_allele_col,
        scrub_llm_output_col,
    )

    base = c_dict.filter(F.col("label") == "SequenceVariant").unionByName(c_rs)
    if gene_symbols is None or (litvar is None and llm is None):
        return base

    # J4 (variant flavor): nearest gene MENTION by |Δstart|; strict < keeps
    # the earliest gene mention on ties (seq_variant.py:388-404 iterates
    # ALL gene entities in document order with a strict comparison,
    # regardless of link outcome — an unlinked nearest gene still anchors,
    # with linked_id '-', so the LitVar hop fails its gene_lookup guard and
    # the LLM hop receives the raw '-'). Hence LEFT join onto the winners
    # and default the id to '-' for winner-less genes.
    gene_anchors = (
        mentions.filter(F.col("label") == "GeneOrGeneProduct")
        .select("conv_id", "mention_id", F.col("start").alias("g_start"))
        .join(
            gene_winners_votes.select(
                "conv_id", "mention_id", F.col("linked_id").alias("gene_id")
            ),
            ["conv_id", "mention_id"],
            "left",
        )
        .select(
            "conv_id",
            F.coalesce("gene_id", F.lit("-")).alias("gene_id"),
            "g_start",
            F.col("mention_id").alias("g_mid"),
        )
    )
    m_var = mentions.filter(F.col("label") == "SequenceVariant").select(
        "conv_id", "mention_id", "start", "text"
    )
    # same shape as _nearest_org_anchor: anchors collect to one array per
    # conversation (ObjectHashAggregate), then a codegen fold picks the
    # lexicographic (distance, g_mid) minimum — no SortAggregate, no
    # |variants| × |gene anchors per conversation| row explosion
    anchors_arr = gene_anchors.groupBy("conv_id").agg(
        F.collect_list(F.struct("g_start", "g_mid", "gene_id")).alias("_genes")
    )
    nearest_gene = F.expr(
        """
        aggregate(
            _genes,
            struct(cast(null as string) as gid, cast(0 as bigint) as d,
                   cast(0 as int) as mid),
            (acc, g) -> CASE
                WHEN acc.gid IS NULL
                     OR abs(start - g.g_start) < acc.d
                     OR (abs(start - g.g_start) = acc.d AND g.g_mid < acc.mid)
                THEN struct(g.gene_id as gid,
                            cast(abs(start - g.g_start) as bigint) as d,
                            g.g_mid as mid)
                ELSE acc END,
            acc -> acc.gid)
        """
    )
    v = (
        m_var.join(anchors_arr, "conv_id", "left")
        .withColumn("gene_id", nearest_gene)
        .drop("_genes")
        .join(F.broadcast(gene_symbols), "gene_id", "left")
    )

    hops = [base]
    if litvar is not None:
        # S8 — LitVar hop: requires the anchor to resolve in gene_lookup
        # (seq_variant.py:419); key = '<F2-cleaned mention> <symbol>'.
        v_lit = v.filter(F.col("symbol").isNotNull()).withColumn(
            "key",
            F.concat_ws(" ", clean_variant_mention_col(F.col("text")), F.col("symbol")),
        )
        lit_vals = litvar.lookup(v_lit.select("key"))
        hops.append(
            v_lit.join(lit_vals, "key")
            .filter(F.col("value").isNotNull())
            .select(
                "conv_id",
                "mention_id",
                F.lit("SequenceVariant").alias("label"),
                F.posexplode(F.split("value", ",")).alias("rank", "cand"),
            )
            .select(
                "conv_id", "mention_id", "label", "cand",
                F.col("rank").cast("long").alias("rank"), F.lit(3).alias("priority"),
            )
        )
    if llm is not None:
        # K5 — LLM hop for mentions no earlier hop answered. The reference
        # mutates entity text to the cleaned form only inside the
        # gene_lookup branch (:426) and passes the symbol when resolved,
        # the raw gene id otherwise.
        prior = hops[0].select("conv_id", "mention_id")
        for h in hops[1:]:
            prior = prior.unionByName(h.select("conv_id", "mention_id"))
        v_llm = v.join(prior.distinct(), ["conv_id", "mention_id"], "left_anti")
        llm_text = F.when(
            F.col("symbol").isNotNull(), clean_variant_mention_col(F.col("text"))
        ).otherwise(F.col("text"))
        llm_gene = F.coalesce("symbol", "gene_id", F.lit("-"))
        amino = convert_amino_acids_udf()
        v_llm = _cache(v_llm.withColumn("amino_text", amino(llm_text)).withColumn(
            "key", F.concat_ws("\x00", F.col("amino_text"), llm_gene)
        ), caches)
        # cache: v_llm's subplan (anchor join + anti-join vs every prior
        # hop) is consumed up to THREE times — few-shot retrieval, the
        # memoized lookup, and the final hop join; uncached, each re-ran
        # the whole chain as extra serial jobs on the linker critical path
        if fewshot_examples is not None:
            # K5 engine-side retrieval: the top-k > threshold examples for
            # each distinct amino-converted text ride the lookup as a
            # CONTEXT column — a prompt-building adapter receives them;
            # the memo key stays (text, gene), like the reference's
            # diskcache (seq_variant.py:236-268)
            shots = select_fewshot_examples(
                mentions.sparkSession,
                v_llm.select(F.col("amino_text").alias("text_key")),
                fewshot_examples,
                encoder or StubEncoder(),
                fewshot_k,
                fewshot_threshold,
            )
            v_llm = v_llm.join(
                shots.withColumnRenamed("text_key", "amino_text"), "amino_text", "left"
            )
            llm_vals = llm.lookup(v_llm.select("key", "shots"))
        else:
            llm_vals = llm.lookup(v_llm.select("key"))
        hops.append(
            v_llm.join(llm_vals, "key")
            .filter(F.col("value").isNotNull())
            .select(
                "conv_id",
                "mention_id",
                F.lit("SequenceVariant").alias("label"),
                rewrite_sub_allele_col(scrub_llm_output_col(F.col("value"))).alias("cand"),
                F.lit(0).cast("long").alias("rank"),
                F.lit(4).alias("priority"),
            )
        )
    out = hops[0]
    for h in hops[1:]:
        out = out.unionByName(h)
    return out


# ---------------------------------------------------------------------------
# Full linker + cleaner.
# ---------------------------------------------------------------------------

_METHODS = {
    ("OrganismTaxon", 0): "train",
    ("OrganismTaxon", 1): "kb",
    ("ChemicalEntity", 0): "train",
    ("ChemicalEntity", 1): "embedding",
    ("DiseaseOrPhenotypicFeature", 0): "train",
    ("DiseaseOrPhenotypicFeature", 1): "embedding",
    ("CellLine", 0): "train",
    ("CellLine", 1): "embedding",
    ("GeneOrGeneProduct", 0): "train",
    ("GeneOrGeneProduct", 1): "kb",
    ("GeneOrGeneProduct", 2): "embedding",
    ("GeneOrGeneProduct", 3): "backup",
    ("SequenceVariant", 0): "train",
    ("SequenceVariant", 1): "rsid",
    ("SequenceVariant", 2): "lexicon",
    ("SequenceVariant", 3): "litvar",
    ("SequenceVariant", 4): "llm",
}

FLAT_EMB_KBS = {
    "ChemicalEntity": ["mesh"],
    "DiseaseOrPhenotypicFeature": ["ctd"],
    "CellLine": ["cellosaurus"],
}


def run_linker(
    spark: SparkSession,
    mentions: DataFrame,
    side: LinkerSideData,
    encoder: EncoderAdapter | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    gene_symbols: DataFrame | None = None,
    litvar=None,
    llm=None,
    fewshot_examples: DataFrame | None = None,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """mentions → LINKS (same rows + linked_id/method; '-' = unlinked).

    ``side``: the lexicon side data, derived once per session
    (``fixtures.linker_side_data``, ``LinkerSideData.from_rows`` or
    ``LinkerSideData.build``).

    ``gene_symbols`` (J8, reference gene_lookup.json) + ``litvar``/``llm``
    (MemoizedLookup instances over S8/K5 adapters) enable the deep
    seq-variant hops (reference seq_variant.py:376-505); with them None
    (the offline default — the engine core makes no network calls) the
    variant cascade stops at the tmVar lexicon hop.

    ``caches``: every DataFrame this call caches is appended to it, for the
    caller to unpersist once the links output is materialized
    (``pipeline.KGRun.release_caches``); left None, they stay cached."""
    encoder = encoder or StubEncoder(cfg.embedding_dim)
    mentions = _cache(mentions, caches)  # fans into dict join, anchors, final join

    m = mentions.select(
        "conv_id",
        "mention_id",
        "label",
        "start",
        # key_kind expansion: organism mentions probe the lexicon under BOTH
        # raw and lowered keys (taxonomy train memory is raw-keyed)
        F.explode(
            F.when(
                F.col("label") == "OrganismTaxon",
                F.array(
                    F.struct(F.lit("raw").alias("key_kind"), F.col("text").alias("text_key")),
                    F.struct(F.lit("lower").alias("key_kind"), F.lower("text").alias("text_key")),
                ),
            ).otherwise(
                F.array(F.struct(F.lit("lower").alias("key_kind"), F.lower("text").alias("text_key")))
            )
        ).alias("k"),
    ).select("conv_id", "mention_id", "label", "start", "k.key_kind", "k.text_key")

    # --- ONE broadcast join for every tax-independent dictionary hop ---
    dict_lex = side.dict_lex
    c_dict = m.join(F.broadcast(dict_lex), ["label", "key_kind", "text_key"]).select(
        "conv_id", "mention_id", "label", "cand", F.col("rank").cast("long").alias("rank"), "priority"
    )

    # rs-prefixed variants are their own id (seq_variant.py:414-416)
    c_rs = m.filter(
        (F.col("label") == "SequenceVariant") & F.col("text_key").startswith("rs")
    ).select(
        "conv_id", "mention_id", "label", F.col("text_key").alias("cand"),
        F.lit(0).cast("long").alias("rank"), F.lit(1).alias("priority"),
    )

    # --- taxonomy vote first: gene linking anchors on its winners ---
    tax = _cache(majority_vote_grouped(
        c_dict.filter(F.col("label") == "OrganismTaxon").drop("label"),
        TAXONOMY_ID_CORRECTIONS,
    ), caches)
    linked_orgs = (
        mentions.filter(F.col("label") == "OrganismTaxon")
        .select("conv_id", "mention_id", F.col("start").alias("org_start"))
        .join(tax.select("conv_id", "mention_id", F.col("linked_id").alias("org_tax")),
              ["conv_id", "mention_id"])
        .select("conv_id", "org_tax", "org_start")
    )

    # --- gene hops: anchor then one taxon-keyed broadcast join ---
    m_gene = _cache(_nearest_org_anchor(
        m.filter(F.col("label") == "GeneOrGeneProduct").drop("label", "key_kind"),
        linked_orgs,
        side.known_taxa,
    ), caches)
    gene_lex = side.gene_lex
    c_gene = m_gene.alias("g").join(
        F.broadcast(gene_lex).alias("l"),
        (F.col("g.text_key") == F.col("l.text_key"))
        & (F.col("l.tax_id").isNull() | (F.col("l.tax_id") == F.col("g.tax_id"))),
    ).select(
        "conv_id", "mention_id", F.lit("GeneOrGeneProduct").alias("label"),
        "cand", F.col("rank").cast("long").alias("rank"), "priority",
    )

    # --- embedding hops (O3/O4): only dictionary misses, distinct texts,
    # BOTH hop families (flat per-label + per-taxon gene) in ONE kernel
    # pass — the two-pass form cost an extra distinct shuffle + python
    # stage + join of pure serial latency per run ---
    m_flat = m.filter(F.col("label").isin(list(FLAT_EMB_KBS))).join(
        F.broadcast(side.flat_train_keys), ["label", "text_key"], "left_anti"
    ).withColumn("grp", F.col("label"))

    emb_taxa = side.emb_taxa
    m_gene_emb = m_gene.filter(F.col("tax_id").isin(list(emb_taxa))).join(
        F.broadcast(side.gene_dict_keys),
        ["tax_id", "text_key"],
        "left_anti",
    ).withColumn("grp", F.concat(F.lit("tax:"), F.col("tax_id")))

    tax_groups = {f"tax:{t}": [f"gene_{t}"] for t in emb_taxa}
    emb = _cache(embedding_lookup(
        spark,
        m_flat.select("grp", "text_key").unionByName(m_gene_emb.select("grp", "text_key")),
        side.kb_matrices,
        {**FLAT_EMB_KBS, **tax_groups},
        encoder,
        cfg.similarity_threshold,
        dash_groups=set(tax_groups),
    ), caches)  # tiny (distinct texts); reused by both hop joins below

    c_emb_flat = m_flat.join(
        emb.filter(F.col("cand").isNotNull()), ["grp", "text_key"]
    ).select(
        "conv_id", "mention_id", "label", "cand",
        F.lit(0).cast("long").alias("rank"), F.lit(1).alias("priority"),
    )
    c_emb_gene = m_gene_emb.join(emb, ["grp", "text_key"]).select(
        "conv_id", "mention_id", F.lit("GeneOrGeneProduct").alias("label"),
        "cand", F.lit(0).cast("long").alias("rank"), F.lit(2).alias("priority"),
    )

    # --- hop-selection + per-label vote(s) for everything non-taxonomy ---
    # With the deep seq-variant hops OFF (the offline default), variants
    # vote in the SAME fused pass as chem/disease/cell/gene — one kernel,
    # one shuffle (separate per-label votes are provably equivalent, and
    # an extra vote pass is pure serial stage latency at N cores). With
    # them ON, variants vote after genes: their hops anchor on the gene
    # WINNERS, mirroring the reference's genes-before-seq_variant pass
    # order (src/linker/__init__.py:29-40).
    deep = gene_symbols is not None and (litvar is not None or llm is not None)
    combined = (
        c_dict.filter(~F.col("label").isin("OrganismTaxon", "SequenceVariant"))
        .unionByName(c_gene)
        .unionByName(c_emb_flat)
        .unionByName(c_emb_gene)
    )
    if deep:
        rest = _cache(majority_vote_grouped(combined, per_label=True), caches)
        c_var = _variant_candidates(
            mentions, c_dict, c_rs, rest, gene_symbols, litvar, llm,
            fewshot_examples=fewshot_examples, encoder=encoder,
            fewshot_k=cfg.fewshot_k, fewshot_threshold=cfg.fewshot_threshold,
            caches=caches,
        )
        var_winners = majority_vote_grouped(c_var, per_label=True)
        all_winners = tax.unionByName(rest).unionByName(var_winners)
    else:
        combined = combined.unionByName(
            c_dict.filter(F.col("label") == "SequenceVariant")
        ).unionByName(c_rs)
        all_winners = tax.unionByName(majority_vote_grouped(combined, per_label=True))

    method_map = F.create_map(
        *[F.lit(x) for (lbl, p), name in _METHODS.items() for x in (f"{lbl}\x00{p}", name)]
    )
    return (
        mentions.join(all_winners, ["conv_id", "mention_id"], "left")
        .withColumn("linked_id", F.coalesce("linked_id", F.lit("-")))
        .withColumn(
            "method",
            F.when(
                F.col("linked_id") != "-",
                method_map[F.concat_ws("\x00", F.col("label"), F.col("priority"))],
            ),
        )
        .drop("priority")
    )


def run_cleaner(links: DataFrame, order_cols: tuple[str, ...] = ("start", "end")) -> DataFrame:
    """P2 — drop unlinked mentions and renumber 0..n-1 per conversation
    (cleaner.py:5-30). The reference numbers in annotation-APPEARANCE
    order; engine mentions are emitted in span order per conversation, so
    the default (start, end) ordering coincides. For ingested BioC
    documents (read_bioc_annotations), pass ("turn_idx", "ann_idx") —
    appearance order there is passage order, which is NOT span-monotonic
    when a document repeats annotations across contexts."""
    w = Window.partitionBy("conv_id").orderBy(*order_cols)
    return (
        links.filter(F.col("linked_id") != "-")
        .withColumn("mention_id", (F.row_number().over(w) - F.lit(1)).cast("int"))
    )
