"""Training-data pipeline operators over the documents/embeddings tables.

First-class large-scale corpus ops (deduplication, similarity search,
text analysis) expressed Spark-first with DuckDB oracle SQL. All outputs
are engine-portable values: integers, strings, and rationals/fixed-grid
floats both engines compute bit-identically.

Scale notes (these run on 100 TB, the SQL oracle only at sf=0.01):
* exact dedup: one hash-groupBy on a fingerprint — the canonical shuffle-
  once pattern.
* minhash LSH: shingle → per-band min(md5) signature → candidates join
  on (band, signature) → verify exact jaccard. Candidate set is
  band-bucket-bounded, never all-pairs.
* ngram jaccard: the quadratic verify step, bounded to a keyed sample.
* simhash: token-hash bit-majority folded to a 16-bit signature; pairs
  within hamming ≤ k join on signature bands.
* ANN: brute-force cosine top-k as the exact baseline; LSH sign-bucket
  and IVF nprobe variants as the scale paths (hyperplanes/codebook =
  fixed rows of the table, so both engines agree without a RNG; vectors
  are bucketed/assigned in a zero-shuffle broadcast projection).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bionext_spark.entry_queries import t, t_spread


def _ranked_topk(scored: DataFrame, k: int, *order_cols) -> DataFrame:
    """Global top-k WITHOUT a global window: ``orderBy().limit(k)`` plans as
    TakeOrderedAndProject (per-partition heap + driver merge — no
    single-partition WindowExec over the corpus, the round-1 scale-killer).
    The rank column is then derived over the ≤k-row result. NOTE: the
    optimizer folds the constant partitionBy(lit(0)) away, so Spark still
    logs a 'No Partition Defined for Window' warning here — it is BENIGN:
    the window's input is the ≤k-row TakeOrderedAndProject output, so the
    single partition it moves holds k rows, never the corpus."""
    top = scored.orderBy(*order_cols).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(*order_cols)
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))

# ---------------------------------------------------------------------------
# Deduplication.
# ---------------------------------------------------------------------------


def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on normalized text; keeper = min doc_id."""
    d = t_spread(spark, sf, "documents", "doc_id", ["doc_id", "text"])
    norm = F.regexp_replace(F.lower("text"), r"\s+", " ")
    return (
        d.select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""

_SHINGLE_EXPR = (
    "transform(sequence(1, greatest(1, length(text) - {k} + 1)), i -> substring(text, i, {k}))"
)


def _shingles(d: DataFrame, k: int = 8) -> DataFrame:
    """DISTINCT char-k-gram shingles per doc with ZERO shuffle: a
    (doc_id, shingle) pair is unique iff the shingle is unique within its
    own document, so array_distinct inside the explode gives exactly the
    global distinct — no full-corpus dedup exchange (round 1 paid that
    shuffle AND cached the 8×|corpus|-row result; round 2's first attempt
    skipped dedup and paid 8 md5s per duplicate occurrence instead)."""
    return d.select(
        "doc_id",
        F.explode_outer(F.array_distinct(F.expr(_SHINGLE_EXPR.format(k=k)))).alias("sh"),
    )


def dedup_minhash_lsh(spark, sf, barrier=None):
    """MinHash+LSH near-dup: 4 bands × 2 minhashes (min over
    md5(hash_id||shingle), band signature = the two minima joined).
    Single-hash bands collapse when documents share a small vocabulary —
    the globally minimal shingle lands in thousands of docs and the
    candidate bucket goes quadratic; two minima per band keep buckets
    selective. Candidates sharing ≥1 band signature are verified with
    exact jaccard over the char-8-gram shingle sets; emit jaccard ≥ 0.5.

    100 TB shape — everything per-document stays MAP-SIDE: the shingle
    stream is an array column (substring expansion, never exploded
    corpus-wide), all 8 band minima fold in ONE aggregate expression per
    doc (zero shuffle — no groupBy for signatures at all), and the
    exact-jaccard verify first semi-joins the corpus down to CANDIDATE
    docs (r6; guide §3.2 semi-join prefilter — a Bloom filter at true
    100 TB candidate counts), then ships each candidate pair its two
    distinct-shingle ARRAYS (two keyed joins) and intersects them in one
    array_intersect kernel — no |pairs|×|shingles| exploded join, no
    corpus-sized cache or broadcast, cost strictly ∝ |candidates|.

    ``barrier``: plan-barrier strategy for the per-doc digest table (~70B
    per doc). Default = localCheckpoint — fine standalone to ~10⁹ docs,
    but it pins executor storage and dies with the app. Pipeline contexts
    pass a durable df→df barrier, e.g.
    ``minhash_catalog_barrier(StageCatalog(...), inputs, fingerprint)``
    (see ``dedup_minhash_lsh_durable``), which commits the digests as a
    resumable stage table instead."""
    if barrier is None:
        barrier = lambda df: df.localCheckpoint()  # noqa: E731
    d = t_spread(spark, sf, "documents", "doc_id", ["doc_id", "text"])
    # stride-2 w-shingling: half the shingles → half the md5 folding and
    # half the verify-array bytes, for the usual negligible recall cost
    # (adjacent char-8-grams are ~7/8 redundant); measured 18.2→~12s at
    # sf0.1. The oracle SQL uses the same stride.
    shingle = (
        "transform(sequence(1, greatest(1, length(text) - 7), 2), i -> substring(text, i, 8))"
    )
    # All 8 minhash streams from TWO md5s per shingle: a 32-hex digest
    # yields four independent 8-char windows, so md5(s) + md5('x'||s)
    # cover 8 hash families at a quarter of the hashing cost; the whole
    # fold is ONE aggregate expression per doc (one pass over the array,
    # no groupBy — signatures never shuffle). 'z' > any hex char = +∞.
    # The digest folds over the RAW shingle stream (no array_distinct):
    # min over a multiset equals min over its set, so dedup buys nothing
    # here — only the jaccard verify below needs distinct arrays.
    mins = ", ".join(
        [f"'m{i}', least(acc.m{i}, substring(x.a, {8 * i + 1}, 8))" for i in range(4)]
        + [f"'m{i + 4}', least(acc.m{i + 4}, substring(x.b, {8 * i + 1}, 8))" for i in range(4)]
    )
    init = ", ".join(f"'m{i}', 'zzzzzzzz'" for i in range(8))
    per_doc = d.select(
        "doc_id",
        F.expr(
            f"aggregate(transform({shingle}, s -> struct(md5(s) as a, md5(concat('x', s)) as b)), "
            f"named_struct({init}), (acc, x) -> named_struct({mins}))"
        ).alias("mins"),
    )
    # the barrier makes the digest table a hard plan cut so neither the
    # candidate self-join nor AQE re-plans recompute the shingle sweep
    per_doc = barrier(
        per_doc.select("doc_id", *[F.col(f"mins.m{i}").alias(f"mh{i}") for i in range(8)])
    )
    sig = per_doc.selectExpr(
        "doc_id",
        "stack(4, "
        + ", ".join(f"{b}, concat(mh{2 * b}, '|', mh{2 * b + 1})" for b in range(4))
        + ") as (band, minhash)",
    )
    cand = (
        sig.alias("x")
        .join(sig.alias("y"), ["band", "minhash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc1"), F.col("y.doc_id").alias("doc2"))
        .distinct()
        # tiny table (pairs of ids); the cut lets the two verify branches
        # below reuse it without re-running the band self-join, and feeds
        # the candidate-id semi-filter
        .localCheckpoint()
    )
    # Verify ONLY candidate docs: the old form recomputed + broadcast the
    # shingle arrays of the ENTIRE corpus on both sides of the pair join
    # (two extra full-corpus sweeps and two ~|corpus|-sized broadcasts).
    # A broadcast semi-join on the candidate ids (guide §3.2's
    # semi-join/Bloom prefilter) bounds the verify sweep by |candidates|.
    ids = (
        cand.select(F.col("doc1").alias("doc_id"))
        .unionByName(cand.select(F.col("doc2").alias("doc_id")))
        .distinct()
    )
    arrs = d.join(F.broadcast(ids), "doc_id", "left_semi").select(
        "doc_id", F.array_distinct(F.expr(shingle)).alias("shs")
    )
    j = (
        cand.join(arrs.select(F.col("doc_id").alias("doc1"), F.col("shs").alias("shs1")), "doc1")
        .join(arrs.select(F.col("doc_id").alias("doc2"), F.col("shs").alias("shs2")), "doc2")
        .select(
            "doc1",
            "doc2",
            F.size(F.array_intersect("shs1", "shs2")).alias("n_inter"),
            (F.size("shs1") + F.size("shs2")).alias("n_sum"),
        )
        .select(
            "doc1",
            "doc2",
            (F.col("n_inter") / (F.col("n_sum") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= 0.5).select("doc1", "doc2", "jaccard")


def minhash_catalog_barrier(catalog, inputs, fingerprint):
    """Durable barrier for dedup_minhash_lsh inside a pipeline: commits the
    per-doc digest table through StageCatalog (snapshotted parquet/Iceberg
    + manifest), so the shingle sweep is resumable and nothing pins
    executor storage — the 100 TB replacement for the standalone
    localCheckpoint.

    ``inputs``/``fingerprint`` are REQUIRED and must identify the corpus
    version (e.g. the documents stage's snapshot id): the stage snapshot
    id is hash(stage, inputs, fingerprint), so constant defaults would
    silently resume STALE digests after the corpus changes."""

    def barrier(df):
        out, _ = catalog.run_stage(
            "minhash_digests", lambda: df, list(inputs), fingerprint
        )
        return out

    return barrier


def dedup_minhash_lsh_durable(spark, sf, catalog, corpus_fingerprint):
    """Pipeline-context MinHash dedup: same query as ``dedup_minhash_lsh``
    but the per-doc digest table is cut through ``StageCatalog`` — a
    crashed or re-run dedup resumes from the committed ``minhash_digests``
    stage instead of re-sweeping the corpus shingles (at 100 TB the
    shingle sweep IS the dominant cost, so the durable cut is the
    difference between a restartable job and a from-scratch one).

    ``corpus_fingerprint`` must identify the corpus version (e.g. the
    documents stage's snapshot id) — it keys the digest snapshot, so a
    changed corpus recomputes instead of resuming stale digests."""
    return dedup_minhash_lsh(
        spark,
        sf,
        barrier=minhash_catalog_barrier(catalog, [f"documents:{sf}"], corpus_fingerprint),
    )


DEDUP_MINHASH_SQL = """
WITH pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(1, length(text) - 7), 2)) AS i
  FROM documents),
sh AS (SELECT DISTINCT doc_id, substr(text, i, 8) AS sh FROM pos),
per_doc AS (
  SELECT doc_id,
         min(substr(md5(sh), 1, 8)) AS mh0, min(substr(md5(sh), 9, 8)) AS mh1,
         min(substr(md5(sh), 17, 8)) AS mh2, min(substr(md5(sh), 25, 8)) AS mh3,
         min(substr(md5('x' || sh), 1, 8)) AS mh4, min(substr(md5('x' || sh), 9, 8)) AS mh5,
         min(substr(md5('x' || sh), 17, 8)) AS mh6, min(substr(md5('x' || sh), 25, 8)) AS mh7
  FROM sh GROUP BY doc_id),
sig AS (
  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS minhash FROM per_doc
  UNION ALL SELECT doc_id, 1, mh2 || '|' || mh3 FROM per_doc
  UNION ALL SELECT doc_id, 2, mh4 || '|' || mh5 FROM per_doc
  UNION ALL SELECT doc_id, 3, mh6 || '|' || mh7 FROM per_doc),
cand AS (
  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
  FROM sig x JOIN sig y ON x.band = y.band AND x.minhash = y.minhash
                        AND x.doc_id < y.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc1, c.doc2, count(*) AS n_inter
  FROM cand c JOIN sh s1 ON s1.doc_id = c.doc1
              JOIN sh s2 ON s2.doc_id = c.doc2 AND s2.sh = s1.sh
  GROUP BY c.doc1, c.doc2)
SELECT doc1, doc2, n_inter / (n1.n + n2.n - n_inter) AS jaccard
FROM inter JOIN sizes n1 ON n1.doc_id = doc1 JOIN sizes n2 ON n2.doc_id = doc2
WHERE n_inter / (n1.n + n2.n - n_inter) >= 0.5
"""


def dedup_ngram_jaccard(spark, sf):
    """Word-3-gram jaccard, quadratic exact variant bounded to a sample
    (doc_id < 200): pairs with jaccard ≥ 0.2.

    The sample is 200 docs (not 100) so the sf0.01 slice contains real
    near-dup pairs (jaccard ≈ 0.95+) and the oracle match certifies nonzero
    rows rather than an empty result."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    words = d.select("doc_id", F.split(F.lower("text"), r"\s+").alias("ws"))
    grams = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(1, size(ws) - 2)),"
                " i -> concat_ws(' ', slice(ws, i, 3)))"
            )
        ).alias("g"),
    ).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.selectExpr("doc_id as doc1", "n as n1"), "doc1")
        .join(sizes.selectExpr("doc_id as doc2", "n as n2"), "doc2")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")))
        .filter(F.col("jaccard") >= 0.2)
        .select("doc1", "doc2", "jaccard")
    )


DEDUP_NGRAM_SQL = """
WITH words AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
  FROM documents WHERE doc_id < 200),
posn AS (
  SELECT doc_id, ws, unnest(generate_series(1, greatest(1, len(ws) - 2))) AS i
  FROM words),
grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g FROM posn),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc1, doc2, n_inter / (n1.n + n2.n - n_inter) AS jaccard
FROM inter JOIN sizes n1 ON n1.doc_id = doc1 JOIN sizes n2 ON n2.doc_id = doc2
WHERE n_inter / (n1.n + n2.n - n_inter) >= 0.2
"""

# 16 hex chars → value, as a portable CASE expression (both engines).
_HEXCASE = "CASE {c} " + " ".join(
    f"WHEN '{ch}' THEN {v}" for v, ch in enumerate("0123456789abcdef")
) + " END"


def dedup_simhash(spark, sf):
    """SimHash: 16-bit signature from the bit-majority of md5(token)
    prefixes; identical signatures are near-dup candidates.

    Computed entirely MAP-SIDE per document (zero shuffle): the old form
    exploded every token to a row (|corpus tokens| rows through a
    groupBy exchange) and parsed each hex nibble with a 16-branch CASE
    chain. Per-bit majority b_k = Σ_tokens(±1) satisfies
    b_k > 0 ⟺ 2·set_k > n_tokens, so one transform computes the 16-bit
    int per token (conv(hex) — one parse instead of 64 string compares)
    and 16 cheap int-array filter passes count set_k."""
    d = t_spread(spark, sf, "documents", "doc_id", ["doc_id", "text"])
    toks = F.split(F.lower(F.col("text")), r"\s+")
    vs = F.transform(toks, lambda w: F.conv(F.substring(F.md5(w), 1, 4), 16, 10).cast("int"))
    d2 = d.select("doc_id", vs.alias("vs"))
    n = F.size(F.col("vs"))
    bits = [
        F.when(
            F.size(F.filter(F.col("vs"), lambda v: F.shiftright(v, 15 - k) % 2 == 1)) * 2 > n,
            F.lit(2 ** (15 - k)),
        ).otherwise(F.lit(0))
        for k in range(16)
    ]
    return d2.select("doc_id", sum(bits).cast("long").alias("simhash"))


_D_HEX = _HEXCASE.format(c="substr(h, {i}, 1)")
DEDUP_SIMHASH_SQL = (
    """
WITH tok AS (
  SELECT doc_id, substr(md5(w), 1, 4) AS h
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents)),
nib AS (
  SELECT doc_id, """
    + ", ".join(_D_HEX.format(i=i + 1) + f" AS n{i}" for i in range(4))
    + """
  FROM tok),
sums AS (
  SELECT doc_id, """
    + ", ".join(
        f"sum(CASE WHEN (n{i} // {2 ** (3 - b)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i * 4 + b}"
        for i in range(4)
        for b in range(4)
    )
    + """
  FROM nib GROUP BY doc_id)
SELECT doc_id, """
    + " + ".join(f"(CASE WHEN b{k} > 0 THEN 1 ELSE 0 END) * {2 ** (15 - k)}" for k in range(16))
    + """ AS simhash
FROM sums
"""
)


# ---------------------------------------------------------------------------
# Similarity search (ANN).
# ---------------------------------------------------------------------------

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (s, v) -> s + v)"
_NORM = "sqrt(aggregate({a}, cast(0 as double), (s, x) -> s + cast(x as double) * cast(x as double)))"


def ann_topk_cosine(spark, sf):
    """Exact brute-force cosine top-10 vs the vec_id=0 query vector.
    Output = (vec_id, rnk) — ranks only, float-free across engines."""
    em = t_spread(spark, sf, "embeddings", "vec_id")
    # query norm computed once in the 1-row broadcast side instead of once
    # per corpus row (identical expression on identical values, so the
    # cosine doubles are bit-equal)
    q = (
        t(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .withColumn("qn", F.expr(_NORM.format(a="qv")))
    )
    scored = em.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q)).select(
        "vec_id",
        (
            F.expr(_DOT.format(a="embedding", b="qv"))
            / (F.expr(_NORM.format(a="embedding")) * F.col("qn"))
        ).alias("cos"),
    )
    return _ranked_topk(scored, 10, F.desc("cos"), "vec_id").select("vec_id", "rnk")


ANN_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
         list_dot_product(embedding, qv)
           / (sqrt(list_dot_product(embedding, embedding)) * sqrt(list_dot_product(qv, qv))) AS cos
  FROM embeddings, q WHERE vec_id <> 0)
SELECT vec_id, rnk FROM (
  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM scored)
WHERE rnk <= 10
"""


def ann_lsh_bucket(spark, sf):
    """LSH scale path: 4 sign-bit hyperplane bucket (hyperplanes = rows
    vec_id 1..4), search only the query's bucket, top-5 by cosine."""
    em = t_spread(spark, sf, "embeddings", "vec_id")
    # All 4 sign bits fold in ONE projection against a broadcast 1-row array
    # of hyperplanes — zero shuffle for signatures (the round-1 version
    # grouped by (vec_id, embedding), shuffling full vectors as grouping
    # keys; at 100 TB the signature pass must not shuffle the vectors).
    planes = (
        t(spark, sf, "embeddings").filter(F.col("vec_id").between(1, 4))
        .select(F.col("vec_id").alias("plane_id"), F.col("embedding").alias("pv"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("plane_id", "pv"))).alias("planes"))
    )
    bucket_expr = (
        "aggregate(planes, cast(0 as long), (acc, p) -> acc + CASE WHEN "
        + _DOT.format(a="embedding", b="p.pv")
        + " >= 0 THEN cast(shiftleft(1, 4 - p.plane_id) as long) ELSE cast(0 as long) END)"
    )
    sig = em.crossJoin(F.broadcast(planes)).select(
        "vec_id", "embedding", F.expr(bucket_expr).alias("bucket")
    )
    qb = (
        sig.filter(F.col("vec_id") == 0)
        .select(F.col("bucket").alias("qbucket"), F.col("embedding").alias("qv"))
        .withColumn("qn", F.expr(_NORM.format(a="qv")))
    )
    scored = (
        sig.crossJoin(F.broadcast(qb))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            (
                F.expr(_DOT.format(a="embedding", b="qv"))
                / (F.expr(_NORM.format(a="embedding")) * F.col("qn"))
            ).alias("cos"),
        )
    )
    return _ranked_topk(scored, 5, F.desc("cos"), "vec_id").select("vec_id", "rnk")


ANN_LSH_SQL = """
WITH planes AS (SELECT vec_id AS plane_id, embedding AS pv FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
sig AS (
  SELECT e.vec_id, e.embedding,
         sum((CASE WHEN list_dot_product(e.embedding, p.pv) >= 0 THEN 1 ELSE 0 END)
             * (2 ** (4 - p.plane_id))) AS bucket
  FROM embeddings e, planes p GROUP BY e.vec_id, e.embedding),
qb AS (SELECT bucket AS qbucket, embedding AS qv FROM sig WHERE vec_id = 0),
scored AS (
  SELECT s.vec_id,
         list_dot_product(s.embedding, qv)
           / (sqrt(list_dot_product(s.embedding, s.embedding)) * sqrt(list_dot_product(qv, qv))) AS cos
  FROM sig s, qb WHERE s.bucket = qbucket AND s.vec_id <> 0)
SELECT vec_id, rnk FROM (
  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM scored)
WHERE rnk <= 5
"""


def ann_ivf_probe(spark, sf):
    """IVF scale path: an 8-entry coarse codebook (rows vec_id 1..8 — a
    trained k-means codebook would be broadcast exactly the same way),
    every vector assigned to its best-cosine centroid in ONE broadcast
    projection (zero shuffle — same shape as the LSH signature pass: at
    100 TB the vectors must not move to be assigned), the query probes
    its nprobe=2 best lists, exact cosine top-5 within the probed lists.
    Ties on assignment keep the lowest centroid id (ascending fold with
    strict >)."""
    em = t_spread(spark, sf, "embeddings", "vec_id")
    # centroid norms ride inside the broadcast array, and each row's own
    # norm is computed once — the old fold re-derived BOTH norms and the
    # dot product twice per (row, centroid) inside the CASE (≈6× the O(d)
    # folds per row). The division tree is unchanged (dot / (vn * cn)), so
    # every cosine double is bit-identical; the fold still scans centroids
    # in ascending cid with strict >, keeping the lowest-cid tie rule.
    cents = (
        t(spark, sf, "embeddings")
        .filter(F.col("vec_id").between(1, 8))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents0"))
        .select(
            F.expr(
                "transform(cents0, c -> struct(c.cid as cid, c.cv as cv, "
                + _NORM.format(a="c.cv")
                + " as cn))"
            ).alias("cents")
        )
    )
    scored_c = (
        "transform(cents, c -> struct(cast(c.cid as long) as cid, "
        + _DOT.format(a="embedding", b="c.cv")
        + " / (vn * c.cn) as cos))"
    )
    assign_expr = (
        f"aggregate({scored_c}, named_struct('cid', cast(-1 as long), 'cos', cast(-2 as double)), "
        "(acc, c) -> CASE WHEN c.cos > acc.cos THEN c ELSE acc END).cid"
    )
    assigned = (
        em.withColumn("vn", F.expr(_NORM.format(a="embedding")))
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "vn", F.expr(assign_expr).alias("list_id"))
    )
    # query's nprobe=2 best centroids, ranked exactly like the assignment
    q = (
        t(spark, sf, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
        .withColumn("qn", F.expr(_NORM.format(a="qv")))
    )
    qprobe = (
        t(spark, sf, "embeddings")
        .filter(F.col("vec_id").between(1, 8))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(q))
        .select(
            "cid",
            (
                F.expr(_DOT.format(a="cv", b="qv"))
                / (F.expr(_NORM.format(a="cv")) * F.col("qn"))
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), "cid")
        .limit(2)
        .select(F.col("cid").alias("list_id"))
    )
    scored = (
        assigned.join(F.broadcast(qprobe), "list_id")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.expr(_DOT.format(a="embedding", b="qv"))
                / (F.col("vn") * F.col("qn"))
            ).alias("cos"),
        )
    )
    return _ranked_topk(scored, 5, F.desc("cos"), "vec_id").select("vec_id", "rnk")


ANN_IVF_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
assigned AS (
  SELECT vec_id, embedding, cid AS list_id FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.embedding, c.cv)
                      / (sqrt(list_dot_product(e.embedding, e.embedding))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
    FROM embeddings e, cents c)
  WHERE rn = 1),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qprobe AS (
  SELECT cid AS list_id FROM (
    SELECT c.cid,
           row_number() OVER (
             ORDER BY list_dot_product(c.cv, qv)
                      / (sqrt(list_dot_product(c.cv, c.cv))
                         * sqrt(list_dot_product(qv, qv))) DESC, c.cid) AS rn
    FROM cents c, q)
  WHERE rn <= 2),
scored AS (
  SELECT a.vec_id,
         list_dot_product(a.embedding, qv)
           / (sqrt(list_dot_product(a.embedding, a.embedding))
              * sqrt(list_dot_product(qv, qv))) AS cos
  FROM assigned a JOIN qprobe USING (list_id), q
  WHERE a.vec_id <> 0)
SELECT vec_id, rnk FROM (
  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rnk FROM scored)
WHERE rnk <= 5
"""


def dedup_embedding_cosine(spark, sf):
    """Embedding near-dup: top-20 most-similar vector pairs within a keyed
    sample (vec_id % 5 = 0); rank output."""
    em = t_spread(spark, sf, "embeddings", "vec_id").filter(F.col("vec_id") % 5 == 0)
    # each side's norm computed once per VECTOR instead of once per PAIR
    # (identical expression → identical doubles in the same division tree)
    a = em.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1")).withColumn(
        "n1", F.expr(_NORM.format(a="e1"))
    )
    b = (
        t(spark, sf, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
        .withColumn("n2", F.expr(_NORM.format(a="e2")))
    )
    pairs = a.crossJoin(b).filter(F.col("v1") < F.col("v2")).select(
        "v1",
        "v2",
        (F.expr(_DOT.format(a="e1", b="e2")) / (F.col("n1") * F.col("n2"))).alias("cos"),
    )
    return _ranked_topk(pairs, 20, F.desc("cos"), "v1", "v2").select("v1", "v2", "rnk")


DEDUP_EMB_SQL = """
WITH sample AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         list_dot_product(a.embedding, b.embedding)
           / (sqrt(list_dot_product(a.embedding, a.embedding))
              * sqrt(list_dot_product(b.embedding, b.embedding))) AS cos
  FROM sample a JOIN sample b ON a.vec_id < b.vec_id)
SELECT v1, v2, rnk FROM (
  SELECT v1, v2, row_number() OVER (ORDER BY cos DESC, v1, v2) AS rnk FROM pairs)
WHERE rnk <= 20
"""


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "value")


def text_stats(spark, sf):
    """Token counting + quality scoring + language-ID heuristic (stopword
    hit-rate) + punctuation ratio."""
    d = t_spread(spark, sf, "documents", "doc_id")
    toks = F.split(F.lower("text"), r"\s+")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    n_stop = F.size(F.array_intersect(toks, sw))  # distinct-hit heuristic
    n_punct = F.length(F.regexp_replace("text", r"[\w\s]", ""))
    stop_ratio = n_stop.cast("double") / n_tok
    punct_ratio = n_punct.cast("double") / F.length("text")
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        n_stop.cast("long").alias("n_stopword_types"),
        stop_ratio.alias("stop_ratio"),
        punct_ratio.alias("punct_ratio"),
        (stop_ratio * 0.5 + (1.0 - punct_ratio) * 0.5).alias("quality"),
        F.when(n_stop >= 2, "en").otherwise("other").alias("lang_guess"),
    )


TEXT_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS toks FROM documents),
feat AS (
  SELECT doc_id, text, len(toks) AS n_tokens,
         len(list_intersect(toks, {list(_STOPWORDS)})) AS n_stopword_types,
         length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
  FROM base)
SELECT doc_id, n_tokens, length(text) AS n_chars, n_stopword_types,
       CAST(n_stopword_types AS DOUBLE) / n_tokens AS stop_ratio,
       CAST(n_punct AS DOUBLE) / length(text) AS punct_ratio,
       (CAST(n_stopword_types AS DOUBLE) / n_tokens) * 0.5
         + (1.0 - CAST(n_punct AS DOUBLE) / length(text)) * 0.5 AS quality,
       CASE WHEN n_stopword_types >= 2 THEN 'en' ELSE 'other' END AS lang_guess
FROM feat
"""


def text_fingerprint(spark, sf):
    """Document fingerprint: min md5 over word-5-gram windows (rolling-
    hash analog, deterministic and shift-robust)."""
    d = t_spread(spark, sf, "documents", "doc_id", ["doc_id", "text"])
    words = d.select("doc_id", F.split(F.lower("text"), r"\s+").alias("ws"))
    return words.select(
        "doc_id",
        F.expr(
            "array_min(transform(sequence(1, greatest(1, size(ws) - 4)),"
            " i -> md5(concat_ws(' ', slice(ws, i, 5)))))"
        ).alias("fingerprint"),
    )


TEXT_FINGERPRINT_SQL = """
WITH words AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents),
posn AS (
  SELECT doc_id, ws, unnest(generate_series(1, greatest(1, len(ws) - 4))) AS i
  FROM words)
SELECT doc_id, min(md5(array_to_string(ws[i:i+4], ' '))) AS fingerprint
FROM posn GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# KG-pipeline analogs on the events table (assembly / pair mask).
# ---------------------------------------------------------------------------


def kg_assemble_events(spark, sf):
    """W1/F7 analog: per-user ordered event stream assembled to one doc."""
    e = t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)"
            ),
            " ",
        ).alias("doc"),
        F.count("*").alias("n_events"),
    )


KG_ASSEMBLE_SQL = """
SELECT user_id, string_agg(event_type, ' ' ORDER BY ts, event_id) AS doc,
       count(*) AS n_events
FROM events GROUP BY user_id
"""


def kg_canonical_components(spark, sf):
    """Canonicalization core (north_star stage 4 — reference has no
    analog; the engine's connected-components operator,
    operators/canonicalize.py): a deterministic multi-relation alias
    graph over documents — star edges within (lang, source) groups and
    within (lang, n_chars % 7) groups; the two relations overlap, so
    merging them into components requires multi-hop min propagation.
    At every sf the repo runs, the edges fit ``MAX_DRIVER_ROWS``, so this
    exercises the operator's driver-side union-find; the hash-to-min
    loop above the bound is checked by tests/test_canonicalize.py.
    Returns every document with its component id (= min doc_id
    reachable over either alias relation)."""
    from bionext_spark.operators.canonicalize import connected_components

    d = t(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")

    def star(*keys):
        w = Window.partitionBy(*keys)
        return (
            d.withColumn("grp_min", F.min("doc_id").over(w))
            .filter(F.col("doc_id") != F.col("grp_min"))
            .select(F.col("grp_min").alias("a"), F.col("doc_id").alias("b"))
        )

    edges = star("lang", "source").unionByName(
        star("lang", F.col("n_chars") % 7)
    ).distinct()
    verts = d.select(F.col("doc_id").alias("vertex_id"))
    return connected_components(verts, edges).select("vertex_id", "component")


# Oracle: components via recursive reachability closure — component =
# min reachable vertex, the same definition both engine paths compute
# (closure is O(sum |C|^2) rows: fine at oracle scale, not beyond it).
KG_CANONICAL_SQL = """
WITH RECURSIVE
e1 AS (
  SELECT min(doc_id) OVER (PARTITION BY lang, source) AS a, doc_id AS b
  FROM documents
),
e2 AS (
  SELECT min(doc_id) OVER (PARTITION BY lang, n_chars % 7) AS a, doc_id AS b
  FROM documents
),
edges AS (
  SELECT DISTINCT a, b FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
  WHERE a <> b
),
sym AS (
  SELECT a AS src, b AS dst FROM edges
  UNION
  SELECT b AS src, a AS dst FROM edges
),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT reach.v, s.dst FROM reach JOIN sym s ON reach.r = s.src
)
SELECT v AS vertex_id, min(r) AS component FROM reach GROUP BY v
"""


def kg_pair_mask(spark, sf):
    """J5 analog with a type-compatibility mask: distinct event types per
    user self-joined under an inline valid-pair table."""
    e = t(spark, sf, "events").select("user_id", "event_type").distinct()
    mask = spark.createDataFrame(
        [("click", "purchase"), ("click", "view"), ("error", "view"), ("purchase", "signup")],
        "t1 string, t2 string",
    )
    a = e.select("user_id", F.col("event_type").alias("t1"))
    b = e.select("user_id", F.col("event_type").alias("t2"))
    return (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .join(F.broadcast(mask), ["t1", "t2"])
        .groupBy("t1", "t2")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


KG_PAIR_MASK_SQL = """
WITH types AS (SELECT DISTINCT user_id, event_type FROM events),
mask(t1, t2) AS (VALUES ('click', 'purchase'), ('click', 'view'),
                        ('error', 'view'), ('purchase', 'signup'))
SELECT a.event_type AS t1, b.event_type AS t2, count(DISTINCT a.user_id) AS n_users
FROM types a JOIN types b ON a.user_id = b.user_id AND a.event_type < b.event_type
JOIN mask ON mask.t1 = a.event_type AND mask.t2 = b.event_type
GROUP BY 1, 2
"""


def kg_variant_cascade(spark, sf):
    """Seq-variant cascade analog, fully relational (engine form:
    operators/linking.py:_variant_candidates; reference
    src/linker/seq_variant.py:376-505): mentions derived from events cycle
    through hop shapes — rs-prefix (hop 0), substitution-shaped texts that
    an md5-keyed LitVar-analog resolves to a ranked rsid LIST (hop 1,
    after the F2 clean), and everything else through the LLM-analog path
    (hop 2: deterministic raw model text → F5 scrub → F4 SUB→Allele
    rewrite). First-non-empty-hop selection + the doc-level list majority
    vote (count desc, list rank asc) pick each mention's final id."""
    from bionext_spark.functions.text import (
        clean_variant_mention_col,
        rewrite_sub_allele_col,
        scrub_llm_output_col,
    )

    e = t(spark, sf, "events")
    five = F.col("event_id") % 5
    m = e.select(
        F.col("user_id").cast("long").alias("conv_id"),
        F.col("event_id").cast("long").alias("mention_id"),
        F.when(five == 0, F.concat(F.lit("RS"), (F.col("event_id") % 97).cast("string")))
        .when(five == 1, F.concat(F.lit("c"), (F.col("user_id") % 50).cast("string"), F.lit(" / T")))
        .when(five == 2, F.concat(F.lit("g"), (F.col("event_id") % 13).cast("string"), F.lit(" ins -- 4")))
        .when(five == 3, F.lit("GCU repeat"))
        .otherwise(F.lit("plain mention"))
        .alias("text"),
    ).withColumn("clean", clean_variant_mention_col(F.col("text")))

    h0 = m.filter(F.lower("text").startswith("rs")).select(
        "conv_id", "mention_id", F.lower("text").alias("cand"),
        F.lit(0).cast("long").alias("crank"), F.lit(0).alias("priority"),
    )
    lit = m.filter(F.col("clean").contains(">")).withColumn("h", F.md5("clean"))
    h1 = lit.select(
        "conv_id", "mention_id",
        F.posexplode(
            F.array(
                F.concat(F.lit("rs"), F.substring("h", 1, 4)),
                F.concat(F.lit("rs"), F.substring("h", 5, 4)),
            )
        ).alias("pos", "cand"),
    ).select(
        "conv_id", "mention_id", "cand",
        F.col("pos").cast("long").alias("crank"), F.lit(1).alias("priority"),
    )
    rest = m.filter(~F.lower("text").startswith("rs") & ~F.col("clean").contains(">"))
    raw = F.when(
        F.substring(F.md5("clean"), 1, 1) < F.lit("8"),
        F.concat(
            F.lit("the code is c|SUB|A|"), (F.col("mention_id") % 20).cast("string"), F.lit("| indeed")
        ),
    ).otherwise(F.lit("no code derived"))
    h2 = rest.select(
        "conv_id", "mention_id",
        rewrite_sub_allele_col(scrub_llm_output_col(raw)).alias("cand"),
        F.lit(0).cast("long").alias("crank"), F.lit(2).alias("priority"),
    )
    cands = h0.unionByName(h1).unionByName(h2)
    wmin = Window.partitionBy("conv_id", "mention_id")
    chosen = cands.withColumn("minp", F.min("priority").over(wmin)).filter(
        F.col("priority") == F.col("minp")
    )
    counts = chosen.groupBy("conv_id", "cand").agg(F.count("*").alias("cnt"))
    scored = chosen.join(counts, ["conv_id", "cand"])
    wr = Window.partitionBy("conv_id", "mention_id").orderBy(
        F.desc("cnt"), F.asc("crank"), F.asc("cand")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "conv_id", "mention_id",
            F.col("cand").alias("linked_id"),
            F.col("priority").cast("int").alias("hop"),
        )
    )


KG_VARIANT_SQL = """
WITH m0 AS (
  SELECT CAST(user_id AS BIGINT) AS conv_id, CAST(event_id AS BIGINT) AS mention_id,
    CASE CAST(event_id % 5 AS INT)
      WHEN 0 THEN 'RS' || CAST(event_id % 97 AS VARCHAR)
      WHEN 1 THEN 'c' || CAST(user_id % 50 AS VARCHAR) || ' / T'
      WHEN 2 THEN 'g' || CAST(event_id % 13 AS VARCHAR) || ' ins -- 4'
      WHEN 3 THEN 'GCU repeat'
      ELSE 'plain mention' END AS text
  FROM events),
mc AS (SELECT *, replace(replace(replace(text, '/', '>'), '--', ''), ' ', '') AS clean FROM m0),
h0 AS (SELECT conv_id, mention_id, lower(text) AS cand, CAST(0 AS BIGINT) AS crank, 0 AS priority
       FROM mc WHERE lower(text) LIKE 'rs%'),
h1 AS (
  SELECT conv_id, mention_id, 'rs' || substr(md5(clean), 1, 4) AS cand,
         CAST(0 AS BIGINT) AS crank, 1 AS priority
  FROM mc WHERE contains(clean, '>')
  UNION ALL
  SELECT conv_id, mention_id, 'rs' || substr(md5(clean), 5, 4) AS cand,
         CAST(1 AS BIGINT) AS crank, 1 AS priority
  FROM mc WHERE contains(clean, '>')),
h2 AS (
  SELECT conv_id, mention_id,
    CASE WHEN len(cands) = 0 THEN '-'
         WHEN regexp_full_match(cands[-1], '(c|p)\\|SUB\\|[A-Z]\\|(\\d+)(\\|)?')
           THEN regexp_replace(replace(cands[-1], 'SUB', 'Allele'), '\\|$', '')
         ELSE cands[-1] END AS cand,
    CAST(0 AS BIGINT) AS crank, 2 AS priority
  FROM (
    SELECT conv_id, mention_id,
      list_transform(list_filter(string_split_regex(raw, '\\s+'), w -> contains(w, '|')),
                     w -> regexp_replace(w, '[^\\w\\s|+-]', '', 'g')) AS cands
    FROM (
      SELECT conv_id, mention_id,
        CASE WHEN substr(md5(clean), 1, 1) < '8'
             THEN 'the code is c|SUB|A|' || CAST(mention_id % 20 AS VARCHAR) || '| indeed'
             ELSE 'no code derived' END AS raw
      FROM mc WHERE lower(text) NOT LIKE 'rs%' AND NOT contains(clean, '>')))),
all_c AS (SELECT * FROM h0 UNION ALL SELECT * FROM h1 UNION ALL SELECT * FROM h2),
chosen AS (
  SELECT * FROM (
    SELECT *, min(priority) OVER (PARTITION BY conv_id, mention_id) AS minp FROM all_c)
  WHERE priority = minp),
counts AS (SELECT conv_id, cand, count(*) AS cnt FROM chosen GROUP BY 1, 2)
SELECT conv_id, mention_id, cand AS linked_id, CAST(priority AS INT) AS hop FROM (
  SELECT c.conv_id, c.mention_id, c.cand, c.priority, cnt,
         row_number() OVER (PARTITION BY c.conv_id, c.mention_id
                            ORDER BY cnt DESC, c.crank ASC, c.cand ASC) AS rn
  FROM chosen c JOIN counts USING (conv_id, cand))
WHERE rn = 1
"""


def kg_triples_tail(spark, sf):
    """The KG pipeline's relational tail (P3 + J7 + A2 + F13) under a full
    DuckDB oracle — the driver-checkable complement to the ``no_oracle``
    ``kg_pipeline_triples`` row: deterministic stub chunk predictions are
    planted in pure SQL over ``events`` (integer-valued logits, so the
    per-class sums are exact in both engines), and the Spark side runs the
    REAL ``aggregate_triples`` operator (operators/extraction.py:378-417;
    reference src/extractor/__init__.py:88-141) — Negative_Class chunk
    filter, composite-id explode×explode, per-(conv, subj, obj) logit
    sums, first-max argmax over 9 relation classes + 2 novelty classes,
    and the final Negative_Class triple filter.

    Planted shape: ``pred_class = event_id % 9`` (so ~1/9 of chunks hit
    the P3 filter), a "hot" relation class ``(event_id*7) % 9`` boosted by
    +20 (covers class 8, so the FINAL Negative_Class filter also fires on
    real groups), composite ids on every 3rd/4th row (so J7 explodes
    1-or-2 × 1-or-2 ids per row)."""
    from bionext_spark.operators.extraction import aggregate_triples

    e = t(spark, sf, "events")
    eid = F.col("event_id").cast("long")
    g1 = F.concat(F.lit("G"), (eid % 7).cast("string"))
    g2 = F.concat(F.lit("G"), ((eid + 1) % 7).cast("string"))
    d1 = F.concat(F.lit("D"), (eid % 5).cast("string"))
    d2 = F.concat(F.lit("D"), ((eid + 2) % 5).cast("string"))
    hot = (eid * 7) % 9
    preds = e.select(
        F.concat(F.lit("c"), (F.col("user_id") % 50).cast("string")).alias("conv_id"),
        (eid % 9).cast("int").alias("pred_class"),
        F.when(eid % 3 == 0, F.concat(g1, F.lit(","), g2)).otherwise(g1).alias("e1_id"),
        F.when(eid % 4 == 0, F.concat(d1, F.lit(","), d2)).otherwise(d1).alias("e2_id"),
        F.array(
            *[
                (F.when(hot == i, 20).otherwise(0) + (eid + i) % 10).cast("double")
                for i in range(9)
            ]
        ).alias("rel_softmax"),
        F.array(
            *[
                (F.when(eid % 2 == j, 5).otherwise(0) + (eid + j) % 3).cast("double")
                for j in range(2)
            ]
        ).alias("novel_raw"),
    )
    return aggregate_triples(preds)


_TAIL_S = ",\n         ".join(
    f"sum(CASE WHEN (event_id * 7) % 9 = {i} THEN 20 ELSE 0 END"
    f" + (event_id + {i}) % 10) AS s{i}"
    for i in range(9)
)
_TAIL_N = ",\n         ".join(
    f"sum(CASE WHEN event_id % 2 = {j} THEN 5 ELSE 0 END + (event_id + {j}) % 3) AS n{j}"
    for j in range(2)
)
# First-max argmax — same tie semantics as Spark's array_position(max).
_TAIL_IDX = "CASE " + " ".join(f"WHEN s{i} = m THEN {i}" for i in range(8)) + " ELSE 8 END"
_TAIL_LABEL = (
    "CASE label_idx "
    + " ".join(
        f"WHEN {i} THEN '{lbl}'"
        for i, lbl in enumerate(
            (
                "Association",
                "Positive_Correlation",
                "Negative_Correlation",
                "Cotreatment",
                "Bind",
                "Comparison",
                "Conversion",
                "Drug_Interaction",
            )
        )
    )
    + " END"
)

KG_TRIPLES_TAIL_SQL = f"""
WITH p AS (
  SELECT 'c' || CAST(user_id % 50 AS VARCHAR) AS conv_id,
         CAST(event_id % 9 AS INT) AS pred_class,
         CASE WHEN event_id % 3 = 0
              THEN 'G' || CAST(event_id % 7 AS VARCHAR) || ',G' || CAST((event_id + 1) % 7 AS VARCHAR)
              ELSE 'G' || CAST(event_id % 7 AS VARCHAR) END AS e1_id,
         CASE WHEN event_id % 4 = 0
              THEN 'D' || CAST(event_id % 5 AS VARCHAR) || ',D' || CAST((event_id + 2) % 5 AS VARCHAR)
              ELSE 'D' || CAST(event_id % 5 AS VARCHAR) END AS e2_id,
         event_id
  FROM events),
kept AS (SELECT * FROM p WHERE pred_class <> 8),
x1 AS (SELECT conv_id, unnest(string_split(e1_id, ',')) AS subj, e2_id, event_id FROM kept),
x2 AS (SELECT conv_id, subj, unnest(string_split(e2_id, ',')) AS obj, event_id FROM x1),
agg AS (
  SELECT conv_id, subj, obj,
         {_TAIL_S},
         {_TAIL_N}
  FROM x2 GROUP BY conv_id, subj, obj),
lab AS (
  SELECT conv_id, subj, obj, n0, n1, {_TAIL_IDX} AS label_idx
  FROM (SELECT *, greatest(s0,s1,s2,s3,s4,s5,s6,s7,s8) AS m FROM agg))
SELECT conv_id, subj, {_TAIL_LABEL} AS pred, obj, (n1 > n0) AS novel
FROM lab WHERE label_idx <> 8
"""


CORPUS: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMB_SQL),
    "ann_topk_cosine": (ann_topk_cosine, ANN_TOPK_SQL),
    "ann_lsh_bucket": (ann_lsh_bucket, ANN_LSH_SQL),
    "ann_ivf_probe": (ann_ivf_probe, ANN_IVF_SQL),
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
    "kg_assemble_events": (kg_assemble_events, KG_ASSEMBLE_SQL),
    "kg_canonical_components": (kg_canonical_components, KG_CANONICAL_SQL),
    "kg_pair_mask": (kg_pair_mask, KG_PAIR_MASK_SQL),
    "kg_variant_cascade": (kg_variant_cascade, KG_VARIANT_SQL),
    "kg_triples_tail": (kg_triples_tail, KG_TRIPLES_TAIL_SQL),
}
