"""Stage 3 tests: pair generation, marker insertion, chunked
classification, logit aggregation vs oracle; end-to-end triples."""

from __future__ import annotations

import pytest

from bionext_spark import kernels as K
from bionext_spark import oracle, synth
from bionext_spark.adapters import StubEncoder, StubLexiconTagger
from bionext_spark.operators.assemble import assemble_conversations
from bionext_spark.operators.extraction import aggregate_triples, classify_pair_spans
from bionext_spark.operators.linking import run_cleaner, run_linker
from bionext_spark.operators.pairs import generate_pairs, pair_spans
from bionext_spark.operators.tagging import run_tagger
from bionext_spark.sources import fixtures


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
def spark_stages(spark, transcripts):
    convs = assemble_conversations(transcripts)
    mentions = run_tagger(convs, StubLexiconTagger(synth.tag_lexicon_entries()))
    links = run_linker(
        spark, mentions, side=fixtures.linker_side_data(spark), encoder=StubEncoder()
    )
    cleaned = run_cleaner(links).cache()
    spans = pair_spans(generate_pairs(cleaned), cleaned).cache()
    return convs, cleaned, spans


def test_pairs_match_oracle(spark_stages, oracle_out):
    """pair_spans rendered with kernels.insert_markers gives the oracle's
    marked_text for every pair, including composite-id entities and the
    <= / < rule that gives a mention tied on part position to entity 1."""
    convs, cleaned, spans = spark_stages
    docs = dict(convs.select("conv_id", "doc_text").collect())

    def sp(lst):
        return [(s["start"], s["end"]) for s in lst or []]

    rows = spans.collect()
    got = sorted(
        (r["conv_id"], r["e1_id"], r["e1_type"], r["e2_id"], r["e2_type"],
         K.insert_markers(docs[r["conv_id"]], sp(r["spans1"]), sp(r["spans2"])))
        for r in rows
    )
    exp = sorted(
        (p["conv_id"], p["e1_id"], p["e1_type"], p["e2_id"], p["e2_type"], p["marked_text"])
        for p in oracle_out["pairs"]
    )
    assert len(exp) > 20
    assert got == exp

    ids: dict[tuple, list[list[str]]] = {}
    for r in cleaned.select("conv_id", "start", "end", "linked_id").collect():
        ids.setdefault((r[0], r[1], r[2]), []).append(r[3].split(","))

    def pos(conv, span, ent):
        # first part of the mention's id that the entity shares
        parts = ent.split(",")
        return min(
            (i for lid in ids[(conv, *span)] for i, p in enumerate(lid) if p in parts),
            default=None,
        )

    # at least one side-1 tie: the rule is actually exercised
    assert any(
        pos(r["conv_id"], s, r["e1_id"]) == pos(r["conv_id"], s, r["e2_id"])
        for r in rows
        for s in sp(r["spans1"])
    )


def test_triples_match_oracle(spark_stages, oracle_out):
    """The fused classifier (markers, chunking and classes in one
    cogrouped kernel, each doc shipped once per bucket) then
    aggregate_triples gives the oracle's triples."""
    convs, _, spans = spark_stages
    got = sorted(
        (r["conv_id"], r["subj"], r["pred"], r["obj"], r["novel"])
        for r in aggregate_triples(classify_pair_spans(spans, convs)).collect()
    )
    exp = sorted(
        (t["conv_id"], t["subj"], t["pred"], t["obj"], t["novel"])
        for t in oracle_out["triples"]
    )
    assert len(exp) > 10
    assert got == exp


def test_fused_classify_equals_marked_path(spark_stages):
    """classify_pair_spans (token-space marker splicing, cogrouped, doc
    shipped once per bucket) must give exactly the chunk predictions of the
    plain marked-text path: insert_markers, chunk_marked_text, classify."""
    from bionext_spark.adapters import StubRelationClassifier
    from bionext_spark.config import DEFAULT_CONFIG

    convs, _, spans = spark_stages
    docs = dict(convs.select("conv_id", "doc_text").collect())
    clf = StubRelationClassifier()

    def sp(lst):
        return [(s["start"], s["end"]) for s in lst or []]

    exp = []
    for r in spans.collect():
        marked = K.insert_markers(docs[r["conv_id"]], sp(r["spans1"]), sp(r["spans2"]))
        chunks = K.chunk_marked_text(
            marked, DEFAULT_CONFIG.max_seq_len, r["e1_id"] != r["e2_id"]
        )
        n = len(chunks)
        for rel, nov in clf.classify_batch(
            [r["e1_id"]] * n, [r["e2_id"]] * n, chunks,
            [r["e1_type"]] * n, [r["e2_type"]] * n,
        ):
            exp.append((r["conv_id"], r["e1_id"], r["e2_id"],
                        tuple(K.softmax(rel)), tuple(nov), K.argmax_first(rel)))
    got = [
        (r["conv_id"], r["e1_id"], r["e2_id"],
         tuple(r["rel_softmax"]), tuple(r["novel_raw"]), r["pred_class"])
        for r in classify_pair_spans(spans, convs).collect()
    ]
    assert len(exp) > 20
    assert sorted(got) == sorted(exp)


def test_pair_spans_zip_equals_scan_oracle(spark_stages):
    """The hash-indexed map_zip_with form of pair_spans must equal a plain
    per-mention list scan row-for-row (same pairs, same ordered span lists
    on both sides), including composite-id entities and the <= / < tie
    rule: a mention goes to side 1 when its first shared id part is at a
    position <= side 2's, to side 2 when strictly <."""
    _, cleaned, spans = spark_stages
    inf = 999_999_999
    # conv → part → [(start, end, part_pos)], the list-scan form's map
    pm: dict[str, dict[str, list[tuple[int, int, int]]]] = {}
    for r in cleaned.select("conv_id", "start", "end", "linked_id").collect():
        for i, p in enumerate(r["linked_id"].split(",")):
            pm.setdefault(r["conv_id"], {}).setdefault(p, []).append(
                (r["start"], r["end"], i)
            )

    def side(this, other, le):
        def best(lst, x):
            return min((y[2] for y in lst if y[:2] == x[:2]), default=inf)

        keep = {
            x[:2] for x in this
            if (best(this, x) <= best(other, x) if le else best(this, x) < best(other, x))
        }
        return tuple(sorted(keep))

    def raw(conv, ent):
        return [m for p in ent.split(",") for m in pm[conv].get(p, [])]

    got, exp = [], []
    for r in spans.collect():
        key = (r["conv_id"], r["e1_id"], r["e1_type"], r["e2_id"], r["e2_type"])
        got.append((*key,
                    tuple((s["start"], s["end"]) for s in r["spans1"] or []),
                    tuple((s["start"], s["end"]) for s in r["spans2"] or [])))
        raw1, raw2 = raw(r["conv_id"], r["e1_id"]), raw(r["conv_id"], r["e2_id"])
        exp.append((*key, side(raw1, raw2, True), side(raw2, raw1, False)))
    assert len(got) > 20
    assert sorted(got) == sorted(exp)
    # at least one pair has non-empty span lists on both sides, and at
    # least one mention matched by both entities is resolved to side 1
    assert any(s1 and s2 for *_, s1, s2 in got)
    assert any(set(s1) & {x[:2] for x in raw(c, e2)} for c, _, _, e2, _, s1, _ in got)


def test_marker_insertion_kernel():
    text = "aspirin helps diabetes in human trials"
    marked = K.insert_markers(text, [(0, 7)], [(14, 22)])
    assert marked == "[s1]aspirin[e1] helps [s2]diabetes[e2] in human trials"


def test_chunking_right_aligned_last():
    # 10 tokens, chunk 4 → [0:4],[4:8],[6:10] (last right-aligned,
    # reference extractor/data.py:359)
    assert K.chunk_ranges(10, 4) == [(0, 4), (4, 8), (6, 10)]


def test_classify_salting_invariance(spark_stages):
    """Heavy-conversation pair salting (pairs spread over salt_buckets
    sub-buckets, doc replicated to them) must not change a single chunk
    prediction: low-threshold (60-turn skew conversation salted), default,
    and salting-disabled runs agree row-for-row."""
    import dataclasses

    from bionext_spark.config import DEFAULT_CONFIG

    convs, _, spans = spark_stages

    def rows(cfg):
        return sorted(
            (r["conv_id"], r["e1_id"], r["e2_id"], tuple(r["rel_softmax"]),
             tuple(r["novel_raw"]), r["pred_class"])
            for r in classify_pair_spans(spans, convs, None, cfg).collect()
        )

    salted_low = rows(dataclasses.replace(DEFAULT_CONFIG, skew_turns_threshold=30))
    default = rows(DEFAULT_CONFIG)
    unsalted = rows(dataclasses.replace(DEFAULT_CONFIG, salt_buckets=0))
    assert len(default) > 20
    assert salted_low == default == unsalted
    # the low threshold really engaged: the skew conversation exists
    assert convs.filter("n_turns > 30").count() > 0


def test_classify_weighted_bucketing_invariance(spark_stages):
    """Weight-aware bucket assignment (estimate_pair_weights →
    serpentine spread of the heaviest units) must not change a single
    chunk prediction vs hash bucketing — with and without salting
    engaged."""
    import dataclasses

    from bionext_spark.config import DEFAULT_CONFIG
    from bionext_spark.operators.extraction import estimate_pair_weights

    convs, cleaned, spans = spark_stages

    def rows(cfg, weighted):
        w = estimate_pair_weights(cleaned, convs, cfg) if weighted else None
        return sorted(
            (r["conv_id"], r["e1_id"], r["e2_id"], tuple(r["rel_softmax"]),
             tuple(r["novel_raw"]), r["pred_class"])
            for r in classify_pair_spans(spans, convs, None, cfg, pair_weights=w).collect()
        )

    low = dataclasses.replace(DEFAULT_CONFIG, skew_turns_threshold=30)
    assert rows(DEFAULT_CONFIG, True) == rows(DEFAULT_CONFIG, False)
    assert rows(low, True) == rows(low, False)


def test_explicit_bucket_assignment_serpentine(spark):
    """The serpentine mapping spreads the weight-sorted top units so that
    per-bucket weight sums stay balanced (plain round-robin would stack
    each wave's heaviest unit into bucket 0), and every bucket id is in
    range."""
    from pyspark.sql import functions as F

    from bionext_spark.operators.extraction import _explicit_bucket_assignment

    n = 4
    # 16 units with strictly decreasing weights 160,150,...,10
    units = spark.createDataFrame(
        [(f"c{i}", 0, float(160 - 10 * i)) for i in range(16)],
        "conv_id string, _salt int, _w double",
    )
    m = _explicit_bucket_assignment(units, n)
    got = {r["conv_id"]: r["_bx"] for r in m.collect()}
    assert len(got) == 16 and all(0 <= b < n for b in got.values())
    # wave 0: ranks 0..3 → buckets 0,1,2,3; wave 1 reversed: ranks 4..7 →
    # buckets 3,2,1,0
    assert [got[f"c{i}"] for i in range(8)] == [0, 1, 2, 3, 3, 2, 1, 0]
    # balance: per-bucket weight sums within one max-unit of each other
    w = {f"c{i}": 160 - 10 * i for i in range(16)}
    sums = {}
    for c, b in got.items():
        sums[b] = sums.get(b, 0) + w[c]
    assert max(sums.values()) - min(sums.values()) <= 160
    # tighter: serpentine on this arithmetic sequence is exactly balanced
    assert max(sums.values()) == min(sums.values())


def test_murmur3_long_matches_spark_hash(spark):
    """_murmur3_long must equal F.hash on a LongType column (the hash
    HashPartitioning applies), including negative inputs — the rep
    mapping's correctness rests on this exact equality."""
    from pyspark.sql import functions as F

    from bionext_spark.operators.extraction import _murmur3_long

    vals = [0, 1, 2, 63, 64, 255, 10_000_000, 2**40 + 7, -1, -64, -(2**40)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r["x"]: r["h"] for r in df.select("x", F.hash("x").alias("h")).collect()}
    for v in vals:
        assert _murmur3_long(v) == got[v], v


def test_bucket_reps_bijection(spark):
    """Mapping bucket id → rep makes repartition(n, '_b') place exactly
    one bucket per partition (no collisions, no empty partitions)."""
    from pyspark.sql import functions as F

    from bionext_spark.operators.extraction import _bucket_reps, _murmur3_long

    for n in (8, 64, 128):
        reps = _bucket_reps(n)
        assert len(reps) == n
        assert [_murmur3_long(r) % n for r in reps] == list(range(n))
    # end-to-end: partition ids after the exchange are all distinct
    n = 16
    df = spark.createDataFrame([(b,) for b in range(n)], "b long").withColumn(
        "_b",
        F.element_at(
            F.array(*[F.lit(r) for r in _bucket_reps(n)]).cast("array<long>"),
            F.col("b").cast("int") + 1,
        ),
    )
    parts = (
        df.repartition(n, "_b")
        .select("b", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert len({r["p"] for r in parts}) == n


def test_aggregate_triples_tie_semantics(spark):
    """Pin the first-max argmax rule aggregate_triples inherits from the
    reference (np.argmax returns the FIRST maximal index): on an exact
    relation-sum tie the LOWEST class index wins, and on a novelty tie
    novel resolves to False (index 0). The kg_triples_tail DuckDB oracle's
    CASE chain replicates exactly this rule — if the Spark side ever
    changed tie behavior, this test fails before the driver compare does.
    Also pins the two Negative_Class exits: pred_class==8 rows drop before
    aggregation, and groups whose summed argmax is 8 drop after."""
    from bionext_spark.config import NEGATIVE_CLASS, RELATION_LABELS

    n_rel = len(RELATION_LABELS)

    def row(conv, e1, e2, pred_class, hot_idx, novel_pair):
        rel = [0.0] * n_rel
        rel[hot_idx] = 1.0
        return (conv, pred_class, e1, e2, rel, list(novel_pair))

    rows = [
        # c1: classes 1 and 3 tie at 1.0 → first max = 1; novel sums tie
        # (1.0, 1.0) → index 0 → novel False
        row("c1", "A", "B", 0, 1, (1.0, 0.0)),
        row("c1", "A", "B", 0, 3, (0.0, 1.0)),
        # c2: would tip c1's tie, but pred_class == NEGATIVE_CLASS → the
        # CHUNK filter drops it before aggregation
        row("c1", "A", "B", NEGATIVE_CLASS, 3, (0.0, 5.0)),
        # c3: group argmax lands on NEGATIVE_CLASS → TRIPLE filter drops it
        row("c3", "X", "Y", 0, NEGATIVE_CLASS, (0.0, 1.0)),
        # c4: clear winner class 2, novel sums (0, 2) → novel True
        row("c4", "P", "Q", 1, 2, (0.0, 2.0)),
    ]
    preds = spark.createDataFrame(
        rows,
        "conv_id string, pred_class int, e1_id string, e2_id string, "
        "rel_softmax array<double>, novel_raw array<double>",
    )
    got = {
        (r["conv_id"], r["subj"], r["obj"]): (r["pred"], r["novel"])
        for r in aggregate_triples(preds).collect()
    }
    assert got == {
        ("c1", "A", "B"): (RELATION_LABELS[1], False),
        ("c4", "P", "Q"): (RELATION_LABELS[2], True),
    }
