"""Stage 3a — candidate pair generation + per-pair entity spans
(SURVEY.md A7, J5, J6; W6 runs in stage 3b).

* A7 distinct-ids: ``select(conv_id, linked_id, label).distinct()``.
* J5 self theta-join: pairs are combinations of the per-conversation
  distinct set under the deterministic (type, id) total order, filtered by
  the broadcast type-compatibility mask (reference mask at
  src/extractor/data.py:40-61; at inference every surviving pair is a
  candidate). The per-conversation pair cap bounds the O(n²) blow-up on
  entity-rich conversations at scale (the reference has no cap; capped
  pairs are dropped uncounted).
* J6 mention instrumentation: pairs × mentions equi-join on conv_id; the
  reference's "first matching comma-part decides entity order" loop
  (extractor/data.py:97-126) becomes min-position arithmetic over the
  exploded part list.
* W6 marker insertion runs in the classifier kernel
  (``extraction.classify_pair_spans``), not here: this stage ends at the
  span lists (``pair_spans``), so the ~|pairs|×|doc| marked text never
  materializes and the stage runs no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from bionext_spark.config import DEFAULT_CONFIG, VALID_TYPE_PAIRS, PipelineConfig


def generate_pairs(clean_links: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """A7 + J5 → (conv_id, e1_id, e1_type, e2_id, e2_type).

    TWO shuffles: the conv_id groupBy collects the per-conversation
    distinct entity set into a sorted array (entity pre-cap = a slice),
    then an explicit repartition of the tiny per-conversation rows keeps
    the pair-generation explode parallel (see inline comment); pair
    generation + the type-compatibility mask + the post-mask prefix cap
    all run as array HOFs inside whole-stage codegen — the round-1 shape
    (distinct → rank window → self-join → broadcast mask → rank window)
    was four shuffles producing the same rows, and pure serial stage
    latency at bench scale. Semantics are identical (same (type, id) lex
    order, mask applied before the cap — tested against the oracle):

    * entity pre-cap bounds the blow-up: a 10⁵-distinct-id conversation
      generates at most m(m-1)/2 ≈ 130k pair structs inside one array
      cell (~5 MB), never 5×10⁹ rows;
    * the collect_set buffer holds the conversation's distinct (label, id)
      pairs pre-slice — entities, not mentions, so even pathological
      conversations stay in the low MBs per aggregation buffer.
    """
    m = cfg.max_entities_per_conversation
    cap = cfg.max_pairs_per_conversation
    mask_lit = "array(" + ", ".join(
        f"'{a}|{b}'" for a, b in sorted(VALID_TYPE_PAIRS)
    ) + ")"  # labels never contain '|'
    ents = clean_links.groupBy("conv_id").agg(
        F.expr(
            f"slice(array_sort(collect_set(struct(label, linked_id))), 1, {m})"
        ).alias("ents")
    )
    # Explicit repartition between the agg and the explode: the agg output
    # is TINY (one row per conversation, ≤m entity structs), so AQE's
    # partition coalescing shrinks the reduce side to ONE task — and the
    # O(m²) pair-gen HOFs + explode below then run serially in it
    # (measured: a 39 core-s single-task stage at bench scale, growing
    # linearly with data — a weak-regime killer). A user-specified
    # repartition count is exempt from AQE coalescing; the extra exchange
    # moves only the tiny per-conversation rows.
    ents = ents.repartition(
        clean_links.sparkSession.sparkContext.defaultParallelism, "conv_id"
    )
    pair_gen = f"""
    slice(
      flatten(transform(ents, (x, i) ->
        filter(
          transform(slice(ents, i + 2, size(ents)),
                    y -> struct(x.linked_id as e1_id, x.label as e1_type,
                                y.linked_id as e2_id, y.label as e2_type)),
          p -> array_contains({mask_lit},
                              concat(least(p.e1_type, p.e2_type), '|',
                                     greatest(p.e1_type, p.e2_type)))))),
      1, {cap})
    """
    return ents.select("conv_id", F.explode(F.expr(pair_gen)).alias("p")).select(
        "conv_id", "p.e1_id", "p.e1_type", "p.e2_id", "p.e2_type"
    )


# span (start, end) packed into one bigint map key: map_zip_with's key
# union uses a hash index for primitive keys, so per-pair side resolution
# is O(n1 + n2) instead of a per-element rescan of both lists
_SPAN_KEY = "shiftleft(cast(start as bigint), 32) + cast(end as bigint)"
_KEY_TO_SPAN = (
    "struct(cast(shiftright(k, 32) as int) as start,"
    " cast((k & 4294967295) as int) as end)"
)


def pair_spans(pairs: DataFrame, clean_links: DataFrame) -> DataFrame:
    """J6 (relational part) → one row per pair with the ordered span lists
    of its two entities: (conv_id, e1.., e2.., spans1, spans2).

    Scale shape: the mention→entity "first matching comma-part" position
    (reference extractor/data.py:110-121) is pre-aggregated ONCE per
    (conversation, entity, span) — min part_pos over the mention parts the
    entity shares — then folded into one per-conversation map
    ``em: entity_id → map<packed span, min part_pos>``. Pairs join that
    map once on conv_id, and each pair resolves BOTH sides in a single
    ``map_zip_with(em[e1], em[e2])`` pass: side 1 keeps spans where its
    position wins ties (``<=``), side 2 where it strictly wins (``<``) —
    the reference's order=1-wins rule. map_zip_with's key union is
    hash-indexed for primitive keys, so per-pair cost is O(n1 + n2); a
    list-scan form that re-aggregated both raw lists per mention was
    O(n²) per pair and the single largest JVM term in the N→4N scaling
    profile (199 of 704 core-s at the 4N bench point). Rendering these
    span lists with ``kernels.insert_markers`` gives the oracle's
    ``marked_text`` (tested). Each pair row still shuffles exactly
    once (the conv_id join); mention parts shuffle through the three-level
    pre-aggregation of tiny keyed rows; per-conversation map size is
    bounded by entity × mention fan-out — entities, not pairs — and the
    conv_id join key gets AQE skew splitting on entity-rich conversations."""
    ent_parts = (
        clean_links.select("conv_id", F.col("linked_id").alias("ent_id"))
        .distinct()
        .select("conv_id", "ent_id", F.explode(F.split("ent_id", ",")).alias("part"))
        .distinct()
    )
    mention_parts = clean_links.select(
        "conv_id", "start", "end", F.posexplode(F.split("linked_id", ",")).alias("part_pos", "part")
    )
    ent_spans = (
        mention_parts.join(ent_parts, ["conv_id", "part"])
        .groupBy("conv_id", "ent_id", "start", "end")
        .agg(F.min("part_pos").alias("mp"))
        .groupBy("conv_id", "ent_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.expr(f"struct({_SPAN_KEY} as k, mp)"))
            ).alias("m")
        )
    )
    conv_maps = ent_spans.groupBy("conv_id").agg(
        F.map_from_entries(F.collect_list(F.struct("ent_id", "m"))).alias("em")
    )
    pair_cols = ["conv_id", "e1_id", "e1_type", "e2_id", "e2_type"]
    inf = 999_999_999
    j = pairs.join(conv_maps, "conv_id").select(
        *pair_cols,
        # one hash-indexed key-union pass; v1/v2 are null where the key is
        # absent from that side
        F.expr("map_zip_with(em[e1_id], em[e2_id], (k, v1, v2) -> struct(v1, v2))").alias("z"),
    )

    def side(this: str, other: str, op: str) -> F.Column:
        return F.expr(
            "array_sort(transform(map_keys(map_filter(z, (k, v) -> "
            f"v.{this} is not null and v.{this} {op} coalesce(v.{other}, {inf}))), "
            f"k -> {_KEY_TO_SPAN}))"
        )

    return j.select(
        *pair_cols,
        side("v1", "v2", "<=").alias("spans1"),
        side("v2", "v1", "<").alias("spans2"),
    )
