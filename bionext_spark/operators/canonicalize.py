"""Stage 4 — entity canonicalization + graph materialization.

North-star extension beyond the reference (SURVEY.md §4 item 4): entities
that share a lowercased surface form within a label are aliases; connected
components over that alias graph pick one canonical id per component, and
the final knowledge graph materializes as vertex/edge tables with triples
rewritten to canonical ids.

Connected components pick component = min vertex id. When the alias edges
fit ``MAX_DRIVER_ROWS`` (the operators' shared driver-collect bound) they
are collected once and resolved by union-find in the driver, and the vertex
→ component mapping joins back as a broadcast ``LocalRelation``
(``operators.local_relation``: the broadcast runs no Python worker). The
loop below pays a ``localCheckpoint`` and a changed-row ``count()`` per round,
~30 Spark jobs on a few dozen rows. The bound limits driver memory; it is
not a speed crossover. On 4 CPUs, on synthetic graphs of 2-9-vertex trees,
the driver path took 0.5 / 2.3 / 6.3 / 18 / 44 s at 1k / 100k / 300k / 1M
/ 2M edges (1.4 GB Python peak at 2M), the loop 3.2 / 11.5 / 31 / 124 s up
to 1M. Larger edge sets run iterative hash-to-min propagation with pointer
jumping (the standard Spark formulation): each round is one shuffle on
vertex id, and ``localCheckpoint`` truncates lineage so plans stay bounded.
It is the only iterative operator in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from bionext_spark.operators import MAX_DRIVER_ROWS, local_relation


def alias_edges(links: DataFrame) -> DataFrame:
    """Star edges connecting all linked ids that share (label, lower(text))."""
    groups = (
        links.filter(F.col("linked_id") != "-")
        .select("label", F.lower("text").alias("alias"), "linked_id")
        .distinct()
        .groupBy("label", "alias")
        .agg(F.array_sort(F.collect_set("linked_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return groups.select(
        F.element_at("ids", 1).alias("a"), F.explode(F.expr("slice(ids, 2, size(ids) - 1)")).alias("b")
    ).distinct()


def connected_components(vertices: DataFrame, edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(vertex_id) + (a, b) undirected edges → (vertex_id, component).

    Component id = min vertex id in the component (min on the column's
    own type ordering). An edge with an endpoint that is not in
    ``vertices`` is ignored. Up to ``MAX_DRIVER_ROWS`` such edges resolve
    in the driver (module doc); above it, ``_hash_to_min`` runs."""
    ids = vertices.select("vertex_id")
    kept = (
        edges.join(ids.withColumnRenamed("vertex_id", "a"), "a", "left_semi")
        .join(ids.withColumnRenamed("vertex_id", "b"), "b", "left_semi")
        .select("a", "b")
    )
    rows = kept.limit(MAX_DRIVER_ROWS + 1).collect()
    if len(rows) > MAX_DRIVER_ROWS:
        return _hash_to_min(vertices, edges, max_iter)
    if not rows:
        return ids.select("vertex_id", F.col("vertex_id").alias("component"))
    id_type = vertices.schema["vertex_id"].dataType
    mapping = local_relation(
        vertices.sparkSession,
        list(_min_components(rows).items()),
        StructType([StructField("vertex_id", id_type), StructField("component", id_type)]),
    )
    return ids.join(F.broadcast(mapping), "vertex_id", "left").select(
        "vertex_id", F.coalesce("component", "vertex_id").alias("component")
    )


def _min_components(edges) -> dict:
    """Union-find over (a, b) pairs → {vertex: min vertex of its set}, for
    the vertices the edges touch. Each union hangs the larger root under
    the smaller, so a root is always its set's minimum."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _hash_to_min(vertices: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """The distributed form of ``connected_components``. Each round does
    (1) one-hop neighbor-min propagation and (2) a pointer jump (component ← component[component]
    — monotone, since a component id is itself a vertex whose own
    component can only be smaller), so convergence is O(log diameter)
    rounds, not O(diameter): a 10^6-long alias chain resolves in ~20
    rounds instead of 10^6. The changed-row check makes termination
    exact; max_iter is only a runaway bound (2^max_iter diameter
    coverage)."""
    sym = edges.selectExpr("a as src", "b as dst").union(edges.selectExpr("b as src", "a as dst"))
    sym = sym.localCheckpoint()
    cc = vertices.select(F.col("vertex_id"), F.col("vertex_id").alias("component"))
    for _ in range(max_iter):
        nbr_min = (
            sym.join(cc, sym.dst == cc.vertex_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        hopped = cc.join(nbr_min, cc.vertex_id == nbr_min.src, "left").select(
            "vertex_id",
            F.least(F.col("component"), F.coalesce("nbr_component", F.col("component"))).alias(
                "component"
            ),
        )
        ptr = hopped.selectExpr("vertex_id as cvid", "component as ccomp")
        new_cc = (
            hopped.join(ptr, hopped.component == ptr.cvid, "left")
            .select(
                "vertex_id",
                F.coalesce("ccomp", "component").alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_cc.alias("n")
            .join(cc.alias("o"), "vertex_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        cc = new_cc
        if changed == 0:
            break
    return cc


def graph_vertices(clean_links: DataFrame) -> DataFrame:
    """→ vertices per schemas.VERTICES: one row per linked id, with its
    alias component as ``canonical_id``."""
    verts = (
        clean_links.groupBy(F.col("linked_id").alias("vertex_id"))
        .agg(F.min("label").alias("label"), F.count("*").alias("n_mentions"))
    )
    cc = connected_components(verts.select("vertex_id"), alias_edges(clean_links))
    return verts.join(cc, "vertex_id").select(
        "vertex_id", F.col("component").alias("canonical_id"), "label", "n_mentions"
    )


def graph_edges(vertices: DataFrame, triples: DataFrame) -> DataFrame:
    """→ edges per schemas.EDGES: triples rewritten to the canonical ids
    of ``vertices`` (``graph_vertices``' output; the pipeline passes the
    committed table, so the components are not computed again)."""
    canon = vertices.select("vertex_id", "canonical_id")
    return (
        triples.join(canon.withColumnRenamed("vertex_id", "subj"), "subj", "left")
        .withColumn("src", F.coalesce("canonical_id", F.col("subj")))
        .drop("canonical_id")
        .join(canon.withColumnRenamed("vertex_id", "obj"), "obj", "left")
        .withColumn("dst", F.coalesce("canonical_id", F.col("obj")))
        .groupBy("src", "dst", "pred", "novel")
        .agg(F.countDistinct("conv_id").alias("n_conversations"))
    )
