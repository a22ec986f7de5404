"""Connected-components canonicalization + graph materialization tests."""

from __future__ import annotations

from bionext_spark.operators.canonicalize import (
    _hash_to_min,
    alias_edges,
    connected_components,
    graph_edges,
    graph_vertices,
)

# Test graphs fit MAX_DRIVER_ROWS, so connected_components resolves them by
# union-find in the driver; larger edge sets run the hash-to-min loop.
PATHS = {
    "driver": connected_components,
    "distributed": lambda verts, edges: _hash_to_min(verts, edges, 20),
}


def _components(verts, edges, path):
    return {r["vertex_id"]: r["component"] for r in PATHS[path](verts, edges).collect()}


def test_connected_components_chain(spark):
    verts = spark.createDataFrame([(v,) for v in "abcdefg"], "vertex_id string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "a string, b string"
    )
    cc = {r["vertex_id"]: r["component"] for r in connected_components(verts, edges).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "g"}


def test_alias_edges_and_graph(spark):
    links = spark.createDataFrame(
        [
            ("c1", 0, "GeneOrGeneProduct", 0, 4, "TP53", 0, "7157", "train"),
            ("c2", 0, "GeneOrGeneProduct", 0, 4, "tp53", 0, "7157-alt", "kb"),
            ("c2", 1, "ChemicalEntity", 9, 16, "aspirin", 0, "D001241", "train"),
        ],
        "conv_id string, mention_id int, label string, start int, end int, "
        "text string, turn_idx int, linked_id string, method string",
    )
    edges = alias_edges(links).collect()
    assert {(r["a"], r["b"]) for r in edges} == {("7157", "7157-alt")}

    triples = spark.createDataFrame(
        [("c1", "7157-alt", "Association", "D001241", False)],
        "conv_id string, subj string, pred string, obj string, novel boolean",
    )
    vertices = graph_vertices(links)
    out_edges = graph_edges(vertices, triples)
    v = {r["vertex_id"]: r["canonical_id"] for r in vertices.collect()}
    assert v["7157"] == "7157" and v["7157-alt"] == "7157"
    e = out_edges.collect()
    assert len(e) == 1 and e[0]["src"] == "7157" and e[0]["dst"] == "D001241"
    assert e[0]["n_conversations"] == 1


def _union_find_reference(vertices, edges):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min vertex id in the set
    comp = {}
    for v in vertices:
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


def test_long_chain_converges_within_default_rounds(spark):
    """Pointer jumping: a 200-vertex chain has diameter 200 but must
    resolve within the default max_iter=20 (2^20 diameter coverage) —
    the pre-jump one-hop form needed one round per hop and silently
    returned WRONG components here."""
    n = 200
    vertices = [f"v{i:03d}" for i in range(n)]
    chain = list(zip(vertices, vertices[1:]))
    verts = spark.createDataFrame([(v,) for v in vertices], "vertex_id string")
    edges = spark.createDataFrame(chain, "a string, b string")
    for path in PATHS:
        cc = _components(verts, edges, path)
        assert cc == {v: "v000" for v in vertices}, path
        assert cc == _union_find_reference(vertices, chain), path


def test_random_graphs_match_union_find(spark):
    """Seeded random graphs (mixed chains, stars, cross-links, isolated
    vertices) vs a pure-python union-find reference."""
    import random

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = 60
        vertices = [f"n{i:02d}" for i in range(n)]
        edges = [
            (vertices[rng.randrange(n)], vertices[rng.randrange(n)])
            for _ in range(rng.randrange(20, 70))
        ]
        verts_df = spark.createDataFrame([(v,) for v in vertices], "vertex_id string")
        edges_df = spark.createDataFrame(edges, "a string, b string")
        for path in PATHS:
            got = _components(verts_df, edges_df, path)
            assert got == _union_find_reference(vertices, edges), f"seed {seed}, {path}"


def test_edges_outside_vertices_are_ignored_on_both_paths(spark):
    """An edge whose endpoint is not a vertex joins nothing: "x" would
    otherwise bridge b and c."""
    vertices = ["a", "b", "c", "d"]
    kept = [("a", "b"), ("c", "d")]
    verts = spark.createDataFrame([(v,) for v in vertices], "vertex_id string")
    edges = spark.createDataFrame(kept + [("b", "x"), ("x", "c")], "a string, b string")
    expected = _union_find_reference(vertices, kept)
    assert expected == {"a": "a", "b": "a", "c": "c", "d": "c"}
    for path in PATHS:
        assert _components(verts, edges, path) == expected, path


def _leaves(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_driver_mapping_is_a_local_relation_of_the_id_type(spark):
    """The vertex → component mapping broadcasts from a LocalRelation (no
    Python worker scan) and keeps the vertex id's type."""
    for id_type, (b, a, c, d) in (("string", "bacd"), ("bigint", (20, 10, 30, 40)), ("int", (2, 1, 3, 4))):
        verts = spark.createDataFrame([(b,), (a,), (c,), (d,)], f"vertex_id {id_type}")
        edges = spark.createDataFrame([(b, a), (c, a)], f"a {id_type}, b {id_type}")
        cc = connected_components(verts, edges)
        assert _leaves(cc) == ["LogicalRDD", "LocalRelation"], id_type
        assert cc.schema["component"].dataType == verts.schema["vertex_id"].dataType, id_type
        assert _components(verts, edges, "driver") == {a: a, b: a, c: a, d: d}, id_type


def test_no_edges_maps_each_vertex_to_itself(spark):
    verts = spark.createDataFrame([("a",), ("b",)], "vertex_id string")
    edges = spark.createDataFrame([], "a string, b string")
    cc = connected_components(verts, edges)
    assert _leaves(cc) == ["LogicalRDD"]
    assert _components(verts, edges, "driver") == {"a": "a", "b": "b"}
