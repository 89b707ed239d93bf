"""Connected-components semantics on adversarial topologies."""

from __future__ import annotations

from pyspark.sql import functions as F

from ojo_daps_mirror_spark.operators.dedup import (
    connected_components,
    split_components_by,
)


def _cc(spark, edge_pairs, vertex_ids):
    edges = spark.createDataFrame(edge_pairs, "first_id long, second_id long")
    vertices = spark.createDataFrame([(v,) for v in vertex_ids], "id long")
    rows = connected_components(edges, vertices).collect()
    return {r["id"]: r["component_id"] for r in rows}


def test_long_chain_collapses_to_min(spark):
    # 0-1-...-(n-1) chained: diameter n-1, all must land on component 0.
    # n=30 is what chain_edges emits for an ad reposted 30 times; the
    # loop has no round cap, so the far end still reaches 0.
    for n in (10, 30):
        edges = [(i, i + 1) for i in range(n - 1)]
        out = _cc(spark, edges, range(n))
        assert out == {i: 0 for i in range(n)}, n


def test_empty_edge_list_keeps_every_vertex_alone(spark):
    out = _cc(spark, [], [3, 1, 7])
    assert out == {1: 1, 3: 3, 7: 7}


def test_disjoint_components_and_isolates(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    out = _cc(spark, edges, [1, 2, 3, 10, 11, 20, 21, 22, 99])
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == 10
    assert out[20] == out[21] == out[22] == 20
    assert out[99] == 99  # isolated vertex is its own component


def test_edges_given_high_to_low(spark):
    # direction of the edge list must not matter
    out = _cc(spark, [(5, 4), (4, 3)], [3, 4, 5])
    assert out == {3: 3, 4: 3, 5: 3}


def _union_find(edge_pairs, vertex_ids):
    """Reference components: min id of each vertex's component over the
    whole edge list, reported for ``vertex_ids`` only."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertex_ids}


def test_degenerate_edges_match_union_find(spark):
    cases = {
        # self-loops, alone and on a component
        "self_loops": ([(4, 4), (1, 1), (1, 2)], [1, 2, 3, 4]),
        # one edge in both orientations, each repeated
        "both_orientations": ([(7, 3), (3, 7), (7, 3), (3, 7), (7, 9)], [3, 7, 9]),
        # endpoints 5 and 2 are not vertices: they still link 1, 6 and
        # 8, 3, and stay out of the output
        "missing_endpoints": ([(1, 5), (5, 6), (8, 2), (2, 3)], [1, 3, 6, 8]),
        # hub 5 is not the component's min: the leaves learn 1 in round 2
        "star_hub_not_min": ([(5, v) for v in (1, 6, 7, 8, 9)], [1, 5, 6, 7, 8, 9]),
    }
    for name, (edge_pairs, vertex_ids) in cases.items():
        out = _cc(spark, edge_pairs, vertex_ids)
        assert out == _union_find(edge_pairs, vertex_ids), name


def test_split_components_drops_singletons(spark):
    members = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "b", 100), (4, "a", 200)],
        "id long, src string, comp long",
    )
    rows = split_components_by(members, "comp", "src", "id").collect()
    got = {(r["id"]): (r["exemplar_id"], r["is_duplicate"]) for r in rows}
    # comp 100 splits into {1,2} (src a) and {3} (src b, dropped);
    # comp 200 has only {4} (dropped)
    assert got == {1: (1, False), 2: (1, True)}
