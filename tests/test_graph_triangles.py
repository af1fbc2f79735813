"""Triangle counting (operators/graph.py): known closed-form graphs and
orientation invariance under degree skew."""

from __future__ import annotations

from itertools import combinations

from creatorops_lakehouse_spark.operators.graph import triangle_count


def _run(spark, edges):
    df = spark.createDataFrame(edges, ["a", "b"])
    return triangle_count(df).collect()[0]


def test_complete_graph_k5(spark):
    # K5: C(5,3)=10 triangles, C(5,2)=10 edges, wedges = 5*C(4,2)=30
    r = _run(spark, list(combinations(range(5), 2)))
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (5, 10, 30, 10)
    assert r.clustering_ppm == 1_000_000  # every wedge closes


def test_star_plus_rim_edge(spark):
    # hub 0 connected to 1..6; one rim edge (1,2): exactly 1 triangle.
    # The hub (deg 6) is the skew case degree orientation exists for.
    edges = [(0, i) for i in range(1, 7)] + [(1, 2)]
    r = _run(spark, edges)
    assert r.n_triangles == 1
    assert r.n_nodes == 7 and r.n_edges == 7


def test_triangle_free_bipartite(spark):
    # K2,3 is triangle-free by bipartiteness
    edges = [(a, b) for a in (0, 1) for b in (10, 11, 12)]
    r = _run(spark, edges)
    assert r.n_triangles == 0
    assert r.n_wedges > 0  # wedges exist (hubs see multiple rim nodes)...
    assert r.clustering_ppm == 0  # ...but none of them closes


def test_k7_plus_disjoint_triangle(spark):
    # K7 plus a separate triangle: C(7,3) + 1 triangles, 21 + 3 edges,
    # 7*C(6,2) + 3*C(2,2) wedges
    edges = list(combinations(range(7), 2)) + [(10, 11), (11, 12), (10, 12)]
    r = _run(spark, edges)
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (10, 24, 108, 36)
    assert r.clustering_ppm == 1_000_000
