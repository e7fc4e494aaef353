"""Golden-fixture + oracle tests for the graph algorithms (FIXTURES.md F2-F6).

F2 is the reference's own TriangleCountTest golden graph
(computer-test/.../trianglecount/TriangleCountTest.java:44-47, 82-89).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators import (
    clustering_coefficient,
    degree_centrality,
    lpa,
    pagerank,
    triangle_count,
    wcc,
)
from tests.oracle import (
    random_edges,
    ref_lpa,
    ref_pagerank,
    ref_triangles,
    ref_wcc,
    symmetrize,
)

# F2: A=0 B=1 C=2 D=3 E=4 (TriangleCountTest.java:82-89)
F2_EDGES = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (3, 4), (4, 3), (4, 2)]
F2_EXPECTED_TRIANGLES = {0: 2, 1: 1, 2: 3, 3: 2, 4: 1}


def make_graph(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return Graph.from_edges(df, num_partitions=8, **kw)


def df_to_dict(df, k, v):
    return {r[k]: r[v] for r in df.collect()}


def test_triangle_count_golden(spark):
    g = make_graph(spark, F2_EDGES, drop_self_loops=True)
    got = df_to_dict(triangle_count(g), "vid", "triangles")
    assert got == F2_EXPECTED_TRIANGLES


def test_clustering_coefficient_golden(spark):
    g = make_graph(spark, F2_EDGES, drop_self_loops=True)
    got = df_to_dict(clustering_coefficient(g), "vid", "coefficient")
    # undirected degrees: A=3 B=2 C=4 D=3 E=2
    exp = {0: 2 / 3, 1: 1.0, 2: 0.5, 3: 2 / 3, 4: 1.0}
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)


def test_degree_centrality_golden(spark):
    g = make_graph(spark, F2_EDGES)
    got = df_to_dict(degree_centrality(g), "vid", "degree")
    assert got == {0: 3.0, 1: 2.0, 2: 4.0, 3: 3.0, 4: 2.0}


def test_weighted_degree(spark):
    rows = [(s, d, float(w)) for (s, d), w in zip(F2_EDGES, range(1, 9))]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    g = Graph.from_edges(df, weight_col="w", edge_freq="multiple", num_partitions=8)
    got = df_to_dict(degree_centrality(g, weighted=True), "vid", "degree")
    # symmetrized multiset: each directed edge contributes w to both ends
    exp = {0: 1 + 2 + 5, 1: 1 + 3, 2: 2 + 3 + 4 + 8, 3: 4 + 5 + 6 + 7, 4: 6 + 7 + 8}
    assert got == {k: float(v) for k, v in exp.items()}


def test_wcc_multi_component(spark):
    # F4: F2 graph ∪ chain 10→11→12 ∪ isolated 13 ∪ 2-cycle 14↔15
    edges = F2_EDGES + [(10, 11), (11, 12), (14, 15), (15, 14)]
    vertices = spark.createDataFrame([(v,) for v in list(range(5)) + [10, 11, 12, 13, 14, 15]], "vid long")
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df, vertices=vertices, num_partitions=8)
    got = df_to_dict(wcc(g), "vid", "component")
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10, 12: 10, 13: 13, 14: 14, 15: 14}


def test_lpa_two_cliques(spark):
    # F5: two K4 cliques bridged by 3-4
    k4a = [(a, b) for a in range(4) for b in range(4) if a < b]
    k4b = [(a + 4, b + 4) for a, b in k4a]
    edges = k4a + k4b + [(3, 4)]
    g = make_graph(spark, edges)
    got = df_to_dict(lpa(g), "vid", "label")
    adj = symmetrize(edges)
    exp = ref_lpa(sorted(adj), adj)
    assert got == exp
    # the cliques should resolve to their min ids
    assert {got[v] for v in range(4)} == {0}
    assert {got[v] for v in range(4, 8)} == {4}


def test_pagerank_fixture_vs_oracle(spark):
    # F3: F2 graph + dangling vertex 5 (exercises the dangling aggregators)
    vertices = spark.createDataFrame([(v,) for v in range(6)], "vid long")
    df = spark.createDataFrame(F2_EDGES, "src long, dst long")
    g = Graph.from_edges(df, vertices=vertices, num_partitions=8)
    got = df_to_dict(pagerank(g, l1_threshold=1e-6, max_supersteps=10), "vid", "rank")
    adj = symmetrize(F2_EDGES)
    exp = ref_pagerank(list(range(6)), adj, l1_threshold=1e-6, max_supersteps=10)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-6)


@pytest.mark.parametrize("seed", [1, 7])
def test_random_graph_all_algorithms(spark, seed):
    edges = random_edges(200, 600, seed=seed)
    adj = symmetrize(edges)
    vertices = sorted(set(v for e in edges for v in e))
    vdf = spark.createDataFrame([(v,) for v in vertices], "vid long")
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df, vertices=vdf, num_partitions=8)

    pr = df_to_dict(pagerank(g, l1_threshold=1e-6, max_supersteps=10), "vid", "rank")
    pr_exp = ref_pagerank(vertices, adj, l1_threshold=1e-6, max_supersteps=10)
    for v in pr_exp:
        assert pr[v] == pytest.approx(pr_exp[v], abs=1e-6), f"pagerank vid={v}"

    assert df_to_dict(wcc(g), "vid", "component") == ref_wcc(vertices, adj)
    assert df_to_dict(lpa(g), "vid", "label") == ref_lpa(vertices, adj)

    g2 = Graph.from_edges(df, vertices=vdf, drop_self_loops=True, num_partitions=8)
    tri = df_to_dict(triangle_count(g2), "vid", "triangles")
    adj2 = symmetrize(edges, drop_self_loops=True)
    tri_exp = ref_triangles(vertices, {v: adj2.get(v, []) for v in vertices})
    assert tri == tri_exp


def test_determinism(spark):
    edges = random_edges(150, 400, seed=3)
    df = spark.createDataFrame(edges, "src long, dst long")
    g1 = Graph.from_edges(df, num_partitions=8)
    g2 = Graph.from_edges(df, num_partitions=4)
    r1 = df_to_dict(pagerank(g1, l1_threshold=1e-6), "vid", "rank")
    r2 = df_to_dict(pagerank(g2, l1_threshold=1e-6), "vid", "rank")
    for v in r1:
        # different partitioning only re-associates fp sums
        assert r1[v] == pytest.approx(r2[v], abs=1e-12)


def test_triangle_oriented_matches_intersect(spark):
    g = make_graph(spark, F2_EDGES, drop_self_loops=True)
    assert df_to_dict(triangle_count(g, algorithm="oriented"), "vid", "triangles") \
        == F2_EXPECTED_TRIANGLES
    edges = random_edges(150, 600, seed=23)
    df = spark.createDataFrame(edges, "src long, dst long")
    g2 = Graph.from_edges(df, drop_self_loops=True, num_partitions=8)
    a = df_to_dict(triangle_count(g2, algorithm="intersect"), "vid", "triangles")
    b = df_to_dict(triangle_count(g2, algorithm="oriented"), "vid", "triangles")
    assert a == b
