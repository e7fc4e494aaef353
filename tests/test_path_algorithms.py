"""Closeness centrality + rings detection vs reference-semantics oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators import closeness_centrality, rings_count
from hugegraph_computer_spark.operators.rings import rings_detection
from tests.oracle import random_edges, ref_closeness, ref_rings, symmetrize
from tests.test_algorithms import F2_EDGES, df_to_dict, make_graph


def test_closeness_golden(spark):
    g = make_graph(spark, F2_EDGES)
    got = df_to_dict(closeness_centrality(g), "vid", "closeness")
    adj = symmetrize(F2_EDGES)
    exp = ref_closeness(sorted(adj), adj)
    assert got == pytest.approx(exp, abs=1e-9)


def test_closeness_sampled_sources(spark):
    edges = random_edges(80, 200, seed=5)
    g = make_graph(spark, edges)
    adj = symmetrize(edges)
    vs = sorted(adj)
    got = df_to_dict(closeness_centrality(g, sources=8), "vid", "closeness")
    exp = ref_closeness(vs, adj, sources=vs[:8])
    assert got == pytest.approx(exp, abs=1e-9)


def test_closeness_disconnected(spark):
    # two components + the 1/d sums must not cross them
    edges = [(0, 1), (1, 2), (10, 11)]
    g = make_graph(spark, edges)
    got = df_to_dict(closeness_centrality(g), "vid", "closeness")
    exp = ref_closeness(sorted(symmetrize(edges)), symmetrize(edges))
    assert got == pytest.approx(exp, abs=1e-9)


def test_rings_golden_triangle_graph(spark):
    g = make_graph(spark, F2_EDGES, drop_self_loops=True)
    got = df_to_dict(rings_count(g), "vid", "n_rings")
    adj = symmetrize(F2_EDGES, drop_self_loops=True)
    exp = ref_rings(sorted(adj), adj)
    assert got == exp


def test_rings_k4_combinatorics(spark):
    # K4: min vertex sees 3 two-rings, 6 triangles, 6 four-rings = 15
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    g = make_graph(spark, k4)
    got = df_to_dict(rings_count(g), "vid", "n_rings")
    adj = symmetrize(k4)
    assert got == ref_rings(sorted(adj), adj)
    assert got[0] == 15

def test_rings_sequences_anchor_at_min(spark):
    g = make_graph(spark, [(0, 1), (1, 2), (2, 0)])
    rows = rings_detection(g).collect()
    for r in rows:
        assert r["ring"][0] == r["vid"] == r["ring"][-1]
        assert min(r["ring"]) == r["vid"]


def test_betweenness_golden_path_graph(spark):
    # path 0-1-2-3-4: exact betweenness 0,3,4,3,0
    edges = [(i, i + 1) for i in range(4)]
    g = make_graph(spark, edges)
    from hugegraph_computer_spark.operators import betweenness_centrality
    got = df_to_dict(betweenness_centrality(g), "vid", "betweenness")
    assert got == {0: 0.0, 1: 3.0, 2: 4.0, 3: 3.0, 4: 0.0}


def test_betweenness_random_vs_brandes_oracle(spark):
    from hugegraph_computer_spark.operators import betweenness_centrality
    from tests.oracle import ref_betweenness
    edges = random_edges(60, 150, seed=21)
    g = make_graph(spark, edges)
    adj = symmetrize(edges)
    vs = sorted(adj)
    got = df_to_dict(betweenness_centrality(g), "vid", "betweenness")
    exp = ref_betweenness(vs, adj)
    assert got == pytest.approx(exp, abs=1e-5)
    got_s = df_to_dict(betweenness_centrality(g, sources=6), "vid", "betweenness")
    exp_s = ref_betweenness(vs, adj, sources=vs[:6])
    assert got_s == pytest.approx(exp_s, abs=1e-5)


def test_links_traversal(spark):
    from hugegraph_computer_spark.operators import links
    # weighted chain + branch; spread only along weight>=2; end at vid>=4
    rows = [(0, 1, 5.0), (1, 2, 3.0), (2, 4, 2.0), (1, 3, 1.0), (3, 5, 9.0)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = Graph.from_edges(df, weight_col="weight", symmetrize=False,
                         edge_freq="multiple", num_partitions=4)
    out = links(
        g,
        start_cond="vid = 0",
        spread_cond="weight >= 2",
        end_vertex_cond="vid >= 4",
    )
    paths = sorted(tuple(r["path"]) for r in out.collect())
    # 0->1 (w5) ->2 (w3) ->4 (w2, ends at 4); 1->3 blocked (w1), so no path via 3
    assert paths == [(0, 1, 2, 4)]
    anchors = {r["vid"] for r in out.collect()}
    assert anchors == {4}


def test_links_end_edge(spark):
    from hugegraph_computer_spark.operators import links
    rows = [(0, 1, 1.0), (1, 2, 7.0)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = Graph.from_edges(df, weight_col="weight", symmetrize=False,
                         edge_freq="multiple", num_partitions=4)
    out = links(g, start_cond="vid = 0", spread_cond="true",
                end_edge_cond="weight > 5")
    rows_out = [(r["vid"], tuple(r["path"])) for r in out.collect()]
    # the end edge 1->2 (w7) records path [0,1,2] AT vertex 1 (the src side)
    assert rows_out == [(1, (0, 1, 2))]


def test_rings_spread_filter(spark):
    # weighted triangle; filter removes the closing edge -> no 3-rings
    rows = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 9.0)]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = Graph.from_edges(df, weight_col="weight", num_partitions=4)
    from hugegraph_computer_spark.operators.rings import rings_detection
    unfiltered = rings_detection(g).where("size(ring) = 4").count()
    filtered = rings_detection(g, spread_cond="weight < 5").where(
        "size(ring) = 4"
    ).count()
    assert unfiltered > 0 and filtered == 0


def test_closeness_weighted(spark):
    # weighted path 0 -1.0- 1 -2.0- 2: d(0,2)=3.0
    rows = [(0, 1, 1.0), (1, 2, 2.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    g = Graph.from_edges(df, weight_col="w", num_partitions=4)
    got = df_to_dict(closeness_centrality(g, weighted=True), "vid", "closeness")
    assert got[0] == pytest.approx(round(1 / 1.0 + 1 / 3.0, 6))
    assert got[1] == pytest.approx(round(1 / 1.0 + 1 / 2.0, 6))
    assert got[2] == pytest.approx(round(1 / 2.0 + 1 / 3.0, 6))


def test_weight_agg_policies(spark):
    rows = [(0, 1, 2.0), (0, 1, 5.0)]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    for agg, exp in [("max", 5.0), ("min", 2.0), ("sum", 7.0)]:
        g = Graph.from_edges(df, weight_col="w", weight_agg=agg, num_partitions=2)
        w = g.edges.where("src = 0 and dst = 1").collect()[0]["weight"]
        assert w == exp, agg


def test_coreness_golden(spark):
    from hugegraph_computer_spark.operators import coreness
    # K4 (core 3) bridged to a path (core 1)
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 10), (10, 11), (11, 12)]
    g = make_graph(spark, edges)
    got = df_to_dict(coreness(g), "vid", "coreness")
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1}


def test_coreness_random_vs_peeling_oracle(spark):
    from hugegraph_computer_spark.operators import coreness
    from tests.oracle import ref_coreness
    edges = random_edges(120, 500, seed=31)
    g = make_graph(spark, edges, drop_self_loops=True)
    adj = symmetrize(edges, drop_self_loops=True)
    got = df_to_dict(coreness(g), "vid", "coreness")
    assert got == ref_coreness(sorted(adj), adj)


def test_coreness_ignores_self_loops(spark):
    from hugegraph_computer_spark.operators import coreness
    g = make_graph(spark, [(0, 0), (0, 1), (1, 2), (2, 0)])
    got = df_to_dict(coreness(g), "vid", "coreness")
    assert got == {0: 2, 1: 2, 2: 2}
