"""Edge cases + property-based invariants (SURVEY.md §5 strategy)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from hugegraph_computer_spark.graph.graph import DEFAULT_ADJ_CHUNK, Graph
from hugegraph_computer_spark.operators import (
    degree_centrality,
    lpa,
    pagerank,
    triangle_count,
    wcc,
)
from tests.oracle import ref_wcc, symmetrize
from tests.test_algorithms import df_to_dict, make_graph


def test_pagerank_empty_graph_raises(spark):
    df = spark.createDataFrame([], "src long, dst long")
    g = Graph.from_edges(df, num_partitions=2)
    with pytest.raises(ValueError, match="no vertices"):
        pagerank(g)


def test_single_vertex_self_loop(spark):
    g = make_graph(spark, [(7, 7)])
    assert df_to_dict(wcc(g), "vid", "component") == {7: 7}
    pr = df_to_dict(pagerank(g, max_supersteps=5), "vid", "rank")
    assert pr[7] == pytest.approx(1.0, abs=1e-9)
    # self loop symmetrized+deduped = one edge 7->7: degree 1
    assert df_to_dict(degree_centrality(g), "vid", "degree") == {7: 1.0}
    g2 = make_graph(spark, [(7, 7)], drop_self_loops=True)
    # dropping the loop leaves an edgeless vertex set (empty vertices());
    # triangle count on the non-dropped graph must be 0 (self loops excluded)
    assert df_to_dict(triangle_count(g), "vid", "triangles") == {7: 0}


def test_two_isolated_cliques_lpa_stable(spark):
    k3a = [(0, 1), (1, 2), (0, 2)]
    k3b = [(10, 11), (11, 12), (10, 12)]
    g = make_graph(spark, k3a + k3b)
    got = df_to_dict(lpa(g), "vid", "label")
    assert {got[v] for v in (0, 1, 2)} == {0}
    assert {got[v] for v in (10, 11, 12)} == {10}


def test_star_graph_hub_chunking(spark):
    # hub with 10,000 spokes: more than DEFAULT_ADJ_CHUNK forces a
    # multi-row adjacency
    spokes = 10_000
    edges = [(0, i) for i in range(1, spokes + 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df, num_partitions=4)
    adj = g.adjacency()
    hub_rows = adj.where("vid = 0").collect()
    assert len(hub_rows) == -(-spokes // DEFAULT_ADJ_CHUNK) == 3
    assert all(r["deg"] == spokes for r in hub_rows)
    assert sum(len(r["nbrs"]) for r in hub_rows) == spokes
    # chunked scatter still sums exactly: degree via chunked adjacency
    total = g.scatter(g.vertices()).count()
    assert total == 2 * spokes  # symmetrized star


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=60,
    )
)
def test_wcc_matches_oracle_on_arbitrary_graphs(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df, num_partitions=4)
    got = df_to_dict(wcc(g), "vid", "component")
    adj = symmetrize(edges)
    assert got == ref_wcc(sorted(adj), adj)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1, max_size=40,
    )
)
def test_graph_build_invariants(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df, num_partitions=4)
    rows = {(r["src"], r["dst"]) for r in g.edges.collect()}
    # symmetric closure, deduplicated
    assert rows == {(b, a) for a, b in rows}
    assert len(rows) == g.edges.count()
    # vertices = endpoints
    vs = {r["vid"] for r in g.vertices().collect()}
    assert vs == {v for e in rows for v in e}


def test_mega_hub_skew_pagerank_and_wcc(spark):
    """Zipf-extreme graph: one hub adjacent to 20k spokes + a background
    ring. The chunked adjacency (hub split across rows) must keep results
    exact and identical to the oracle — the explicit skew handling the
    north rule requires."""
    from tests.oracle import ref_pagerank, ref_wcc

    hub_edges = [(0, i) for i in range(1, 20_001)]
    ring = [(i, i + 1) for i in range(20_001, 20_050)]
    edges = hub_edges + ring
    df = spark.createDataFrame(edges, "src long, dst long")
    g = Graph.from_edges(df, num_partitions=8)
    # the hub spans several chunk rows
    hub_chunks = g.adjacency().where("vid = 0").count()
    assert hub_chunks == -(-20_000 // DEFAULT_ADJ_CHUNK) == 5

    adjacency = symmetrize(edges)
    vs = sorted(adjacency)
    pr = df_to_dict(pagerank(g, l1_threshold=1e-6, max_supersteps=6), "vid", "rank")
    exp = ref_pagerank(vs, adjacency, l1_threshold=1e-6, max_supersteps=6)
    for v in (0, 1, 20_001, 20_025):
        assert pr[v] == pytest.approx(exp[v], abs=1e-9)
    assert df_to_dict(wcc(g), "vid", "component") == ref_wcc(vs, adjacency)


def test_mega_hub_triangle_default_plan_has_no_neighbor_arrays(spark):
    """The DEFAULT triangle plan must survive a 20k-degree hub: the
    oriented variant never materializes per-vertex neighbor arrays (the
    intersect variant ships Σdeg² array bytes through its join — the
    r1 scale-killer). Assert the default plan contains NO collect_set /
    array_intersect, and that counts stay exact on the skewed graph."""
    from hugegraph_computer_spark.operators.triangle import triangle_count

    hub_edges = [(0, i) for i in range(1, 20_001)]
    # a few triangles through the hub and in the tail
    tris = [(1, 2), (3, 4), (20_001, 20_002), (20_001, 20_003), (20_002, 20_003)]
    g = Graph.from_edges(
        spark.createDataFrame(hub_edges + tris, "src long, dst long"),
        num_partitions=8,
    )
    tc = triangle_count(g)  # default algorithm
    plan = tc._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "array_intersect" not in plan
    counts = {r["vid"]: r["triangles"] for r in tc.collect()}
    assert counts[0] == 2          # hub closes (1,2) and (3,4)
    assert counts[1] == counts[2] == counts[3] == counts[4] == 1
    assert counts[20_001] == counts[20_002] == counts[20_003] == 1
    assert counts[5] == 0
