"""Round-3 JSON filter-DSL parity: the reference's Aviator-over-JSON
property filters for RingsDetectionWithFilter / Links
(rings/filter/RingsDetectionSpreadFilter.java, links/LinksSpreadFilter.java)
compiled to SQL and executed by the engine, validated against brute-force
Python replicas of the reference compute loops."""

from __future__ import annotations

from collections import defaultdict

import pytest

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators.links import links_from_describe
from hugegraph_computer_spark.operators.path_filter import (
    LinksConditions,
    RingsFilter,
    aviator_to_sql,
)
from hugegraph_computer_spark.operators.rings import rings_detection_with_filter

_E = {"$element": lambda p: f"`{p}`"}


# ------------------------------------------------------------- translator
def test_aviator_reference_expressions():
    """The exact expressions from the reference's tests and docs."""
    assert aviator_to_sql("$element.weight==1", _E) == "`weight` = 1"
    assert (
        aviator_to_sql(
            "$message.weight==$element.weight",
            {**_E, "$message": lambda p: f"`in_{p}`"},
        )
        == "`in_weight` = `weight`"
    )
    assert (
        aviator_to_sql("double($out.weight) >= 4", {"$out": lambda p: f"`{p}`"})
        == "CAST(`weight` AS DOUBLE) >= 4"
    )
    assert (
        aviator_to_sql("!($element.w < 2) && $element.s == 'ok'", _E)
        == "NOT ( `w` < 2 ) AND `s` = 'ok'"
    )
    assert aviator_to_sql("long($element.x) % 2 != 0 || false", _E) == (
        "CAST(`x` AS BIGINT) % 2 <> 0 OR FALSE"
    )


def test_aviator_backslash_literal_agrees_across_engines(spark):
    """A plain string literal with a backslash compares equal to the same
    raw text in Spark and in DuckDB (Spark's parser unescapes ``\\d``)."""
    import duckdb
    import pandas as pd

    from hugegraph_computer_spark.operators.path_filter import duckdb_dialect

    rows = pd.DataFrame({"s": ["a\\d", "ad"]})
    sql = aviator_to_sql("$element.s == 'a\\d'", _E)
    got_duck = [
        r[0] for r in duckdb.sql(
            f"SELECT ({duckdb_dialect(sql)}) FROM rows ORDER BY s"
        ).fetchall()
    ]
    got_spark = [
        r[0] for r in spark.createDataFrame(rows).orderBy("s")
        .selectExpr(sql).collect()
    ]
    assert got_spark == got_duck == [True, False], sql


def test_aviator_rejects_unsafe_or_unsupported():
    for bad in [
        "$foo.x == 1",            # unknown namespace
        "system('rm -rf /')",     # bare function call
        "$element.x =~ 3",        # regex rhs must be /pattern/ or string
        "double($element.x",      # unbalanced
        "double",                 # cast not called
        "weight > 1",             # bare identifier (must use $ns)
    ]:
        with pytest.raises(ValueError):
            aviator_to_sql(bad, _E)
    with pytest.raises(ValueError):
        # $message is stripped contextually, not silently allowed where
        # the reference would throw (vertex filter has no message)
        RingsFilter(
            {"vertex_filter": [
                {"label": "*", "property_filter": "$message.w == 1"}]}
        ).vertex_cond()


def test_rings_filter_label_dispatch_and_message_strip():
    rf = RingsFilter(
        {
            "vertex_filter": [
                {"label": "user", "property_filter": "$element.weight==1"}
            ],
            "edge_filter": [
                {"label": "know",
                 "property_filter": "$message.weight==$element.weight"},
                {"label": "*", "property_filter": "$element.weight >= 0"},
            ],
        }
    )
    assert rf.vertex_cond() == "(NOT (`label` = 'user') OR (`weight` = 1))"
    # superstep 0 (no message in flight): the $message expression is
    # dropped (SpreadFilter.filter(Edge):84-99), the '*' one stays
    assert rf.edge_cond(with_message=False) == "(`weight` >= 0)"
    assert "(`in_weight` = `weight`)" in rf.edge_cond(with_message=True)
    assert rf.carry_props == ["weight"]


def test_links_conditions_reference_shape():
    lc = LinksConditions(
        {
            "start_vertexes": ["1", "2"],
            "edge_end_condition": {
                "label": "pay", "property_filter": "double($out.weight) >= 4"
            },
            "edge_compare_condition": {
                "label": "pay", "property_filter": "$out.weight > $in.weight"
            },
        }
    )
    assert lc.start_cond() == "vid IN (1, 2)"
    assert lc.spread_cond0() == "`label` = 'pay'"  # label ONLY (spread0)
    assert lc.carry_props == ["weight"]
    with pytest.raises(ValueError):
        LinksConditions({"start_vertexes": [],
                         "edge_compare_condition": {"label": "x",
                                                    "property_filter": "true"}})
    with pytest.raises(ValueError):  # both end conditions null
        LinksConditions({"start_vertexes": ["1"],
                         "edge_compare_condition": {"label": "x",
                                                    "property_filter": "true"}})


# ------------------------------------------------- engine vs python oracle
RAW = [
    (i, (i + 1) % 12, "know" if (i + (i + 1) % 12) % 2 == 0 else "pay",
     float((i * 7 + (i + 1) % 12) % 5))
    for i in range(12)
] + [
    (a, b, "pay", float((a * 7 + b) % 5))
    for (a, b) in [(0, 4), (2, 7), (5, 9), (3, 8), (1, 6)]
]
VP_ROWS = [(i, "user", float(i % 3)) for i in range(12)]


def _adj():
    sym = {}
    for (s, d, l, w) in RAW:
        for (a, b) in [(s, d), (d, s)]:
            sym.setdefault((a, b, l), w)
    adj = defaultdict(list)
    for (a, b, l), w in sorted(sym.items()):
        adj[a].append((b, l, w))
    return adj


@pytest.fixture(scope="module")
def dsl_graph(spark):
    edges = spark.createDataFrame(
        RAW, "src long, dst long, label string, weight double"
    )
    return Graph.from_edges(edges, label_col="label", weight_col="weight",
                            edge_freq="single_per_label")


def test_rings_with_filter_matches_reference_loop(spark, dsl_graph):
    describe = {
        "vertex_filter": [
            {"label": "user", "property_filter": "$element.weight < 2"}
        ],
        "edge_filter": [
            {"label": "pay",
             "property_filter": "$message.weight <= $element.weight"}
        ],
    }
    vp = spark.createDataFrame(VP_ROWS, "vid long, label string, weight double")
    got = sorted(
        tuple(r["ring"])
        for r in rings_detection_with_filter(
            dsl_graph, describe, vertex_props=vp
        ).collect()
    )

    adj = _adj()
    vpass = {i for i, _, w in VP_ROWS if w < 2}
    rings, msgs = [], []
    for v in sorted(adj):  # compute0: no $message expr -> all edges pass
        if v in vpass:
            msgs += [(t, (v,), w) for (t, l, w) in adj[v]]
    while msgs:
        nxt = []
        for (cur, seq, mw) in msgs:
            if cur not in vpass:
                continue
            if cur == seq[0]:
                if cur <= min(seq):
                    rings.append(seq + (cur,))
            elif cur not in seq:
                for (t, l, w) in adj[cur]:
                    if l == "pay" and not (mw <= w):
                        continue
                    nxt.append((t, seq + (cur,), w))
        msgs = nxt
    assert got == sorted(rings) and len(got) > 0


def test_links_from_describe_matches_reference_loop(spark, dsl_graph):
    describe = {
        "start_vertexes": ["0", "1", "2", "3"],
        "edge_end_condition": {
            "label": "pay", "property_filter": "double($out.weight) >= 4"
        },
        "edge_compare_condition": {
            "label": "pay", "property_filter": "$out.weight > $in.weight"
        },
    }
    got = sorted(
        (r["vid"], tuple(r["path"]))
        for r in links_from_describe(dsl_graph, describe).collect()
    )

    adj = _adj()
    out, msgs = [], []
    for v in sorted(adj):  # compute0
        if v in {0, 1, 2, 3} and adj[v]:
            for (t, l, w) in adj[v]:
                if l == "pay" and w >= 4:
                    out.append((v, (v, t)))
                elif l == "pay":  # isEdgeCanSpread0: label check only
                    msgs.append((t, (v,), w))
    for _ in range(9):  # max_supersteps=10 -> 9 flood rounds
        nxt = []
        for (cur, seq, pw) in msgs:
            path = seq + (cur,)
            for (t, l, w) in adj[cur]:
                if l == "pay" and w >= 4:
                    out.append((cur, path + (t,)))
                elif l == "pay" and w > pw:
                    nxt.append((t, path, w))
        msgs = nxt
    assert got == sorted(out) and len(got) > 0
