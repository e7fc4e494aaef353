"""The VertexProgram extension surface (SURVEY.md §2.10 parity)."""

from __future__ import annotations

from hugegraph_computer_spark.graph.program import VertexProgram, run_program
from hugegraph_computer_spark.operators import degree_centrality, wcc
from pyspark.sql import functions as F

from tests.oracle import ref_wcc, symmetrize, random_edges
from tests.test_algorithms import F2_EDGES, df_to_dict, make_graph


def degree_program() -> VertexProgram:
    """Degree centrality as a single-superstep VertexProgram
    (DegreeCentrality.java:38-131: everyone scatters 1, sum, halt)."""
    return VertexProgram(
        name="degree_program",
        init=lambda g: g.vertices().select(
            "vid", F.lit(0.0).alias("degree"), F.lit(True).alias("active")
        ),
        message=lambda scatter: F.lit(1.0),
        combine=lambda: [F.sum("msg").alias("msg")],
        apply=lambda state, msgs: (
            state.join(msgs, state["vid"] == msgs["dst"], "left")
            .select(
                state["vid"],
                F.coalesce(msgs["msg"], F.lit(0.0)).alias("degree"),
                F.lit(False).alias("active"),
            )
        ),
    )


def test_wcc_program_matches_oracle(spark):
    edges = random_edges(120, 300, seed=11)
    g = make_graph(spark, edges)
    out = wcc(g, max_supersteps=50)
    adj = symmetrize(edges)
    assert df_to_dict(out, "vid", "component") == ref_wcc(sorted(adj), adj)


def test_degree_program_matches_builtin(spark):
    g = make_graph(spark, F2_EDGES)
    out = df_to_dict(run_program(g, degree_program(), max_supersteps=5), "vid", "degree")
    assert out == {0: 3.0, 1: 2.0, 2: 4.0, 3: 3.0, 4: 2.0}
    assert out == df_to_dict(degree_centrality(g), "vid", "degree")


def test_custom_program_with_aggregator_and_master_stop(spark):
    """A user-defined program: spread max vid (flood-max), master stops
    when the 'frontier' aggregator drains — exercises aggregators +
    master_continue, the MasterComputation equivalent."""
    seen = []

    prog = VertexProgram(
        name="flood_max",
        init=lambda g: g.vertices().select(
            "vid", F.col("vid").alias("label"), F.lit(True).alias("active")
        ),
        message=lambda sc: sc["label"],
        combine=lambda: [F.max("msg").alias("msg")],
        apply=lambda state, msgs: (
            state.join(msgs, state["vid"] == msgs["dst"], "left")
            .select(
                state["vid"],
                F.greatest(
                    state["label"], F.coalesce(msgs["msg"], state["label"])
                ).alias("new_label"),
                state["label"].alias("old_label"),
            )
            .select(
                "vid",
                F.col("new_label").alias("label"),
                (F.col("new_label") > F.col("old_label")).alias("active"),
            )
        ),
        aggregators=lambda: {"changed": F.sum(F.col("active").cast("long"))},
        master_continue=lambda s, aggs: seen.append((s, dict(aggs))) or True,
    )
    g = make_graph(spark, [(0, 1), (1, 2), (2, 3)])
    out = run_program(g, prog, max_supersteps=20)
    assert df_to_dict(out, "vid", "label") == {0: 3, 1: 3, 2: 3, 3: 3}
    # on the path 0-1-2-3 the max reaches vid 0 at superstep 3; at
    # superstep 4 vid 0's send changes nothing and the last vertex halts.
    # The master still runs on that superstep and sees the drained
    # aggregator.
    assert seen[-1][1]["changed"] == 0
    assert [s for s, _ in seen] == [1, 2, 3, 4]


def test_program_resume(spark, tmp_path):
    g = make_graph(spark, random_edges(60, 150, seed=2))
    base = wcc(g, max_supersteps=50, checkpoint_dir=str(tmp_path))
    expected = df_to_dict(base, "vid", "component")
    resumed = wcc(g, max_supersteps=50, checkpoint_dir=str(tmp_path), resume=True)
    assert df_to_dict(resumed, "vid", "component") == expected
