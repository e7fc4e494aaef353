"""Weakly connected components — min-id label propagation, delta-iterated.

Reference semantics (Wcc.java:34-73, combiner ValueMinCombiner per
WccParams.java:38-39): superstep 0, every vertex takes
min(self, neighbors) over the symmetrized adjacency and forwards its label
to neighbors with larger ids; later supersteps adopt any smaller incoming
label and rebroadcast. Vertices always inactivate, so the job terminates
when no messages flow — i.e. the fixpoint where every vertex holds the
minimum vertex id of its weakly connected component. Our DataFrame loop
reaches the identical fixpoint (exact-match parity) with a *frontier*
optimization the reference gets from vote-to-halt: only vertices whose
label changed last round scatter (SURVEY.md §4 "delta iteration").

The algorithm is one ``VertexProgram`` run by ``run_program``, the
engine's §2.10 extension API — the reference's ``Wcc`` computation with
the ``ValueMinCombiner`` as its combiner class. One superstep:

    msgs  = Graph.scatter(frontier) → groupBy(dst).min(label)
            -- min() ≡ ValueMinCombiner, applied map-side (partial agg)
    state = state ⟕ msgs; label' = least(label, msg)
    active = label' < label; stop when no vertex is active

The frontier is typically a tiny fraction of V after a few rounds, so the
scatter join's streamed side shrinks every superstep while the cached,
hash-partitioned adjacency never reshuffles. At web scale this is the
difference between O(E·diameter) and O(Σ frontier degrees) messages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.graph.program import VertexProgram, run_program


def _init(graph: Graph) -> DataFrame:
    # superstep 0 (Wcc.java:47-60): label = min(self, neighbors).
    nbr_min = (
        graph.adjacency()
        .select("vid", F.array_min("nbrs").alias("m"))
        .groupBy("vid")
        .agg(F.min("m").alias("nbr_min"))
    )
    return graph.vertices().join(nbr_min, "vid", "left").select(
        "vid",
        F.least(F.col("vid"), F.coalesce("nbr_min", F.col("vid"))).alias("label"),
        # at ss0 everyone scatters (sendMessageToAllEdgesIf with the
        # label<target filter is an optimization the min-combiner makes
        # redundant).
        F.lit(True).alias("active"),
    )


def _apply(state: DataFrame, msgs: DataFrame) -> DataFrame:
    # adopt a smaller incoming label; only a vertex whose label fell
    # scatters next superstep (vote-to-halt)
    return (
        state.join(msgs, state["vid"] == msgs["dst"], "left")
        .select(
            state["vid"],
            F.least(state["label"], F.coalesce(msgs["msg"], state["label"])).alias(
                "new_label"
            ),
            state["label"].alias("old_label"),
        )
        .select(
            "vid",
            F.col("new_label").alias("label"),
            (F.col("new_label") < F.col("old_label")).alias("active"),
        )
    )


def wcc(
    graph: Graph,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    job_name: str = "wcc",
    resume: bool = False,
) -> DataFrame:
    """Run WCC; returns ``(vid long, component long)`` — component is the
    min vid in the weakly connected component (isolated vertex → itself)."""
    program = VertexProgram(
        name=job_name,
        init=_init,
        message=lambda scatter: scatter["label"],
        combine=lambda: [F.min("msg").alias("msg")],
        apply=_apply,
    )
    state = run_program(graph, program, max_supersteps, checkpoint_dir, resume)
    return state.select("vid", F.col("label").alias("component"))
