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

One superstep:

    msgs  = adjacency(frontier) → explode → groupBy(dst).min(label)
            -- min() ≡ ValueMinCombiner, applied map-side (partial agg)
    state = state ⟕ msgs; label' = least(label, msg)
    frontier = rows where label' < label; stop when empty

The frontier is typically a tiny fraction of V after a few rounds, so the
scatter join's streamed side shrinks every superstep while the cached,
hash-partitioned adjacency never reshuffles. At web scale this is the
difference between O(E·diameter) and O(Σ frontier degrees) messages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


def wcc(
    graph: Graph,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    job_name: str = "wcc",
    resume: bool = False,
) -> DataFrame:
    """Run WCC; returns ``(vid long, component long)`` — component is the
    min vid in the weakly connected component (isolated vertex → itself)."""
    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, job_name, checkpoint_dir, max_supersteps, resume=resume
    )
    adj = graph.adjacency().select("vid", "nbrs")

    def init():
        # superstep 0 (Wcc.java:47-60): label = min(self, neighbors).
        nbr_min = (
            adj.select("vid", F.array_min("nbrs").alias("m"))
            .groupBy("vid")
            .agg(F.min("m").alias("nbr_min"))
        )
        state = (
            graph.vertices()
            .join(nbr_min, "vid", "left")
            .select(
                "vid",
                F.least(F.col("vid"), F.coalesce("nbr_min", F.col("vid"))).alias(
                    "label"
                ),
                # changed=true ⇒ this vertex scatters next round; at ss0
                # everyone scatters (sendMessageToAllEdgesIf with the
                # label<target filter is an optimization the min-combiner
                # makes redundant).
                F.lit(True).alias("changed"),
            )
        )
        return state, {"changed": graph.num_vertices()}

    def step(s, state, aggs):
        frontier = state.where("changed").select("vid", "label")
        msgs = (
            adj.join(frontier, "vid")
            .select(F.explode("nbrs").alias("dst"), "label")
            .groupBy("dst")
            .agg(F.min("label").alias("msg"))
        )
        new_state = (
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
                (F.col("new_label") < F.col("old_label")).alias("changed"),
            )
        )
        # changed-count aggregator rides the materialization job (observe)
        return new_state, {"changed": F.sum(F.col("changed").cast("long"))}

    state = loop.run(init, step, lambda s, aggs: not aggs["changed"])
    return state.select("vid", F.col("label").alias("component"))
