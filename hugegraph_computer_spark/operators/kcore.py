"""Coreness (k-core decomposition) — h-index fixpoint iteration.

An engine extension beyond the reference's algorithm set (the training-data
pipeline uses coreness to filter weakly-connected boilerplate/hub regions
of a link graph before sampling).

Algorithm (Lü-Chen-Ren-Zhang-Zhang-Zhou 2016): initialize h(v) = deg(v);
iterate h(v) <- H({h(u) : u in N(v)}) where H is the h-index (the largest
i such that at least i neighbors have value >= i). The fixpoint equals the
exact coreness for every vertex. The update is monotone non-increasing, so
delta/frontier messaging applies: only vertices with a changed neighbor
recompute — same vote-to-halt shape as WCC.

The H-index of a neighbor multiset is computed JVM-side:
sort desc, count positions where value >= rank — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


def _hindex(values: Column) -> Column:
    """H-index of an array<long> column."""
    s = F.reverse(F.sort_array(values))
    return F.size(
        F.filter(
            F.arrays_zip(s.alias("v"), F.sequence(F.lit(1), F.size(s)).alias("r")),
            lambda x: x["v"] >= x["r"],
        )
    ).cast("long")


def coreness(
    graph: Graph,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    job_name: str = "coreness",
    resume: bool = False,
) -> DataFrame:
    """Returns ``(vid long, coreness long)`` (0 for isolated vertices)."""
    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, job_name, checkpoint_dir, max_supersteps, resume=resume
    )
    # self-loops neither contribute to coreness nor to the peeling degree;
    # the projection and filter sit over the cached src-partitioned frame
    # (partitioning and sort survive them), so each round's join
    # re-shuffles nothing
    edges = (
        graph.flat_edges().select("src", "dst").where(F.col("src") != F.col("dst"))
    )

    def init():
        deg = edges.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        state = (
            graph.vertices()
            .join(deg, "vid", "left")
            .select(
                "vid",
                F.coalesce("deg", F.lit(0)).cast("long").alias("h"),
                F.lit(True).alias("changed"),
            )
        )
        return state, {"changed": -1}

    def step(s, state, aggs):
        # vertices adjacent to a change must recompute their H-index over
        # ALL current neighbor values (not only the changed ones)
        affected = (
            state.where("changed")
            .join(edges, state["vid"] == edges["src"])
            .select(F.col("dst").alias("vid"))
            .dropDuplicates(["vid"])
        )
        nbr_h = (
            edges.join(affected, edges["dst"] == affected["vid"], "left_semi")
            .join(
                state.select(F.col("vid").alias("src"), F.col("h").alias("nh")),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(_hindex(F.collect_list("nh")).alias("cand"))
        )
        new_state = (
            state.join(nbr_h, "vid", "left")
            .select(
                "vid",
                F.least(
                    F.col("h"), F.coalesce(F.col("cand"), F.col("h"))
                ).alias("new_h"),
                F.col("h").alias("old_h"),
            )
            .select(
                "vid",
                F.col("new_h").alias("h"),
                (F.col("new_h") < F.col("old_h")).alias("changed"),
            )
        )
        return new_state, {"changed": F.sum(F.col("changed").cast("long"))}

    state = loop.run(init, step, lambda s, aggs: not aggs["changed"])
    return state.select("vid", F.col("h").alias("coreness"))
