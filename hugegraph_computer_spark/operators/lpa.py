"""Label propagation (LPA) — synchronous frequency vote, deterministic ties.

Reference semantics (Lpa.java:36-101, no message combiner — LpaParams has
none): superstep 0 every vertex labels itself with its id and sends the
label to all (symmetrized) neighbors; each later superstep a vertex that
received messages adopts the most frequent incoming label and, iff its label
changed, rebroadcasts. Vertices without messages keep their label silently.
The job runs until no messages flow or ``bsp.max_super_step`` (default 10,
ComputerOptions.java:363-369).

DOCUMENTED DEVIATION: the reference breaks frequency ties with an unseeded
``Random.nextInt`` (Lpa.java:98) — nondeterministic, and its own test
asserts nothing about values (LpaTest.java:21-26). We pin the deterministic
rule "smallest label among the most frequent", so results are reproducible
and oracle-checkable. Everything else matches, including the subtlety that
votes count only messages from vertices that *changed* last round (delta
messaging), not a live view of all neighbor labels.

One superstep:

    msgs  = Graph.scatter(changed vertices) → (vid, label, dst)
    vote  = msgs.groupBy(dst, label).count()
              .groupBy(dst).agg(max(struct(cnt, -label)))   -- argmax with
                                                            -- min-label ties,
                                                            -- no window/sort
    state = state ⟕ vote; adopt vote where present

The two-level groupBy partial-aggregates (dst,label) pairs map-side, so a
hub's fan-in never concentrates on one reducer (label cardinality per dst
bounds the second stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


def lpa(
    graph: Graph,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    job_name: str = "lpa",
    resume: bool = False,
) -> DataFrame:
    """Run LPA; returns ``(vid long, label long)``."""
    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, job_name, checkpoint_dir, max_supersteps, resume=resume
    )

    def init():
        # superstep 0 (Lpa.java:52-58): label = self id, everyone sends.
        state = graph.vertices().select(
            "vid", F.col("vid").alias("label"), F.lit(True).alias("changed")
        )
        return state, {}

    def step(s, state, aggs):
        senders = state.where("changed").select("vid", "label")
        vote = (
            graph.scatter(senders)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("dst")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("best"))
            .select("dst", (-F.col("best.neg")).alias("vote_label"))
        )
        new_state = (
            state.join(vote, state["vid"] == vote["dst"], "left")
            .select(
                state["vid"],
                F.coalesce(vote["vote_label"], state["label"]).alias("new_label"),
                state["label"].alias("old_label"),
            )
            .select(
                "vid",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("changed"),
            )
        )
        # sender-count aggregator rides the materialization job (observe)
        return new_state, {"senders": F.sum(F.col("changed").cast("long"))}

    state = loop.run(init, step, lambda s, aggs: not aggs["senders"])
    return state.select("vid", "label")
