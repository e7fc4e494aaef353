"""The engine's user-extension surface: declarative vertex programs.

The reference exposes six pluggable classes per job (SURVEY.md §2.10):
``worker.computation_class`` (Computation.compute0/compute,
computer-api/.../worker/Computation.java:39-102), ``master.computation_class``
(MasterComputation.compute, master/MasterComputation.java:54),
``worker.combiner_class`` (combiner/Combiner.java),
``algorithm.message_class`` / ``algorithm.result_class`` (ComputerOptions.
java:74-84) and ``algorithm.params_class`` (AlgorithmParams.java:29).

Here the same contract is ONE Python dataclass over DataFrames — every hook
is a plan fragment (pure column expressions or vectorized pandas UDFs), so
a user-defined program gets the identical engine treatment as the built-ins:
cached hash-partitioned adjacency, one materialization per superstep with
Observation-carried aggregators, checkpoint/resume, frontier (vote-to-halt)
messaging.

    VertexProgram(
        init,          # vertices DF -> state DF (must keep vid; superstep-0
                       #   value init ≡ compute0)
        message,       # (frontier-joined scatter row) -> message column expr
                       #   ≡ sendMessageToAllEdges; rows are
                       #   (vid, <state cols>, dst) per (frontier × edge)
        combine,       # list of agg Columns over groupBy(dst)
                       #   ≡ worker.combiner_class (sum/min/max/...)
        apply,         # (state DF ⟕ combined msgs DF) -> new state DF
                       #   ≡ compute; must emit vid + state cols + `active`
        aggregators,   # dict name -> Column over the new state
                       #   ≡ registerAggregator; delivered to master_continue
        master_continue,  # (superstep, aggs dict) -> bool ≡ MasterComputation
    )

``run_program`` adapts a program to ``SuperstepLoop.run``, the one superstep
loop the built-ins (pagerank/wcc/lpa/coreness) drive too; they hand it
their own ``step`` plans only to pin exact reference formulas.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


@dataclass
class VertexProgram:
    """A BSP vertex program as DataFrame plan fragments."""

    init: Callable[[DataFrame], DataFrame]
    message: Callable[[DataFrame], Column]
    combine: Callable[[], list[Column]]
    apply: Callable[[DataFrame, DataFrame], DataFrame]
    aggregators: Callable[[], dict[str, Column]] = field(default=lambda: {})
    master_continue: Callable[[int, dict], bool] = field(default=lambda s, a: True)
    name: str = "vertex_program"


def run_program(
    graph: Graph,
    program: VertexProgram,
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Run a VertexProgram on ``SuperstepLoop.run``.

    State contract: ``init`` returns (vid, ..., active boolean); each
    superstep scatters messages from active vertices along the (cached,
    co-partitioned) adjacency, combines per target, applies, and stops
    when no vertex is active (vote-to-halt, MasterService.finishedIteration
    :332-343) or ``master_continue`` returns False.
    """
    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, program.name, checkpoint_dir, max_supersteps, resume=resume
    )
    adj = graph.adjacency().select("vid", "nbrs")

    def init():
        state = program.init(graph.vertices())
        if "vid" not in state.columns or "active" not in state.columns:
            raise ValueError("init must produce (vid, ..., active)")
        return state, {}

    def step(s, state, aggs):
        frontier = state.where("active")
        scatter = adj.join(frontier, "vid").select(
            *[frontier[c] for c in state.columns if c != "active"],
            F.explode("nbrs").alias("dst"),
        )
        msgs = (
            scatter.select(F.col("dst"), program.message(scatter).alias("msg"))
            .groupBy("dst")
            .agg(*program.combine())
        )
        return program.apply(state, msgs), {
            "__active__": F.sum(F.col("active").cast("long")),
            **program.aggregators(),
        }

    def halt(s, aggs):
        user = {k: v for k, v in aggs.items() if k != "__active__"}
        return not aggs["__active__"] or not program.master_continue(s, user)

    return loop.run(init, step, halt)


# ---------------------------------------------------------------- examples
def wcc_program() -> VertexProgram:
    """WCC as a VertexProgram — the protocol twin of operators.wcc
    (Wcc.java:34-73 semantics; min-combiner, vote-to-halt)."""
    return VertexProgram(
        name="wcc_program",
        init=lambda v: v.select(
            "vid", F.col("vid").alias("label"), F.lit(True).alias("active")
        ),
        message=lambda scatter: scatter["label"],
        combine=lambda: [F.min("msg").alias("msg")],
        apply=lambda state, msgs: (
            state.join(msgs, state["vid"] == msgs["dst"], "left")
            .select(
                state["vid"],
                F.least(
                    state["label"], F.coalesce(msgs["msg"], state["label"])
                ).alias("new_label"),
                state["label"].alias("old_label"),
            )
            .select(
                "vid",
                F.col("new_label").alias("label"),
                (F.col("new_label") < F.col("old_label")).alias("active"),
            )
        ),
    )


def degree_program(weighted: bool = False) -> VertexProgram:
    """Degree centrality as a single-superstep VertexProgram
    (DegreeCentrality.java:38-131: everyone scatters 1, sum, halt)."""
    return VertexProgram(
        name="degree_program",
        init=lambda v: v.select(
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
