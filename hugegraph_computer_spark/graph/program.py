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
        init,          # Graph -> state DF (vid, <state cols>, active)
                       #   ≡ compute0; may read the graph's edges (wcc's
                       #   label = min(self, neighbors), Wcc.java:47-60)
        message,       # (scatter row) -> message column expr
                       #   ≡ sendMessageToAllEdges; rows are
                       #   Graph.scatter(active state) =
                       #   (vid, <state cols>, dst) per (frontier × edge)
        combine,       # list of agg Columns over groupBy(dst)
                       #   ≡ worker.combiner_class (sum/min/max/...)
        apply,         # (state DF ⟕ combined msgs DF) -> new state DF
                       #   ≡ compute; must emit vid + state cols + `active`
        aggregators,   # dict name -> Column over the new state
                       #   ≡ registerAggregator; delivered to master_continue
        master_continue,  # (superstep, aggs dict) -> bool ≡ MasterComputation
    )

``run_program`` adapts a program to ``SuperstepLoop.run``. ``operators.wcc``
is a VertexProgram run this way. PageRank, personalized PageRank and LPA
drive ``SuperstepLoop.run`` with their own step plans, because their apply
does not fit the contract: PageRank's reads the previous superstep's
aggregates, LPA's vote groups twice. All of them send through
``Graph.scatter``.
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

    init: Callable[[Graph], DataFrame]
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
    superstep scatters messages from active vertices (``Graph.scatter``),
    combines per target, applies, and stops when ``master_continue``
    returns False or no vertex is active. The master is consulted every
    superstep, before the vote-to-halt check (MasterService.java:258-261
    runs the master computation, then :332-343 finishedIteration).
    """
    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, program.name, checkpoint_dir, max_supersteps, resume=resume
    )

    def init():
        state = program.init(graph)
        if "vid" not in state.columns or "active" not in state.columns:
            raise ValueError("init must produce (vid, ..., active)")
        return state, {}

    def step(s, state, aggs):
        scatter = graph.scatter(state.where("active").drop("active"))
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
        return not program.master_continue(s, user) or not aggs["__active__"]

    return loop.run(init, step, halt)

