"""Graph summary statistics — the engine's SuperstepStat/PartitionStat
analogue exposed as a query (the reference computes vertex/edge counts
per partition each superstep, SuperstepStat.java:37-88; here the same
aggregates are a one-pass degree rollup).

Everything stays in the plan: the single aggregate row is exploded into
(stat, value) rows — no driver-side collect, so the operator composes
into larger pipelines and the DuckDB oracle compares it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.graph import Graph


def graph_stats(graph: Graph) -> DataFrame:
    """``(stat string, value double)`` rows: n_vertices, sym_edges,
    max_degree, avg_degree (symmetrized-degree statistics, isolated
    vertices included at degree 0)."""
    agg = graph.degrees().agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum("deg").alias("ne"),
        F.max("deg").alias("mx"),
    )

    def row(name: str, value):
        return F.struct(
            F.lit(name).alias("stat"), value.cast("double").alias("value")
        )

    return agg.select(
        F.explode(
            F.array(
                row("n_vertices", F.col("nv")),
                row("sym_edges", F.col("ne")),
                row("max_degree", F.col("mx")),
                row("avg_degree", F.round(F.col("ne") / F.col("nv"), 6)),
            )
        ).alias("kv")
    ).select(F.col("kv.stat").alias("stat"), F.col("kv.value").alias("value"))
