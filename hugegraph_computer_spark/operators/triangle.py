"""Per-vertex triangle count — closed-form equivalent of the reference's
3-superstep exchange.

Reference semantics (TriangleCount.java:35-122; edge_freq pinned SINGLE by
TriangleCountParams.java:41-42): on the symmetrized, deduplicated,
self-loop-free graph, superstep 1 assembles each vertex's full undirected
neighbor set N(v) and mails it to every neighbor; superstep 2 computes

    count(v) = ( Σ_{u ∈ N(v)} |N(u) ∩ N(v)| ) >> 1

(each triangle v-a-b is seen once via a's list and once via b's). We compute
the identical quantity without materializing the quadratic message volume:

    pairs(u,v) ∈ E  →  common = |N(u) ∩ N(v)|   (array_intersect, JVM-side)
    count(v) = sum(common over edges with src=v) / 2

``array_intersect`` hashes the smaller array — O(|N(u)|+|N(v)|) per edge,
whole-stage-codegen'd, no Python. Scale: the E ⋈ adj ⋈ adj double join is
the textbook distributed triangle plan; both joins are equi-joins on a
hash-partitioned key, AQE splits skewed hubs. For graphs whose hubs exceed
a single row (chunked adjacency), counts per chunk-pair sum to the same
total because intersection distributes over the disjoint chunks of N(u).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.graph import Graph


def _undirected(graph: Graph) -> DataFrame:
    """Dedup'd, self-loop-free symmetric edges (TriangleCount.java:54-56)."""
    return graph.edges.where(F.col("src") != F.col("dst")).dropDuplicates(
        ["src", "dst"]
    )


def triangle_count(graph: Graph, algorithm: str = "oriented") -> DataFrame:
    """Returns ``(vid long, triangles long)`` per vertex (0 if none).

    ``algorithm="oriented"`` (DEFAULT — the scale path): orient every edge
    from lower to higher (degree, id); each triangle is enumerated exactly
    once at its lowest-degree corner via a wedge join + closing-edge
    semi-join, then scattered +1 to all three corners. Work is
    Σ C(outdeg⁺(u), 2) = O(E^1.5) regardless of hubs — the standard
    distributed triangle plan; a 10⁶-degree hub never ships its neighbor
    array anywhere.
    ``algorithm="intersect"`` — per-edge neighbor-set intersection
    (matches the reference's ss2 formula directly); data moved is
    Σ(|N(u)|+|N(v)|) per edge ≈ Σ deg² — only for bounded-degree graphs.
    Both return identical counts (tested).
    """
    if algorithm == "oriented":
        return _triangle_oriented(graph)
    e = _undirected(graph)
    adj = (
        e.groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
        .select(F.col("src").alias("vid"), "nbrs")
    )
    pairs = (
        e.join(adj.select(F.col("vid").alias("src"), F.col("nbrs").alias("src_nbrs")), "src")
        .join(adj.select(F.col("vid").alias("dst"), F.col("nbrs").alias("dst_nbrs")), "dst")
        .select(
            "src",
            F.size(F.array_intersect("src_nbrs", "dst_nbrs")).cast("long").alias("common"),
        )
    )
    counts = pairs.groupBy(F.col("src").alias("vid")).agg(
        (F.sum("common") / 2).cast("long").alias("triangles")
    )
    return (
        graph.vertices()
        .join(counts, "vid", "left")
        .select("vid", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )


def _triangle_oriented(graph: Graph) -> DataFrame:
    """Degree-oriented triangle enumeration (compact-forward)."""
    e = _undirected(graph)
    deg = e.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # total order on vertices: (deg, vid) — orient each undirected edge
    # low -> high so every triangle has exactly one wedge corner
    ranked = (
        e.join(deg.withColumnRenamed("vid", "src").withColumnRenamed("deg", "sd"), "src")
        .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("deg", "dd"), "dst")
        .where(
            (F.col("sd") < F.col("dd"))
            | ((F.col("sd") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    # wedges (u -> v, u -> w) with v "<" w in the same orientation order,
    # closed by the oriented edge v -> w
    wedges = a.join(
        b,
        (F.col("a.src") == F.col("b.src")) & (F.col("a.dst") < F.col("b.dst")),
    ).select(
        F.col("a.src").alias("u"), F.col("a.dst").alias("v"), F.col("b.dst").alias("w")
    )
    closing = ranked.select(F.col("src").alias("v"), F.col("dst").alias("w")).unionByName(
        ranked.select(F.col("dst").alias("v"), F.col("src").alias("w"))
    )
    tris = wedges.join(closing, ["v", "w"], "left_semi")
    corners = (
        tris.select(F.col("u").alias("vid"))
        .unionByName(tris.select(F.col("v").alias("vid")))
        .unionByName(tris.select(F.col("w").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        graph.vertices()
        .join(corners, "vid", "left")
        .select("vid", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    )
