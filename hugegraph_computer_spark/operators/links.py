"""Links — filtered path traversal (Links.java:30-130).

Reference semantics: paths start at vertices passing the start condition;
each superstep a path at vertex v is extended along every edge passing the
spread condition; a path is *recorded* (at the vertex where it ends) when
it reaches a vertex passing the end-vertex condition or an edge passing the
end-edge condition; un-ended paths keep flooding until no messages flow or
``bsp.max_super_step`` (10). The reference configures the three conditions
with a JSON DSL over property values (links/filter/LinksSpreadFilter.java);
our engine-idiomatic equivalent is three Spark SQL boolean expressions:

* ``start_cond``  — over vertex column ``vid``
* ``spread_cond`` / ``end_edge_cond`` — over edge columns
  (``src``, ``dst`` and any property columns of the edge DataFrame)
* ``end_vertex_cond`` — over ``vid``

Paths are vertex-id sequences; with ``edge_id_col`` set each recorded
path ALSO carries the edge-id chain (the reference's LinksValue records
both vertex and edge ids, Links.java:30-130 / LinksValue.java) — under
MULTIPLE edge frequency with parallel edges, one path row is emitted per
distinct edge chain, so a user can trace exactly which parallel edge the
walk took. Without it, edge identity is the (src,dst) pair (recoverable
from consecutive path vertices for SINGLE-frequency graphs). No cycle
check — exactly like the reference, the superstep cap bounds the flood.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


def links(
    graph: Graph,
    start_cond: str,
    spread_cond: str = "true",
    end_vertex_cond: str = "false",
    end_edge_cond: str = "false",
    max_supersteps: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    job_name: str = "links",
    spread_cond0: str | None = None,
    carry_props: tuple[str, ...] | list[str] = (),
    vertex_props: DataFrame | None = None,
    edge_id_col: str | None = None,
) -> DataFrame:
    """Run Links; returns ``(vid long, path array<long>)`` — one row per
    recorded path, anchored at the vertex that recorded it (the end vertex,
    or the source vertex of an end edge — Links.isEndEdgeAndSaveValue).

    ``checkpoint_dir``/``resume`` make the flood RESUMABLE exactly like
    rings_detection (north rule; reference TODO at MasterService.java:213):
    in-flight paths snapshot under ``{dir}/{job}_paths``, per-superstep
    recorded-path deltas under ``{dir}/{job}_out``; a delta is written
    before its superstep's path commit, so a kill replays at most one
    superstep (idempotent overwrite).

    DSL-parity extensions (links/LinksSpreadFilter.java, driven by
    :func:`links_from_describe`):

    * ``spread_cond0`` — condition for the FIRST hop only (the reference
      spreads from a start vertex on a label-equality check alone,
      isEdgeCanSpread0:120-122); ``None`` falls back to ``spread_cond``.
    * ``carry_props`` — edge property names carried along each path as
      ``in_<prop>`` columns (``message.walkEdgeProp``), so
      ``spread_cond`` can compare the current edge against the previous
      one (``$out.weight > $in.weight``). First-hop rows have NULL
      ``in_*`` (no previous edge) — only ``spread_cond0`` sees them.
    * ``vertex_props`` — optional ``(vid, label?, props...)`` frame;
      when given, ``start_cond`` and ``end_vertex_cond`` may reference
      its columns (left-joined on vid; missing vertices evaluate NULL →
      not matched, like an absent property in Aviator).
    * ``edge_id_col`` — name of an edge column holding the edge id; the
      output gains ``edge_path`` (the LinksValue edge-id chain), one row
      per distinct chain under parallel edges."""
    edges = graph.flat_edges()  # cached static join side
    carry = list(carry_props)
    missing = [p for p in carry if p not in edges.columns]
    if missing:
        raise ValueError(f"carry_props not in edge columns: {missing}")
    edge_dtypes = dict(edges.dtypes)
    in_cols = [f"in_{p}" for p in carry]
    if edge_id_col is not None and edge_id_col not in edges.columns:
        raise ValueError(f"edge_id_col {edge_id_col!r} not in edge columns")
    eid_type = edge_dtypes[edge_id_col] if edge_id_col else None

    def with_edge_path(*cols):
        """Output column list: (…cols, edge_path) when tracking edge ids."""
        return [*cols, "edge_path"] if edge_id_col else list(cols)

    def vsplit(df: DataFrame, cond: str) -> tuple[DataFrame, DataFrame]:
        """(rows matching the vertex condition, rows not matching) with
        vertex_props visible to the condition but not in the output; a
        NULL condition value (vertex absent from vertex_props / property
        missing) counts as not-matching, like Aviator on a missing key."""
        keep = df.columns
        if vertex_props is not None:
            vp = vertex_props.withColumnRenamed(vertex_props.columns[0], "vid")
            df = df.join(vp, "vid", "left")
        c = F.expr(cond)
        return (
            df.where(c).select(*keep),
            df.where(~F.coalesce(c, F.lit(False))).select(*keep),
        )

    def init() -> tuple[DataFrame, DataFrame]:
        # Links.compute0 early-returns when vertex.edges().size()==0 BEFORE
        # the end-vertex check (Links.java compute0), so an isolated start
        # vertex never records [self]; the semi-join against edge sources
        # replicates that (matters only when an explicit vertices DF adds
        # isolated ids).
        start_all, _ = vsplit(
            graph.vertices().join(
                edges.select(F.col("src").alias("vid")), "vid", "left_semi"
            ),
            start_cond,
        )
        start = start_all.select(
            "vid",
            F.array("vid").alias("path"),
            *([F.expr(f"CAST(array() AS array<{eid_type}>)").alias("edge_path")]
              if edge_id_col else []),
        )
        # a start vertex that is itself an end vertex records [self] and
        # stops (compute0 -> isEndVertexAndSaveValue short-circuit)
        ended0, live = vsplit(start, end_vertex_cond)
        live = live.select(
            *with_edge_path("vid", "path"),
            # no previous edge on the first hop — NULL in_* (only
            # spread_cond0 ever sees these rows)
            *[F.lit(None).cast(edge_dtypes[p]).alias(f"in_{p}") for p in carry],
        )
        return live, ended0

    def step(s: int, paths: DataFrame, _out) -> tuple[DataFrame, DataFrame]:
        stepped = paths.join(edges, paths["vid"] == edges["src"]).select(
            edges["src"], edges["dst"],
            *[edges[c] for c in edges.columns if c not in ("src", "dst")],
            paths["path"],
            *([paths["edge_path"].alias("prev_edge_path")] if edge_id_col else []),
            *[paths[ic] for ic in in_cols],
        )
        eid_step = (
            [F.concat("prev_edge_path", F.array(F.col(edge_id_col)))
             .alias("edge_path")]
            if edge_id_col else []
        )
        # end-edge: record path + target at the CURRENT vertex
        is_end_edge = F.coalesce(F.expr(end_edge_cond), F.lit(False))
        edge_ended = (
            stepped.where(is_end_edge)
            .select(
                F.col("src").alias("vid"),
                F.concat("path", F.array(F.col("dst"))).alias("path"),
                *eid_step,
            )
        )
        # first hop spreads under spread_cond0 (reference: label-only
        # isEdgeCanSpread0), later hops under spread_cond which may read
        # the carried previous-edge in_* columns
        if spread_cond0 is None:
            can_spread = F.expr(spread_cond)
        else:
            can_spread = F.when(
                F.size("path") == 1, F.expr(spread_cond0)
            ).otherwise(F.expr(spread_cond))
        moved = (
            stepped.where(~is_end_edge & F.coalesce(can_spread, F.lit(False)))
            .select(
                F.col("dst").alias("vid"),
                F.concat("path", F.array(F.col("dst"))).alias("path"),
                *eid_step,
                *[edges[p].alias(f"in_{p}") for p in carry],
            )
        )
        # end-vertex: record at the arriving vertex; others stay live
        vertex_ended, live = vsplit(moved, end_vertex_cond)
        return live, edge_ended.unionByName(
            vertex_ended.select(*with_edge_path("vid", "path"))
        )

    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, f"{job_name}_paths", checkpoint_dir, max_supersteps, resume=resume
    )
    found = SuperstepLoop(
        spark, f"{job_name}_out", checkpoint_dir, max_supersteps, resume=resume
    )
    deltas = loop.flood(init, step, record=found)
    schema = "vid long, path array<long>"
    if edge_id_col:
        schema += f", edge_path array<{eid_type}>"
    results = spark.createDataFrame([], schema)
    for d in deltas:
        results = results.unionByName(d)
    out = results.localCheckpoint(eager=True)
    loop.cleanup(keep_last=False)
    return out


def links_from_describe(
    graph: Graph,
    describe: str | dict,
    vertex_props: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """Run Links from the reference's exact ``links.analyze_config`` JSON
    describe (LinksConditionDescribe.java): ``start_vertexes`` +
    ``vertex_end_condition`` / ``edge_end_condition`` /
    ``edge_compare_condition`` with Aviator ``$out`` / ``$in`` /
    ``$element`` leaf expressions, compiled to JVM-side SQL by
    :mod:`path_filter` and executed by :func:`links` (including the
    reference's label-only first-hop spread and the previous-edge
    property carry)."""
    from hugegraph_computer_spark.operators.path_filter import LinksConditions

    c = LinksConditions(describe)
    return links(
        graph,
        start_cond=c.start_cond(),
        spread_cond=c.spread_cond(),
        spread_cond0=c.spread_cond0(),
        end_vertex_cond=c.end_vertex_cond(),
        end_edge_cond=c.end_edge_cond(),
        carry_props=c.carry_props,
        vertex_props=vertex_props,
        **kw,
    )
