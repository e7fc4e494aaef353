"""Rings (cycle) detection — path-flood with min-vertex ring recording.

Reference semantics (RingsDetection.java:32-116), reproduced exactly:

* superstep 0: every vertex with edges sends the path ``[self]`` to each
  neighbor whose id >= its own (RingsDetection.compute0:55-66).
* superstep s: a vertex receiving path ``seq``:
  - if ``self == seq[0]`` the ring closed — record ``seq + [self]`` iff
    self is the minimum of the whole path (compute:79-93 "Use the smallest
    vertex record ring");
  - else if self not already in ``seq``: forward ``seq + [self]`` to every
    neighbor with id >= ``seq[0]`` (the ring's root, compute:95-112).
* terminates when no paths remain in flight.

Note the reference runs on the default symmetrized load, so every
undirected edge closes a 2-ring ``[v, u, v]`` and each longer cycle is
recorded once per traversal direction — we reproduce that, and tests pin
it against a golden fixture.

Spark realization: the in-flight message set IS the state —
``paths(cur long, seq array<long>)`` — and recorded rings accumulate in a
per-superstep union. All array ops (element_at, array_contains,
array_min, concat) are JVM-side; one materialization per superstep.
Scale note: path-flooding is exponential in dense graphs (inherent to the
algorithm, not the engine); the reference ships it for small/sparse
motif-mining graphs and so do we — ``max_supersteps`` caps the walk depth:
a ring recorded at superstep s has s+1 entries, so ``max_supersteps=L``
records exactly the rings of at most L entries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


def rings_detection(
    graph: Graph,
    max_supersteps: int = 50,
    spread_cond: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    job_name: str = "rings",
) -> DataFrame:
    """Detect rings; returns ``(vid long, ring array<long>)`` — one row per
    recorded ring, anchored at its minimum vertex, sequence starting and
    ending at that vertex. Use ``rings_count`` for the per-vertex rollup.

    With ``checkpoint_dir`` the run is RESUMABLE (north rule; the
    reference left resume as a TODO — MasterService.java:213, 316-322):
    the in-flight path set snapshots under ``{dir}/{job}_paths`` and each
    superstep's recorded-ring DELTA under ``{dir}/{job}_rings``; a ring
    delta is written before its superstep's path commit, so a kill at any
    point resumes from the last complete superstep with every earlier
    delta intact and replays at most one superstep (idempotent
    overwrite). ``resume=True`` continues from the deepest superstep
    whose paths and every ring delta up to it are on disk without a gap
    (``SuperstepLoop.flood``)."""
    # spread_cond ≈ RingsDetectionWithFilter's property-filter DSL
    # (rings/filter/RingsDetectionWithFilter.java): a SQL boolean over the
    # edge columns gating every send, superstep 0 included. The filter and
    # projection sit over the cached src-partitioned frame (Graph.
    # flat_edges), so per-superstep joins re-shuffle only the frontier.
    edges = graph.flat_edges()
    if spread_cond is not None:
        edges = edges.where(F.expr(spread_cond))
    edges = edges.select("src", "dst")

    def init() -> DataFrame:
        # superstep 0: path [self] to every neighbor with dst >= src
        return (
            edges.where(F.col("dst") >= F.col("src"))
            .select(F.col("dst").alias("cur"), F.array(F.col("src")).alias("seq"))
        )

    def step(s: int, paths: DataFrame, _rings) -> tuple[DataFrame, DataFrame]:
        fwd, new_rings = _close_or_extend(paths)
        nxt = (
            fwd.join(edges, fwd["cur"] == edges["src"])
            .where(F.col("dst") >= F.element_at("seq", 1))
            .select(F.col("dst").alias("cur"), "seq")
        )
        return nxt, new_rings

    return _flood_rings(
        graph, job_name, checkpoint_dir, max_supersteps, resume, init, step
    )


def _close_or_extend(paths: DataFrame, *carry: str) -> tuple[DataFrame, DataFrame]:
    """Split the paths arriving at ``cur``: the ones that close a ring
    there — recorded iff ``cur`` is the min of the whole path — and the
    ones that extend by ``cur`` (no repeated vertex) and travel on."""
    root = F.element_at("seq", 1)
    closed = paths.where(F.col("cur") == root)
    new_rings = (
        closed.where(F.col("cur") <= F.array_min("seq"))
        .select(
            F.col("cur").alias("vid"),
            F.concat("seq", F.array(F.col("cur"))).alias("ring"),
        )
    )
    fwd = paths.where(
        (F.col("cur") != root) & ~F.array_contains("seq", F.col("cur"))
    ).select("cur", F.concat("seq", F.array(F.col("cur"))).alias("seq"), *carry)
    return fwd, new_rings


def _flood_rings(
    graph: Graph, job_name: str, checkpoint_dir: str | None,
    max_supersteps: int, resume: bool, init: Callable, step: Callable,
) -> DataFrame:
    """Run a ring flood: in-flight paths snapshot under ``{job}_paths``,
    each superstep's recorded rings under ``{job}_rings``. The deltas are
    materialized once each and unioned at the end — O(|results|) writes,
    not the O(S·|results|) of a cumulative union per superstep."""
    spark = graph.edges.sparkSession
    paths = SuperstepLoop(
        spark, f"{job_name}_paths", checkpoint_dir, max_supersteps, resume=resume
    )
    found = SuperstepLoop(
        spark, f"{job_name}_rings", checkpoint_dir, max_supersteps, resume=resume
    )
    rings = spark.createDataFrame([], "vid long, ring array<long>")
    for d in paths.flood(init, step, record=found):
        rings = rings.unionByName(d)
    out = rings.localCheckpoint(eager=True)
    paths.cleanup(keep_last=False)
    return out


def rings_detection_with_filter(
    graph: Graph,
    describe: str | dict,
    vertex_props: DataFrame | None = None,
    max_supersteps: int = 50,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    job_name: str = "rings_filter",
) -> DataFrame:
    """RingsDetectionWithFilter with the reference's exact JSON property-
    filter DSL (rings/filter/RingsDetectionWithFilter.java:37-124,
    RingsDetectionSpreadFilter.java:38-155), compiled to JVM-side SQL by
    :mod:`path_filter`. Returns ``(vid long, ring array<long>)``.

    Faithful deviations from plain ``rings_detection``:

    * NO ``dst >= root`` pruning — the filtered variant floods every
      passing edge (compute0:63-70, compute:108-114 have no id gate), so
      each cycle is found from every root whose walk survives the
      filters; recording still collapses to the path-minimum vertex.
    * the vertex filter gates BOTH path starts (compute0:58-60) and
      message processing at arrival (compute:76-77) — ``vertex_props``
      supplies the columns it reads (``(vid, label?, props...)``).
    * ``$message`` in an edge filter compares the candidate edge against
      the walk's previous edge: those properties ride the path state as
      ``in_<prop>`` columns, exactly ``message.walkEdgeProp``
      (RingsDetectionMessage.java:86-92).
    """
    from hugegraph_computer_spark.operators.path_filter import RingsFilter

    rf = RingsFilter(describe)
    edges = graph.flat_edges()  # cached static join side
    carry = rf.carry_props
    missing = [p for p in carry if p not in edges.columns]
    if missing:
        raise ValueError(f"$message references unknown edge properties {missing}")

    allowed: DataFrame | None = None
    if rf.vertex_filters:
        if vertex_props is None:
            raise ValueError("vertex_filter requires a vertex_props DataFrame")
        allowed = (
            vertex_props.where(F.expr(rf.vertex_cond()))
            .select(F.col(vertex_props.columns[0]).cast("long").alias("vid"))
        )

    def gate_arrivals(p: DataFrame) -> DataFrame:
        if allowed is None:
            return p
        return p.join(allowed.withColumnRenamed("vid", "cur"), "cur", "left_semi")

    def init() -> DataFrame:
        e0 = edges.where(F.expr(rf.edge_cond(with_message=False)))
        if allowed is not None:
            e0 = e0.join(allowed.withColumnRenamed("vid", "src"), "src", "left_semi")
        return e0.select(
            F.col("dst").alias("cur"),
            F.array(F.col("src")).alias("seq"),
            *[F.col(p).alias(f"in_{p}") for p in carry],
        )

    edge_cond_msg = rf.edge_cond(with_message=True)

    def step(s: int, paths: DataFrame, _rings) -> tuple[DataFrame, DataFrame]:
        fwd, new_rings = _close_or_extend(
            gate_arrivals(paths), *[f"in_{p}" for p in carry]
        )
        stepped = fwd.join(edges, fwd["cur"] == edges["src"])
        nxt = stepped.where(F.expr(edge_cond_msg)).select(
            F.col("dst").alias("cur"),
            fwd["seq"],
            *[edges[p].alias(f"in_{p}") for p in carry],
        )
        return nxt, new_rings

    return _flood_rings(
        graph, job_name, checkpoint_dir, max_supersteps, resume, init, step
    )


def rings_count(
    graph: Graph,
    max_supersteps: int = 50,
    spread_cond: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """Per-vertex ring count ``(vid long, n_rings long)`` (0 if none) of
    :func:`rings_detection` run with the same arguments."""
    r = rings_detection(graph, max_supersteps, spread_cond, checkpoint_dir, resume)
    counts = r.groupBy("vid").agg(F.count(F.lit(1)).cast("long").alias("n_rings"))
    return (
        graph.vertices()
        .join(counts, "vid", "left")
        .select("vid", F.coalesce("n_rings", F.lit(0)).cast("long").alias("n_rings"))
    )
