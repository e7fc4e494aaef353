"""Deterministic random-walk corpus + skip-gram pair extraction.

An engine extension beyond the reference's algorithm set (the reference
ships no sampling algorithms — its inventory ends at the path floods,
rings/Links.java): a DeepWalk/node2vec-style walk generator producing
the training corpus for graph-embedding models, the graph-side twin of
the documents-table curation operators. Published method: Perozzi et
al., "DeepWalk" (KDD 2014); Grover & Leskovec, "node2vec" (KDD 2016).

Determinism (the whole point at 100 TB — a re-run of a failed shard must
produce the SAME corpus): the neighbor choice at walk ``w``, step ``t``,
vertex ``v`` is

    nbrs_sorted[ md5_60bit(seed:w:t:v) mod deg(v) ]

entirely JVM-side (``md5``/``conv``/``element_at``), drawn from the same
portable 60-bit md5 family as SimHash/minhash (operators/dedup.py), so
the DuckDB oracle reproduces every step exactly
(oracles.random_walks_sql). No RNG state to ship, no Python in the loop.

Scale shape: the shared CHUNKED neighbor-array frame (Graph.adjacency,
hash-partitioned by vertex; its ``groupBy`` is the only full-edge
shuffle); each of the L supersteps shuffles only the walk frontier
(V·walks_per_vertex rows) against it. Hubs with degree > chunk are
split across rows — the indexed choice resolves two-level (chunk ``i
div C``, offset ``i mod C``) to the SAME neighbor the flat form picks,
so a 10^8-degree hub never occupies one multi-GB row and the oracle
keeps the flat ``nbrs[i+1]`` form. (node2vec_walks keeps single-row
arrays: its intersect/except class split needs both full lists — the
remaining documented hub trade.) On a multigraph (edge_freq='multiple')
parallel edges weight the draw proportionally; the default deduped load
gives simple-graph semantics. Walks ending at a dead end (out-degree 0)
simply stop — the inner join drops them.

With ``checkpoint_dir`` the run is resumable like the path floods: each
superstep's walk frame is a durable delta; resume replays the contiguous
prefix and continues from the deepest step (SuperstepLoop.flood).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph


def _choice_hash(seed: str, step: int) -> Column:
    """Portable 60-bit md5 of (seed, walk_id, step, vid) — identical in
    Spark (conv/substring/md5) and DuckDB ('0x'||substr(md5 ...))::BIGINT."""
    key = F.concat_ws(
        ":",
        F.lit(seed),
        F.col("walk_id").cast("string"),
        F.lit(str(step)),
        F.col("vid").cast("string"),
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def random_walks(
    graph: Graph,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    seed: str = "walk",
    checkpoint_dir: str | None = None,
    resume: bool = False,
    job_name: str = "random_walks",
) -> DataFrame:
    """``(walk_id long, start long, step int, vid long)`` — one row per
    visited position; ``walks_per_vertex`` walks start at EVERY vertex
    (walk_id = start·walks_per_vertex + replica), each up to
    ``walk_length`` steps (step 0 is the start vertex itself)."""
    if walks_per_vertex < 1 or walk_length < 0:
        raise ValueError("random_walks: walks_per_vertex >= 1, walk_length >= 0")
    # chunked sorted neighbor arrays (Graph.adjacency): hubs with degree
    # > chunk are split across rows, so a 10^8-degree vertex never holds
    # a multi-GB single row; chunks are consecutive slices of the
    # globally sorted list, so the indexed choice i = h % deg resolves
    # two-level — chunk i div C, offset i mod C — with NO change to the
    # drawn neighbor (the DuckDB oracle keeps the flat nbrs[i+1] form).
    # The frame is cached hash-partitioned by vertex; each superstep
    # re-shuffles only the walk frontier against it.
    from hugegraph_computer_spark.graph.graph import DEFAULT_ADJ_CHUNK

    chunk = DEFAULT_ADJ_CHUNK
    adj = graph.adjacency().select(
        F.col("vid").alias("avid"), "chunk_no", "nbrs", "deg"
    )

    def step(t: int, state: DataFrame, _frames) -> DataFrame:
        # compute the choice via withColumn BEFORE aliasing it to "vid":
        # the hash inside the index references F.col("vid"), and a select
        # that simultaneously re-binds that name can make Spark resolve
        # the ref against the new sibling alias (see node2vec_walks).
        # Two-level pick: the equi-join on vertex matches every chunk row
        # of the vertex; the chunk_no predicate keeps exactly the chunk
        # holding the drawn global index (deg is total degree on every
        # chunk row), then element_at indexes within it — O(deg/chunk)
        # pairs scanned per hub step, never a full-degree row. `div`
        # keeps the chunk ordinal exact (see node2vec_walks)
        gidx = _choice_hash(seed, t - 1) % F.col("deg")
        chunk_no = F.call_function("div", gidx, F.lit(chunk)).cast("int")
        return (
            state.join(
                adj,
                (state["vid"] == adj["avid"]) & (adj["chunk_no"] == chunk_no),
            )
            .withColumn(
                "_next",
                F.element_at("nbrs", (gidx % F.lit(chunk) + 1).cast("int")),
            )
            .select("walk_id", "start", F.col("_next").alias("vid"))
        )

    # adj is the graph's shared cached adjacency — left persisted
    # (Graph.unpersist releases it with the rest of the cache)
    return _flood_walks(
        graph, walks_per_vertex, walk_length, checkpoint_dir, resume, job_name,
        step,
    )


def _flood_walks(
    graph: Graph, wpv: int, walk_length: int, checkpoint_dir: str | None,
    resume: bool, job_name: str, step: Callable, *seed_cols: Column,
) -> DataFrame:
    """Flood ``wpv`` walks from every vertex for ``walk_length`` steps
    and union the per-step frames (one durable delta each) into the
    output. Superstep 0 is ``(walk_id, start, *seed_cols, vid)`` with
    walk_id = start·wpv + replica."""
    spark = graph.edges.sparkSession
    loop = SuperstepLoop(
        spark, job_name, checkpoint_dir, walk_length + 1, resume=resume
    )
    seed = (
        graph.vertices()
        .select("vid", F.explode(F.sequence(F.lit(0), F.lit(wpv - 1))).alias("r"))
        .select(
            (F.col("vid") * wpv + F.col("r")).alias("walk_id"),
            F.col("vid").alias("start"),
            *seed_cols,
            F.col("vid"),
        )
    )
    out = spark.createDataFrame([], "walk_id long, start long, step int, vid long")
    for t, df in enumerate(loop.flood(lambda: seed, step)):
        out = out.unionByName(
            df.select(
                "walk_id", "start", F.lit(t).cast("int").alias("step"), "vid"
            )
        )
    out = out.localCheckpoint(eager=True)
    loop.cleanup(keep_last=False)
    return out


def skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """``(center long, context long, cnt long)`` — co-occurrence pairs
    within ``window`` positions inside each walk, the skip-gram training
    table DeepWalk feeds to word2vec. Self-join on walk_id: every key has
    exactly the same bounded row count (walk_length+1), so the join has
    no skew by construction and the pair explosion is ≤ (L+1)·2w per
    walk; the groupBy's map-side partial agg collapses repeats before
    the shuffle."""
    a = walks.select("walk_id", F.col("step").alias("s1"), F.col("vid").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("s2"), F.col("vid").alias("context"))
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("s2") != F.col("s1"))
            & (F.abs(F.col("s2") - F.col("s1")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ------------------------------------------------------------ node2vec


def _bias_weights(p: float, q: float) -> tuple[int, int, int]:
    """node2vec's 1/p, 1, 1/q search bias as INTEGER weights scaled by
    1e6 (clamped >= 1): the cumulative-weight choice is pure 64-bit
    integer arithmetic, bit-identical in Spark, DuckDB, and Python —
    no float summation order to disagree on."""
    scale = 1_000_000
    return max(1, round(scale / p)), scale, max(1, round(scale / q))


def node2vec_walks(
    graph: Graph,
    walks_per_vertex: int = 1,
    walk_length: int = 8,
    p: float = 1.0,
    q: float = 1.0,
    seed: str = "n2v",
    checkpoint_dir: str | None = None,
    resume: bool = False,
    job_name: str = "node2vec_walks",
) -> DataFrame:
    """Second-order biased walks (Grover & Leskovec, node2vec, KDD 2016):
    same output schema as :func:`random_walks`, but the step from ``vid``
    with predecessor ``prev`` weights each candidate ``x`` by 1/p if
    ``x == prev`` (return), 1 if ``x`` is also a neighbor of ``prev``
    (BFS-ish), else 1/q (DFS-ish). Step 1 is uniform (no predecessor).

    The draw exploits that node2vec has only THREE weight classes, so a
    cumulative scan over candidates is never needed: partition ``v``'s
    sorted neighbor array into ``{prev}`` / ``common`` (also neighbors
    of ``prev``, via ``array_intersect``) / ``rest`` (``array_except``),
    lay their integer weight mass end-to-end in that order, and the
    uniform draw ``u = md5_60bit(seed:walk:step:vid) mod total`` lands
    in exactly one class — within which every candidate has EQUAL weight,
    so the pick is an integer division + ``element_at``: O(1) per walk,
    identical distribution to the textbook cumulative form. Per
    superstep the frontier (V·wpv rows) hash-joins the cached
    neighbor-array frame twice (on ``vid``, scalars only; then on
    ``prev``, which re-exchanges the joined rows WITH their nbrs arrays
    — Σ deg(visited) values, the irreducible payload of co-locating both
    endpoint lists for the class split, but packed in arrays and shipped
    ONCE); the intersect/except are linear JVM kernels in
    deg(v)+deg(prev). vs the earlier windowed variant (sub-linear at
    10×, BENCH_r04 tp 0.89): no candidate-exploded rows, no per-walk
    window sort, and roughly half the exchanged bytes per superstep —
    measured sf1 267 s → 39-72 s, throughput ratio 0.89 → 2.9+
    (BENCH_new_ops_scale_r5.json).

    Simple-graph semantics like random_walks: Graph.from_edges(dedup)
    already collapses parallel edges, so each distinct neighbor is one
    candidate.

    With ``checkpoint_dir`` each superstep's (walk_id, start, prev, vid)
    state is a durable delta; resume replays the contiguous prefix.
    """
    if walks_per_vertex < 1 or walk_length < 0:
        raise ValueError("node2vec_walks: walks_per_vertex >= 1, walk_length >= 0")
    if p <= 0 or q <= 0:
        raise ValueError("node2vec_walks: p and q must be > 0")
    w_ret, w_in, w_out = _bias_weights(p, q)

    # one cached neighbor-array frame serves BOTH roles: the candidate
    # source for the current vertex (joined on vid) and the d=1
    # membership set for the predecessor (joined on prev); groupBy
    # leaves it hash-partitioned by vertex, so each superstep shuffles
    # only the walk frontier against it — never exploded candidates
    adj = (
        graph.edges.select("src", "dst")
        .groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .select(
            F.col("src").alias("avid"),
            "nbrs",
            F.size("nbrs").cast("long").alias("deg"),
        )
        .persist()
    )
    adj.count()
    padj = adj.select(F.col("avid").alias("pvid"), F.col("nbrs").alias("pnbrs"))

    def step(t: int, state: DataFrame, _frames) -> DataFrame:
        if t == 1:
            # no predecessor: uniform O(1) indexed choice, exactly
            # random_walks' step (withColumn BEFORE the vid re-alias —
            # see random_walks for the name-binding hazard)
            idx = (_choice_hash(seed, 0) % F.col("deg") + 1).cast("int")
            nxt = (
                state.join(adj, state["vid"] == adj["avid"])
                .withColumn("_next", F.element_at("nbrs", idx))
                .select(
                    "walk_id",
                    "start",
                    F.col("vid").alias("prev"),
                    F.col("_next").alias("vid"),
                )
            )
        else:
            # class-partitioned pick: lay weight mass as
            # [prev | common (sorted) | rest (sorted)]; the class the
            # draw lands in is a pair of comparisons, the pick inside
            # it an integer division (equal weights within a class).
            # `div` (not `/`): BIGINT division must stay exact — the
            # double round-trip loses bits past 2^53
            st = (
                state.join(adj, state["vid"] == adj["avid"])
                .join(padj, state["prev"] == padj["pvid"], "left")
                .select(
                    "walk_id",
                    "start",
                    "prev",
                    "vid",
                    "nbrs",
                    F.coalesce(
                        "pnbrs", F.array().cast("array<long>")
                    ).alias("pnbrs"),
                )
                .withColumn("base", F.array_remove("nbrs", F.col("prev")))
                .withColumn(
                    "common", F.array_sort(F.array_intersect("base", "pnbrs"))
                )
                .withColumn(
                    "rest", F.array_sort(F.array_except("base", "pnbrs"))
                )
                .withColumn(
                    "c_ret",
                    F.lit(w_ret)
                    * (F.size("nbrs") - F.size("base")).cast("long"),
                )
                .withColumn(
                    "c_in",
                    F.col("c_ret")
                    + F.lit(w_in) * F.size("common").cast("long"),
                )
                .withColumn(
                    "tot",
                    F.col("c_in") + F.lit(w_out) * F.size("rest").cast("long"),
                )
                .withColumn("u", _choice_hash(seed, t - 1) % F.col("tot"))
                .withColumn(
                    "_next",
                    F.when(F.col("u") < F.col("c_ret"), F.col("prev"))
                    .when(
                        F.col("u") < F.col("c_in"),
                        F.element_at(
                            "common",
                            F.expr(f"(u - c_ret) div {w_in}").cast("int") + 1,
                        ),
                    )
                    .otherwise(
                        F.element_at(
                            "rest",
                            F.expr(f"(u - c_in) div {w_out}").cast("int") + 1,
                        )
                    ),
                )
            )
            nxt = st.select(
                "walk_id",
                "start",
                F.col("vid").alias("prev"),
                F.col("_next").alias("vid"),
            )
        return nxt

    out = _flood_walks(
        graph, walks_per_vertex, walk_length, checkpoint_dir, resume, job_name,
        step, F.lit(None).cast("long").alias("prev"),
    )
    adj.unpersist()  # node2vec's own set-dedup'd frame, not the shared cache
    return out
