"""Structured-Streaming edge ingest + incremental component maintenance.

The reference is strictly batch-BSP (SURVEY.md §2.9) — this module is our
extension for continuously-arriving link data: new edge files land in a
directory (in production: an Iceberg/Kafka feed), each micro-batch folds
them into the persisted component labeling without recomputing the world.

The labels table is Hive-partitioned by a stable vid hash bucket
(``bucket = pmod(xxhash64(vid), n_buckets)``), and every micro-batch
rewrites ONLY the buckets it actually changes, via Spark's dynamic
partition overwrite — untouched bucket directories are never rewritten
(their files stay byte-identical across batches).

Incremental WCC fold per micro-batch (foreachBatch). The lookup is two
actions, and what the driver needs to know rides them through
``observe`` (as a superstep's aggregators ride its one materialization):

  1. action 1 pins the batch's distinct endpoints with their buckets and
     observes their count (an empty batch returns here, writing nothing)
     and the set of endpoint buckets;
  2. action 2 resolves both endpoints of every edge through the current
     labels, reading ONLY those buckets (partition pruning; a new vertex
     labels itself), with the endpoint labels broadcast when they fit the
     session's broadcast threshold; it pins the (label_a, label_b) pairs
     and observes the merge count and the buckets gaining new vertices.
     Merged groups: the pairs are WCC'd with the engine's own min-label
     fixpoint — the pair graph is tiny relative to the base graph;
  3. affected buckets = buckets holding a vid whose component is in the
     (tiny, broadcast) changed-label mapping — a read-only semi-join scan
     — plus the observed new-vertex buckets; rewrite exactly those via
     ``partitionOverwriteMode=dynamic``; checkpoint. A batch with no merge
     and no new vertex stops after action 2.

Per batch the write cost is O(rows in affected buckets), not O(V); the
only O(V) term is the read-only broadcast semi-join that locates affected
buckets (and parquet row-group stats prune most of that read). That is
the property that matters when the base graph is 10^12 edges and a batch
is a few million.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

EDGE_DDL = "src long, dst long"
LABELS_DDL = "vid long, component long, bucket int"

#: bytes one endpoint-label row (vid long, component long, new_bucket
#: int) costs in a broadcast hash relation: a 32-byte UnsafeRow (8-byte
#: null bitset + three 8-byte slots) plus the hash map's 16-byte key and
#: row-offset entry
LAB_ROW_BYTES = 48

#: default bucket count for the labels table; production would size this
#: so one bucket ≈ one comfortable write task (e.g. 4096 at 10^12 V)
N_BUCKETS = 16


def _bucket(col: Column, n_buckets: int) -> Column:
    """Stable vid→bucket hash: xxhash64 is seed-fixed and versioned in
    Spark, so the same vid lands in the same bucket across batches/runs."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def stream_edges(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a directory of parquet edge files."""
    return spark.readStream.schema(EDGE_DDL).parquet(path)


def _collapse_labels(pairs: DataFrame, pinned: list) -> DataFrame:
    """(a, b) same-component label pairs → (label, root) minimal mapping,
    pinned (it joins ``pinned``).

    This is exactly WCC on the (tiny) label-pair graph, so run the engine's
    own min-label fixpoint — a one-pass min-neighbor + pointer jump is NOT
    sufficient (a min label must be able to flow through a larger
    intermediate label, e.g. 5—6—0 must collapse 5 to 0)."""
    from hugegraph_computer_spark.graph.bsp import release_projected_checkpoint
    from hugegraph_computer_spark.graph.graph import Graph
    from hugegraph_computer_spark.operators.wcc import wcc

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    g = Graph.from_edges(edges, num_partitions=8)
    comp = wcc(g, max_supersteps=50, job_name="wcc_label_collapse")
    mapping = comp.toDF("label", "root").localCheckpoint(eager=True)
    pinned.append(mapping)
    # the mapping is pinned: free the graph's cached frames and the loop
    # state ``comp`` projects (wcc leaves it pinned for its caller), which
    # would otherwise stay cached for the session, batch after batch
    g.unpersist()
    release_projected_checkpoint(comp)
    return mapping


def _pin_n_buckets(
    labels_path: str, n_buckets: int, exists: bool
) -> tuple[int, bool]:
    """The bucket count is a TABLE property, not a call property: folding
    with a different count than the table was written with would hash
    existing vids into the wrong partitions and silently duplicate them.
    Pin it in an underscore-prefixed sidecar (ignored by parquet
    discovery) on creation; later batches use the pinned value and warn
    when the caller's differs. A table without the sidecar (a crash
    between the first data write and the sidecar) is pinned to the
    caller's count once its ``bucket=K`` directories agree with it (the
    second value: the fold writes the sidecar if the batch is non-empty)."""
    meta = os.path.join(labels_path, "_n_buckets.json")
    if exists:
        try:
            with open(meta) as fh:
                pinned = int(json.load(fh)["n_buckets"])
        except (OSError, ValueError, KeyError):
            buckets = [
                int(d.split("=", 1)[1])
                for d in os.listdir(labels_path)
                if d.startswith("bucket=")
            ]
            if buckets and max(buckets) >= n_buckets:
                raise ValueError(
                    f"incremental_wcc_batch: labels table has bucket="
                    f"{max(buckets)} but n_buckets={n_buckets}"
                ) from None
            return n_buckets, True
        if pinned != n_buckets:
            import warnings

            warnings.warn(
                f"incremental_wcc_batch: labels table was created with "
                f"n_buckets={pinned}; ignoring n_buckets={n_buckets}",
                stacklevel=3,
            )
        return pinned, False
    return n_buckets, False


def _write_n_buckets(labels_path: str, n_buckets: int) -> None:
    with open(os.path.join(labels_path, "_n_buckets.json"), "w") as fh:
        json.dump({"n_buckets": n_buckets}, fh)


def _pin(df: DataFrame, pinned: list, **aggs: Column) -> tuple[DataFrame, dict]:
    """Materialize ``df`` once (it joins ``pinned``); ``aggs`` are observed
    on that same pass, so no question costs a job of its own."""
    obs = Observation()
    df = df.observe(obs, *[c.alias(k) for k, c in aggs.items()])
    pinned.append(df.localCheckpoint(eager=True))
    return pinned[-1], obs.get


def incremental_wcc_batch(
    batch: DataFrame,
    labels_path: str,
    spark: SparkSession,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Fold one micro-batch of edges into the bucket-partitioned labels
    table at ``labels_path``, rewriting only affected buckets."""
    exists = os.path.exists(labels_path)
    n_buckets, unpinned = _pin_n_buckets(labels_path, n_buckets, exists)

    # every localCheckpoint pinned by this fold is released on exit — a
    # long-running stream must not accumulate executor storage per batch
    pinned: list[DataFrame] = []
    try:
        _incremental_wcc_batch(
            batch, labels_path, spark, n_buckets, exists, unpinned, pinned
        )
    finally:
        from hugegraph_computer_spark.graph.bsp import release_local_checkpoint

        for df in pinned:
            release_local_checkpoint(df)


def _incremental_wcc_batch(
    batch: DataFrame,
    labels_path: str,
    spark: SparkSession,
    n_buckets: int,
    exists: bool,
    unpinned: bool,
    pinned: list,
) -> None:
    # action 1: the batch's distinct endpoints with their buckets (pinned
    # so the plans below don't recompute the batch source)
    bverts, seen = _pin(
        batch.select(F.col("src").alias("vid"))
        .unionByName(batch.select(F.col("dst").alias("vid")))
        .dropDuplicates(["vid"])
        .withColumn("bucket", _bucket(F.col("vid"), n_buckets)),
        pinned,
        n=F.count(F.lit(1)),
        touched=F.collect_set("bucket"),
    )
    if not seen["n"]:
        return  # nothing to fold; never write an empty (schema-less) table
    if unpinned:
        _write_n_buckets(labels_path, n_buckets)

    # one label row per endpoint, reading ONLY the endpoint buckets
    # (partition pruning): a vid the table lacks labels itself, and its
    # new_bucket names the bucket it joins; on the first batch every vid
    # is new
    labels = (
        spark.read.schema(LABELS_DDL).parquet(labels_path)
        if exists
        else spark.createDataFrame([], LABELS_DDL)
    )
    known = labels.where(F.col("bucket").isin(sorted(seen["touched"])))
    lab = bverts.join(known.select("vid", "component"), "vid", "left").select(
        "vid",
        F.coalesce("component", "vid").alias("component"),
        F.when(F.col("component").isNull(), F.col("bucket")).alias("new_bucket"),
    )
    # broadcast lab into both endpoint joins when it fits the session's
    # broadcast threshold; a first batch can be a whole bulk load, whose
    # join is left to the planner (which, reading the pinned frame's
    # pre-dedupe size estimate, would otherwise pick a sort-merge join)
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    side = F.broadcast if seen["n"] * LAB_ROW_BYTES <= threshold else lambda df: df
    # action 2: both endpoint labels of every edge; the merge count and
    # the buckets gaining new vertices ride the same pass
    ends, seen = _pin(
        batch.join(side(lab.toDF("src", "a", "na")), "src")
        .join(side(lab.toDF("dst", "b", "nb")), "dst")
        .select("a", "b", "na", "nb"),
        pinned,
        merges=F.count(F.when(F.col("a") != F.col("b"), True)),
        na=F.collect_set("na"),
        nb=F.collect_set("nb"),
    )
    new_buckets = set(seen["na"]) | set(seen["nb"])
    pairs = ends.where(F.col("a") != F.col("b")).select("a", "b").dropDuplicates()
    new_verts = lab.where(F.col("new_bucket").isNotNull()).select(
        "vid", F.col("vid").alias("component"), F.col("new_bucket").alias("bucket")
    )

    if not exists:
        out = new_verts
        if seen["merges"]:
            mapping = _collapse_labels(pairs, pinned)
            out = out.join(
                F.broadcast(mapping), out["component"] == mapping["label"], "left"
            ).select(
                "vid",
                F.coalesce(mapping["root"], out["component"]).alias("component"),
                "bucket",
            )
        (
            out.repartition(n_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(labels_path)
        )
        _write_n_buckets(labels_path, n_buckets)
        return

    changed, affected = None, new_buckets
    if seen["merges"]:
        mapping = _collapse_labels(pairs, pinned)
        changed = mapping.where(F.col("root") != F.col("label"))
        # read-only broadcast semi-join: which buckets hold a vid whose
        # component label is being merged away?
        aff_a = (
            labels.join(
                F.broadcast(changed.select(F.col("label").alias("component"))),
                "component",
                "leftsemi",
            )
            .select("bucket")
            .distinct()
            .collect()
        )
        affected |= {r["bucket"] for r in aff_a}
    if not affected:
        return  # batch introduced nothing new: zero buckets rewritten

    aff_list = sorted(affected)
    content = labels.where(F.col("bucket").isin(aff_list)).select(
        "vid", "component", "bucket"
    ).unionByName(new_verts)
    if changed is not None:
        content = content.join(
            F.broadcast(changed), content["component"] == changed["label"], "left"
        ).select(
            "vid",
            F.coalesce(changed["root"], content["component"]).alias("component"),
            "bucket",
        )
    # materialize BEFORE overwriting the buckets the plan reads from;
    # then route rows so each rewritten bucket lands in ~one task —
    # without this every write task can spray files into every affected
    # bucket and small files accumulate batch over batch
    content = content.localCheckpoint(eager=True)
    pinned.append(content)
    (
        content.repartition(len(aff_list), "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(labels_path)
    )


def run_incremental_wcc(
    spark: SparkSession, edges_path: str, labels_path: str, checkpoint: str
):
    """availableNow streaming query maintaining labels_path from edge files."""
    stream = stream_edges(spark, edges_path)
    return (
        stream.writeStream.foreachBatch(
            lambda batch, _id: incremental_wcc_batch(batch, labels_path, spark)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
