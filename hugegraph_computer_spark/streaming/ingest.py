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

Incremental WCC fold per micro-batch (foreachBatch):

  1. resolve both endpoints of each new edge through the current labels,
     reading ONLY the endpoint buckets (partition pruning on the bucket
     key; new vertices label themselves),
  2. merged groups: the (label_a, label_b) pairs are WCC'd with the
     engine's own min-label fixpoint — the pair graph is tiny relative to
     the base graph,
  3. affected buckets = buckets holding a vid whose component is in the
     (tiny, broadcast) changed-label mapping — a read-only semi-join scan
     — plus the buckets gaining new vertices; rewrite exactly those via
     ``partitionOverwriteMode=dynamic``; checkpoint.

Per batch the write cost is O(rows in affected buckets), not O(V); the
only O(V) term is the read-only broadcast semi-join that locates affected
buckets (and parquet row-group stats prune most of that read). That is
the property that matters when the base graph is 10^12 edges and a batch
is a few million.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

EDGE_DDL = "src long, dst long"

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


def _collapse_labels(pairs: DataFrame, max_rounds: int = 50) -> DataFrame:
    """(a, b) same-component label pairs → (label, root) minimal mapping.

    This is exactly WCC on the (tiny) label-pair graph, so run the engine's
    own min-label fixpoint — a one-pass min-neighbor + pointer jump is NOT
    sufficient (a min label must be able to flow through a larger
    intermediate label, e.g. 5—6—0 must collapse 5 to 0)."""
    from hugegraph_computer_spark.graph.graph import Graph
    from hugegraph_computer_spark.operators.wcc import wcc

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    g = Graph.from_edges(edges, num_partitions=8)
    comp = wcc(g, max_supersteps=max_rounds, job_name="wcc_label_collapse")
    return comp.select(F.col("vid").alias("label"), F.col("component").alias("root"))


def _pin_n_buckets(labels_path: str, n_buckets: int, exists: bool) -> int:
    """The bucket count is a TABLE property, not a call property: folding
    with a different count than the table was written with would hash
    existing vids into the wrong partitions and silently duplicate them.
    Pin it in an underscore-prefixed sidecar (ignored by parquet
    discovery) on creation; later batches use the pinned value and warn
    when the caller's differs. A table without the sidecar (a crash
    between the first data write and the sidecar) is pinned to the
    caller's count once its ``bucket=K`` directories agree with it."""
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
            _write_n_buckets(labels_path, n_buckets)
            return n_buckets
        if pinned != n_buckets:
            import warnings

            warnings.warn(
                f"incremental_wcc_batch: labels table was created with "
                f"n_buckets={pinned}; ignoring n_buckets={n_buckets}",
                stacklevel=3,
            )
        return pinned
    return n_buckets


def _write_n_buckets(labels_path: str, n_buckets: int) -> None:
    with open(os.path.join(labels_path, "_n_buckets.json"), "w") as fh:
        json.dump({"n_buckets": n_buckets}, fh)


def incremental_wcc_batch(
    batch: DataFrame,
    labels_path: str,
    spark: SparkSession,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Fold one micro-batch of edges into the bucket-partitioned labels
    table at ``labels_path``, rewriting only affected buckets."""
    exists = os.path.exists(labels_path)
    if batch.isEmpty():
        return  # nothing to fold; never write an empty (schema-less) table
    n_buckets = _pin_n_buckets(labels_path, n_buckets, exists)

    # every localCheckpoint pinned by this fold is released on exit — a
    # long-running stream must not accumulate executor storage per batch
    pinned: list[DataFrame] = []
    try:
        _incremental_wcc_batch(
            batch, labels_path, spark, n_buckets, exists, pinned
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
    pinned: list,
) -> None:
    # Δ-vertices of this batch, with their buckets (small; pinned so the
    # plans below don't recompute the batch source)
    bverts = (
        batch.select(F.col("src").alias("vid"))
        .unionByName(batch.select(F.col("dst").alias("vid")))
        .dropDuplicates(["vid"])
        .withColumn("bucket", _bucket(F.col("vid"), n_buckets))
        .localCheckpoint(eager=True)
    )
    pinned.append(bverts)

    if not exists:
        # first batch: the whole table IS the delta
        out = bverts.select("vid", F.col("vid").alias("component"), "bucket")
        pairs_src = out
    else:
        labels = spark.read.parquet(labels_path)
        touched = [r["bucket"] for r in bverts.select("bucket").distinct().collect()]
        # endpoint-label lookup reads ONLY the endpoint buckets
        lab_touch = labels.where(F.col("bucket").isin(touched))
        new_verts = (
            bverts.join(lab_touch.select("vid"), "vid", "left_anti")
            .select("vid", F.col("vid").alias("component"), "bucket")
        )
        pairs_src = lab_touch.unionByName(new_verts)

    la = pairs_src.select(F.col("vid").alias("src"), F.col("component").alias("a"))
    lb = pairs_src.select(F.col("vid").alias("dst"), F.col("component").alias("b"))
    pairs = (
        batch.join(la, "src")
        .join(lb, "dst")
        .select("a", "b")
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )

    if not exists:
        if not pairs.isEmpty():
            mapping = _collapse_labels(pairs)
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

    if pairs.isEmpty():
        changed = None
        affected = {r["bucket"] for r in new_verts.select("bucket").distinct().collect()}
        if not affected:
            return  # batch introduced nothing new: zero buckets rewritten
    else:
        mapping = _collapse_labels(pairs).localCheckpoint(eager=True)
        pinned.append(mapping)
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
        aff_b = new_verts.select("bucket").distinct().collect()
        affected = {r["bucket"] for r in aff_a} | {r["bucket"] for r in aff_b}
        if not affected:
            return

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
