"""Structured-Streaming incremental WCC (engine extension; SURVEY.md §2.9
notes the reference is batch-only — this is our continuously-arriving-edges
path) — the maintained labels must equal a batch WCC over the union of all
edges seen so far."""

from __future__ import annotations

import json
import os

import pytest

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators import wcc
from hugegraph_computer_spark.streaming.ingest import (
    incremental_wcc_batch,
    run_incremental_wcc,
)
from tests.oracle import ref_wcc, symmetrize
from tests.test_algorithms import df_to_dict


def edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_incremental_batches_match_batch_wcc(spark, tmp_path):
    labels_path = str(tmp_path / "labels")
    b1 = [(0, 1), (2, 3), (10, 11)]
    b2 = [(1, 2), (12, 13)]          # merges {0,1} with {2,3}
    b3 = [(3, 10), (13, 12)]         # merges into one big component
    seen = []
    for batch in (b1, b2, b3):
        seen += batch
        incremental_wcc_batch(edges_df(spark, batch), labels_path, spark)
        got = {r["vid"]: r["component"]
               for r in spark.read.parquet(labels_path).collect()}
        adj = symmetrize(seen)
        assert got == ref_wcc(sorted(adj), adj)


def _bucket_files(path, hidden=False):
    """{relative file path: md5} for every data file under a bucket dir
    (with ``hidden``, for every file: sidecars and markers too)."""
    import hashlib

    state = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not hidden and f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                state[os.path.relpath(p, path)] = hashlib.md5(fh.read()).hexdigest()
    return state


def test_incremental_wcc_rewrites_only_affected_buckets(spark, tmp_path):
    """A batch that merges two components must rewrite ONLY the buckets
    holding vids of the absorbed component — every other bucket's files
    stay byte-identical (the O(affected), not O(V), write property)."""
    labels_path = str(tmp_path / "labels")
    b1 = [(i, i + 1000) for i in range(0, 40, 2)]  # 20 two-vertex components
    incremental_wcc_batch(edges_df(spark, b1), labels_path, spark)
    before = _bucket_files(labels_path)
    lab = {
        r["vid"]: (r["component"], r["bucket"])
        for r in spark.read.parquet(labels_path).collect()
    }
    incremental_wcc_batch(edges_df(spark, [(0, 2)]), labels_path, spark)
    after = _bucket_files(labels_path)
    # label 2 is absorbed into 0: exactly vids {2, 1002} move buckets-wise
    moved = {v for v, (c, _) in lab.items() if c == 2}
    assert moved == {2, 1002}
    affected = {f"bucket={lab[v][1]}" for v in moved}
    untouched = {f.split(os.sep)[0] for f in before} - affected
    assert untouched, "test vacuous: every bucket was affected"
    for rel, digest in before.items():
        if rel.split(os.sep)[0] in untouched:
            assert after.get(rel) == digest, f"untouched bucket file changed: {rel}"
    got = {
        r["vid"]: r["component"] for r in spark.read.parquet(labels_path).collect()
    }
    adj = symmetrize(b1 + [(0, 2)])
    assert got == ref_wcc(sorted(adj), adj)


def test_incremental_wcc_noop_batch_rewrites_nothing(spark, tmp_path):
    """A batch whose edges are all within existing components must not
    touch a single file."""
    labels_path = str(tmp_path / "labels")
    incremental_wcc_batch(edges_df(spark, [(0, 1), (2, 3)]), labels_path, spark)
    before = _bucket_files(labels_path)
    incremental_wcc_batch(edges_df(spark, [(0, 1)]), labels_path, spark)
    assert _bucket_files(labels_path) == before


def test_incremental_wcc_empty_batch_writes_nothing(spark, tmp_path):
    """An empty batch creates no table, and leaves an existing one
    byte-identical, bucket-count sidecar included."""
    labels_path = str(tmp_path / "labels")
    incremental_wcc_batch(edges_df(spark, []), labels_path, spark)
    assert not os.path.exists(labels_path)
    incremental_wcc_batch(edges_df(spark, [(0, 1), (2, 3)]), labels_path, spark)
    before = _bucket_files(labels_path, hidden=True)
    assert "_n_buckets.json" in before
    incremental_wcc_batch(edges_df(spark, []), labels_path, spark)
    assert _bucket_files(labels_path, hidden=True) == before


def test_incremental_wcc_self_loop_adds_only_its_vertex(spark, tmp_path):
    """A self-loop on a new vertex brings a new vertex without any merge
    pair: it labels itself, and only its bucket is rewritten."""
    labels_path = str(tmp_path / "labels")
    b1 = [(i, i + 1000) for i in range(0, 40, 2)]
    incremental_wcc_batch(edges_df(spark, b1), labels_path, spark)
    before = _bucket_files(labels_path)
    incremental_wcc_batch(edges_df(spark, [(99, 99)]), labels_path, spark)
    after = _bucket_files(labels_path)
    got = {
        r["vid"]: (r["component"], r["bucket"])
        for r in spark.read.parquet(labels_path).collect()
    }
    assert got[99][0] == 99
    adj = symmetrize(b1)
    assert {v: c for v, (c, _) in got.items() if v != 99} == ref_wcc(sorted(adj), adj)
    home = f"bucket={got[99][1]}"
    changed = {rel.split(os.sep)[0] for rel in set(before) ^ set(after)}
    changed |= {rel.split(os.sep)[0] for rel in before if after.get(rel) != before[rel]}
    assert changed == {home}


def test_incremental_wcc_noop_fold_job_budget(spark, tmp_path):
    """Folding a batch whose edges all lie inside existing components
    costs two actions' worth of Spark jobs: the lookup's questions (is the
    batch empty, which buckets, any merges, any new vertices) ride the
    two materializations, not a job each."""
    from tests.test_plans_and_resume import _jobs_in_group

    labels_path = str(tmp_path / "labels")
    incremental_wcc_batch(edges_df(spark, [(0, 1), (2, 3)]), labels_path, spark)
    before = _bucket_files(labels_path)
    batch = edges_df(spark, [(0, 1), (3, 2)])
    jobs = _jobs_in_group(
        spark, "noop-fold", lambda: incremental_wcc_batch(batch, labels_path, spark)
    )
    assert _bucket_files(labels_path) == before
    assert jobs <= 5, jobs


def test_incremental_wcc_releases_collapse_cache(spark, tmp_path):
    """Batches that merge components leave nothing cached behind: the
    label-collapse graph's cached frames and its WCC state are freed."""
    jsc = spark.sparkContext._jsc.sc()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def held():
        return cache.cachedData().size(), jsc.getPersistentRDDs().size()

    labels_path = str(tmp_path / "labels")
    b1 = [(i, i + 1000) for i in range(0, 40, 2)]
    incremental_wcc_batch(edges_df(spark, b1), labels_path, spark)
    base = held()
    for batch in ([(0, 2)], [(4, 6), (1006, 8)], [(2, 10), (12, 14)]):
        incremental_wcc_batch(edges_df(spark, batch), labels_path, spark)
        now = held()
        assert now[0] <= base[0] and now[1] <= base[1], (base, now)


def test_incremental_batches_match_batch_wcc_without_broadcast(spark, tmp_path):
    """The endpoint-label joins left to the planner (broadcast disabled)
    fold to the same labels."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        test_incremental_batches_match_batch_wcc(spark, tmp_path)
    finally:
        spark.conf.set(key, old)


def test_streaming_files_end_to_end(spark, tmp_path):
    edges_dir = str(tmp_path / "edges")
    labels_path = str(tmp_path / "labels")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(edges_dir)
    all_edges = [(0, 1), (1, 2), (5, 6), (6, 0)]
    edges_df(spark, all_edges[:2]).write.mode("overwrite").parquet(
        f"{edges_dir}/f1.parquet"
    )
    edges_df(spark, all_edges[2:]).write.mode("overwrite").parquet(
        f"{edges_dir}/f2.parquet"
    )
    q = run_incremental_wcc(spark, f"{edges_dir}/*", labels_path, ckpt)
    q.awaitTermination(120)
    got = {r["vid"]: r["component"]
           for r in spark.read.parquet(labels_path).collect()}
    g = Graph.from_edges(edges_df(spark, all_edges), num_partitions=4)
    assert got == df_to_dict(wcc(g), "vid", "component")


def test_stateful_sessionize_ordinals_match_batch(spark, tmp_path):
    """applyInPandasWithState sessionize must reproduce the batch
    sessionize rollup EXACTLY — including the per-user session ordinal
    and integer epoch-us bounds that session_window cannot emit — with
    state carried across micro-batches (one file per trigger)."""
    from pyspark.sql import functions as F

    from hugegraph_computer_spark.operators.events import sessionize
    from hugegraph_computer_spark.streaming.stateful import (
        run_stateful_sessionize,
    )

    events_dir = str(tmp_path / "sf_events")
    ckpt = str(tmp_path / "sf_ckpt")
    os.makedirs(events_dir)

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, "
                  "event_type string, value double, props string"
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )

    # coalesce(1): ONE part-file per input file, so with
    # maxFilesPerTrigger=1 the micro-batch sequence is deterministic
    # (the far-future flusher must not advance the watermark past
    # sibling events still waiting in another part-file)
    # file 1: user 1 sessions 0+1 begin; user 2 session 0
    mk([
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 1, "click", 2.0, "{}"),
        (4, "2024-01-01 00:05:00", 2, "view", 8.0, "{}"),
    ]).coalesce(1).write.parquet(f"{events_dir}/f1.parquet")
    # file 2: user 1 session 1 + a THIRD session; out-of-order event 3
    # lands in session 1 (arrives after event 5 but is earlier in time)
    mk([
        (5, "2024-01-01 00:55:00", 1, "view", 0.5, "{}"),
        (3, "2024-01-01 00:50:00", 1, "view", 4.0, "{}"),
        (6, "2024-01-01 02:00:00", 1, "buy", 16.0, "{}"),
        # watermark flusher: far-future event closes everything above
        (99, "2024-01-01 12:00:00", 9, "view", 0.0, "{}"),
    ]).coalesce(1).write.parquet(f"{events_dir}/f2.parquet")

    q = run_stateful_sessionize(
        spark, f"{events_dir}/*", ckpt, query_name="sf_sess",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql(
            "SELECT user_id, session_id, n_events, start_us, end_us, "
            "value_sum FROM sf_sess"
        ).collect()
    }
    batch = {
        tuple(r) for r in sessionize(
            mk([
                (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
                (2, "2024-01-01 00:10:00", 1, "click", 2.0, "{}"),
                (3, "2024-01-01 00:50:00", 1, "view", 4.0, "{}"),
                (4, "2024-01-01 00:05:00", 2, "view", 8.0, "{}"),
                (5, "2024-01-01 00:55:00", 1, "view", 0.5, "{}"),
                (6, "2024-01-01 02:00:00", 1, "buy", 16.0, "{}"),
            ]).select(
                "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
                "user_id", "event_type", "value", "props",
            )
        ).select(
            "user_id", "session_id", "n_events", "start_us", "end_us",
            "value_sum",
        ).collect()
    }
    assert got == batch
    # the ordinal the declarative path cannot produce: user 1 has
    # sessions 0, 1, 2 in chronological order
    assert {(u, s) for (u, s, *_ ) in got if u == 1} == {(1, 0), (1, 1), (1, 2)}


# ------------------------------------------------ streaming exact dedup


def _write_doc_file(spark, path, rows):
    """One parquet file of (doc_id, text, ingest_ts-minutes-offset)."""
    import datetime

    base = datetime.datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [
            (i, t, base + datetime.timedelta(minutes=m))
            for i, t, m in rows
        ],
        "doc_id long, text string, ingest_ts timestamp",
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_dedup_first_arrival_matches_batch(spark, tmp_path):
    """Duplicates arriving within the watermark across micro-batches
    collapse to the FIRST arrival — same survivor the batch exact_dedup
    picks for this feed (min doc_id coincides with first arrival)."""
    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    _write_doc_file(spark, feed, [(1, "alpha", 0), (2, "beta", 1)])
    _write_doc_file(spark, feed, [(3, "alpha", 2), (4, "gamma", 3)])
    _write_doc_file(spark, feed, [(5, "beta", 4), (6, "alpha", 5)])

    from hugegraph_computer_spark.streaming.dedup import run_streaming_dedup

    q = run_streaming_dedup(
        spark, feed, ck, query_name="sd1",
        watermark_minutes=60, max_files_per_trigger=1,
    )
    q.awaitTermination()
    got = {
        r["text"]: r["doc_id"] for r in spark.sql("select * from sd1").collect()
    }
    # one survivor per distinct content, and it is the first arrival
    assert got == {"alpha": 1, "beta": 2, "gamma": 4}


def test_streaming_dedup_state_evicts_past_watermark(spark, tmp_path):
    """A duplicate arriving AFTER the watermark has passed its
    fingerprint's event time is re-emitted — the documented bounded-state
    contract (state does not grow with corpus size)."""
    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    from hugegraph_computer_spark.streaming.dedup import run_streaming_dedup

    # explicit batch boundaries: one availableNow pass per arriving file
    # against the SAME checkpoint (a paced feed). Batch 1: doc at t=0;
    # batch 2 advances the watermark far past t=0 + 10 min; batch 3: a
    # duplicate at t=500 — its fingerprint's state is already evicted.
    for rows in (
        [(1, "alpha", 0)],
        [(2, "filler", 400)],
        [(3, "alpha", 500)],
    ):
        _write_doc_file(spark, feed, rows)
        q = run_streaming_dedup(
            spark, feed, ck, watermark_minutes=10, output_path=out,
        )
        q.awaitTermination()
    rows = spark.read.parquet(out).select("doc_id", "text").collect()
    alpha_ids = sorted(r["doc_id"] for r in rows if r["text"] == "alpha")
    assert alpha_ids == [1, 3]  # re-emitted after eviction, by design


def test_table_without_sidecar_is_checked_then_pinned(spark, tmp_path):
    """A labels table whose bucket-count sidecar is missing (a crash
    between the first data write and the sidecar) must not accept a
    bucket count its directories contradict, and must be pinned once a
    consistent count folds into it."""
    labels_path = str(tmp_path / "labels")
    first = [(i, i + 1000) for i in range(0, 40, 2)]
    incremental_wcc_batch(edges_df(spark, first), labels_path, spark, n_buckets=16)
    sidecar = os.path.join(labels_path, "_n_buckets.json")
    os.remove(sidecar)
    with pytest.raises(ValueError, match="bucket"):
        incremental_wcc_batch(edges_df(spark, [(0, 2)]), labels_path, spark, n_buckets=4)
    assert not os.path.exists(sidecar)
    incremental_wcc_batch(edges_df(spark, [(0, 2)]), labels_path, spark, n_buckets=16)
    with open(sidecar) as fh:
        assert json.load(fh) == {"n_buckets": 16}
