"""Physical-plan assertions + checkpoint/resume/determinism guarantees.

The plan tests are the "is this the plan I'd want at 100 TB" gate
(SURVEY.md §4): pushdown reaching parquet, no cartesian products, cached
adjacency advertising its partitioning so the per-superstep scatter join
does not re-shuffle the big static side.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators import (
    coreness,
    lpa,
    pagerank,
    personalized_pagerank,
    wcc,
)
from tests.plan_checks import (
    assert_no_cartesian,
    assert_pushed_filters,
    explain_str,
)
from tests.oracle import random_edges
from tests.test_algorithms import df_to_dict, make_graph


@pytest.fixture
def testdata_dir():
    d = "/root/testdata/sf0.001"
    if not os.path.isdir(d):
        pytest.skip("driver testdata not present")
    return d


def test_filter_pushdown_to_parquet(spark, testdata_dir):
    li = spark.read.parquet(f"{testdata_dir}/lineitem.parquet")
    q = li.where(F.col("l_suppkey") == 7).select("l_orderkey", "l_suppkey")
    assert_pushed_filters(q, "l_suppkey")
    # column pruning: scan must read only the 2 projected columns
    plan = explain_str(q)
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_scatter_join_no_cartesian_and_no_adj_exchange(spark):
    g = make_graph(spark, random_edges(100, 300, seed=1))
    g.adjacency().count()
    contrib = g.degrees().select("vid", (1.0 / F.greatest("deg", F.lit(1))).alias("c"))
    joined = g.scatter(contrib)
    assert_no_cartesian(joined)
    # With broadcast allowed the small side is broadcast (shuffle-free);
    # force SMJ to assert the 100-TB-relevant property: the cached
    # adjacency (persisted hash-partitioned + sorted by vid) must need
    # neither an Exchange nor a Sort on its side of the join.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_str(g.scatter(contrib))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    join_tail = plan.split("SortMergeJoin", 1)[-1]
    adj_branch = join_tail.split("InMemoryTableScan", 1)[0]
    assert "Exchange" not in adj_branch and "Sort" not in adj_branch, plan[:1800]


def test_corpus_scan_prunes_columns(spark, testdata_dir):
    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id")
    assert_pushed_filters(q, "lang")


@pytest.mark.parametrize("algo,kw,col", [
    (pagerank, {"l1_threshold": 1e-6, "max_supersteps": 10}, "rank"),
    (wcc, {}, "component"),
    (lpa, {}, "label"),
    (coreness, {}, "coreness"),
    (personalized_pagerank, {"sources": [0, 7]}, "rank"),
])
def test_resume_identical_after_partial_checkpoint(spark, tmp_path, algo, kw, col):
    g = make_graph(spark, random_edges(80, 240, seed=4))
    ck = str(tmp_path / algo.__name__)
    full = df_to_dict(algo(g, checkpoint_dir=ck, **kw), "vid", col)
    job = os.listdir(ck)[0]
    steps = sorted(os.listdir(os.path.join(ck, job)))
    assert len(steps) >= 2, "expected per-superstep snapshots"
    # simulate a crash: drop the last snapshot, resume mid-iteration
    shutil.rmtree(os.path.join(ck, job, steps[-1]))
    resumed = df_to_dict(algo(g, checkpoint_dir=ck, resume=True, **kw), "vid", col)
    assert resumed == full


def test_pagerank_stats_out_filled_when_resume_finds_finished_run(spark, tmp_path):
    """A resume that finds the run already finished still reports the
    supersteps it reached, the final L1 and an empty history."""
    g = make_graph(spark, random_edges(60, 180, seed=5))
    ck = str(tmp_path)
    first: dict = {}
    full = df_to_dict(
        pagerank(g, l1_threshold=1e-6, checkpoint_dir=ck, stats_out=first),
        "vid", "rank",
    )
    again: dict = {}
    resumed = df_to_dict(
        pagerank(g, l1_threshold=1e-6, checkpoint_dir=ck, resume=True,
                 stats_out=again),
        "vid", "rank",
    )
    assert resumed == full
    assert again["supersteps"] == first["supersteps"]
    assert again["l1"] == first["l1"]
    assert again["history"] == []


def test_snapshot_meta_carries_lineage_and_aggregates(spark, tmp_path):
    import json

    g = make_graph(spark, random_edges(50, 150, seed=6))
    ck = str(tmp_path)
    pagerank(g, l1_threshold=1e-6, max_supersteps=4, checkpoint_dir=ck)
    job_dir = os.path.join(ck, "page_rank")
    metas = []
    for d in sorted(os.listdir(job_dir)):
        with open(os.path.join(job_dir, d, "_meta.json")) as f:
            metas.append(json.load(f))
    assert all("aggregates" in m and "metrics" in m for m in metas)
    late = [m for m in metas if m["superstep"] > 0]
    assert all("partition_rows" in m["metrics"] for m in metas)
    assert all("l1" in m["aggregates"] for m in late)
    n = g.num_vertices()
    for m in metas:
        rows = m["metrics"]["partition_rows"]
        assert sum(rows) == m["metrics"]["rows"] == n, m


def _jobs_in_group(spark, group, action):
    """How many Spark jobs ``action()`` launches, counted through a job
    group once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_durable_materialize_runs_only_the_write(spark, tmp_path):
    """A durable superstep costs what writing its state costs: the
    read-back handle and the row-count metric launch no job of their own."""
    from hugegraph_computer_spark.graph.bsp import SuperstepLoop

    df = spark.range(100).select(F.col("id").alias("vid"), (F.col("id") % 7).alias("x"))
    loop = SuperstepLoop(spark, "j", str(tmp_path / "ck"), 3)
    out = []
    durable = _jobs_in_group(
        spark, "durable-materialize", lambda: out.append(loop.materialize(1, df))
    )
    plain = _jobs_in_group(
        spark, "plain-write", lambda: df.write.parquet(str(tmp_path / "plain"))
    )
    assert plain == 1
    assert durable == plain
    assert sorted(out[0].collect()) == sorted(df.collect())


def test_read_step_reads_under_recorded_schema(spark, tmp_path):
    """A snapshot read back by ``read_step`` (every resume) launches no job
    before its first action: the schema written at commit is reused, not
    inferred from the files. ``resume()`` returns the saved superstep, its
    rows and its aggregates."""
    from hugegraph_computer_spark.graph.bsp import SuperstepLoop

    df = spark.range(100).select(F.col("id").alias("vid"), (F.col("id") % 7).alias("x"))
    loop = SuperstepLoop(spark, "j", str(tmp_path / "ck"), 3)
    aggs = {"a": 1, "delta": 0.25, "continue": True}
    loop.save(1, df, aggs)
    out = []
    jobs = _jobs_in_group(spark, "read-step", lambda: out.append(loop.read_step(1)))
    assert jobs == 0
    s, state, resumed_aggs = loop.resume()
    assert (s, sorted(state.collect()), resumed_aggs) == (1, sorted(df.collect()), aggs)
    assert out[0].schema == loop.materialize(2, df).schema
    assert sorted(out[0].collect()) == sorted(df.collect())


def _degrees_by_edge_count(g):
    """The definition ``degrees()`` must keep: out-edges counted on the
    edge table, 0 for a vertex with none."""
    d = g.edges.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("deg"))
    return g.vertices().join(d, "vid", "left").select(
        "vid", F.coalesce("deg", F.lit(0).cast("long")).alias("deg")
    )


def test_degrees_equal_edge_count(spark):
    """``degrees()`` reads the cached adjacency's ``deg`` column; it must
    equal the edge count on isolated, duplicate-edge, sink-only and
    multi-chunk hub vertices, one row per vertex."""
    from hugegraph_computer_spark.graph.graph import DEFAULT_ADJ_CHUNK

    def edges(rows):
        return spark.createDataFrame(rows, "src long, dst long")

    spokes = 10_000
    graphs = {
        "isolated": Graph.from_edges(
            edges([(0, 1), (1, 2)]),
            vertices=spark.createDataFrame([(v,) for v in range(6)], "vid long"),
            num_partitions=4,
        ),
        "multiple": Graph.from_edges(
            edges([(0, 1), (0, 1), (1, 2), (2, 2), (3, 0)]),
            edge_freq="multiple", num_partitions=4,
        ),
        "directed": Graph.from_edges(
            edges([(0, 1), (0, 2), (1, 2), (3, 4)]), symmetrize=False, num_partitions=4
        ),
        "star": Graph.from_edges(
            edges([(0, i) for i in range(1, spokes + 1)]), num_partitions=4
        ),
    }
    for name, g in graphs.items():
        got = sorted(tuple(r) for r in g.degrees().collect())
        exp = sorted(tuple(r) for r in _degrees_by_edge_count(g).collect())
        assert got == exp, name
    isolated = dict(tuple(r) for r in graphs["isolated"].degrees().collect())
    assert isolated == {0: 1, 1: 2, 2: 1, 3: 0, 4: 0, 5: 0}
    assert dict(tuple(r) for r in graphs["directed"].degrees().collect())[4] == 0
    star = graphs["star"]
    assert star.adjacency().where("vid = 0").count() == -(-spokes // DEFAULT_ADJ_CHUNK) == 3
    hub = star.degrees().where("vid = 0").collect()
    assert [tuple(r) for r in hub] == [(0, spokes)]


def _plan_node_names(plan) -> list[str]:
    """Node names of a Catalyst plan tree. A cached relation is a leaf
    here: the plan it was built from is not walked."""
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_node_names(kids.apply(i))
    ]


def test_degrees_do_not_rerun_corpus_extraction(spark):
    """On a corpus graph, ``degrees()`` over the cached adjacency must not
    re-run the ingest — no Python UDF evaluation in its plan."""
    from hugegraph_computer_spark.sources.corpus import synth_corpus
    from hugegraph_computer_spark.sources.extract import corpus_graph

    g, _ = corpus_graph(synth_corpus(spark, n_repos=30, files_per_repo=3, seed=3),
                        num_partitions=4)
    g.adjacency().count()
    names = _plan_node_names(g.degrees()._jdf.queryExecution().optimizedPlan())
    python = [n for n in names if n in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")]
    assert not python, names
    assert "InMemoryRelation" in names, names


def test_cosine_topk_broadcasts_queries(spark):
    """The small query side must broadcast — at 10^9 corpus vectors the
    corpus side streams and only the query batch replicates."""
    from hugegraph_computer_spark.operators.similarity import cosine_topk
    from tests.plan_checks import assert_broadcast_join

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = cosine_topk(emb, emb.where(F.col("vec_id") < 2), k=3)
    assert_broadcast_join(q)


def test_pagerank_scatter_has_partial_aggregate(spark):
    """The message combine must partial-aggregate map-side (the reference's
    send-side combiner) — the plan needs two HashAggregates around the
    exchange, not a single post-shuffle aggregate."""
    g = make_graph(spark, random_edges(80, 240, seed=41))
    contrib = g.degrees().select("vid", (1.0 / F.greatest("deg", F.lit(1))).alias("contrib"))
    msgs = g.scatter(contrib).groupBy("dst").agg(F.sum("contrib").alias("s"))
    plan = explain_str(msgs)
    pre_exchange = plan.split("Exchange hashpartitioning(dst", 1)[0]
    assert "HashAggregate" in pre_exchange, plan[:2000]


def test_level_flood_join_no_exchange_on_cached_flat_edges(spark):
    """The per-level frontier ⋈ edges join of the path-flood family
    (betweenness/closeness/rings/links/kcore) must be a ShuffledHashJoin
    building on the cached flat_edges side with no Exchange on it — the
    static side is persisted hash-partitioned by src, so each level
    re-shuffles only the frontier, and SHJ never sorts either input at
    join time (SMJ would re-sort the k·V-row frontier every level). Both
    shapes callers take from the one cached frame — a plain projection
    and a filtered projection — must preserve the property."""
    g = make_graph(spark, random_edges(100, 300, seed=2))
    fe = g.flat_edges()
    fe.count()
    frontier = g.vertices().limit(10).select(
        F.col("vid").alias("source"), F.col("vid"), F.lit(1.0).alias("sigma")
    )
    def static_branch_lines(plan: str) -> list[str]:
        """Lines of the join's RIGHT (static) branch: walk upward from the
        InMemoryTableScan line, collecting ancestors until the join; the
        left branch's lines all carry the ':' tree marker, the right
        branch's do not."""
        lines = plan.splitlines()
        idx = next(i for i, l in enumerate(lines) if "InMemoryTableScan" in l)
        branch = []
        for l in reversed(lines[:idx]):
            if "SortMergeJoin" in l or "ShuffledHashJoin" in l:
                break
            if not l.strip().startswith(":"):
                branch.append(l)
        return branch

    plain = fe.select("src", "dst")
    filtered = fe.where(F.col("src") != F.col("dst")).select("src", "dst")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for static in (plain, filtered):
            joined = frontier.join(static, frontier["vid"] == static["src"])
            assert_no_cartesian(joined)
            plan = explain_str(joined, mode="simple")
            assert "ShuffledHashJoin" in plan, plan[:1800]
            bad = [l for l in static_branch_lines(plan) if "Exchange" in l]
            assert not bad, (bad, plan[:1800])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _ring_flood(name):
    """(run, job dir holding the recorded deltas, row key) for the path
    floods that record per-superstep results beside their frontier."""
    from hugegraph_computer_spark.operators.links import links
    from hugegraph_computer_spark.operators.rings import (
        rings_detection,
        rings_detection_with_filter,
    )

    if name == "rings_detection":
        return rings_detection, "rings_rings", "ring"
    if name == "rings_detection_with_filter":
        return (lambda g, **kw: rings_detection_with_filter(g, {}, **kw),
                "rings_filter_rings", "ring")
    return (lambda g, **kw: links(g, start_cond="vid <= 2", spread_cond="dst > src",
                                  end_vertex_cond="vid >= 5", **kw),
            "links_out", "path")


@pytest.mark.parametrize(
    "name", ["rings_detection", "rings_detection_with_filter", "links"]
)
def test_flood_resume_recomputes_missing_record_step(spark, tmp_path, name):
    """A resume must never skip a superstep whose recorded delta is gone:
    it continues from the deepest superstep with every delta up to it on
    disk and recomputes the rest."""
    from tests.test_round3_features import _ring_graph

    run, rec_job, col = _ring_flood(name)
    g = _ring_graph(spark)
    ck = str(tmp_path)
    full = sorted((r["vid"], tuple(r[col])) for r in run(g, checkpoint_dir=ck).collect())
    gap = os.path.join(ck, rec_job, "superstep=2")
    assert spark.read.parquet(gap).count() > 0, "test vacuous: empty delta"
    shutil.rmtree(gap)
    resumed = sorted(
        (r["vid"], tuple(r[col]))
        for r in run(g, checkpoint_dir=ck, resume=True).collect()
    )
    assert resumed == full


def _flood_runs():
    from hugegraph_computer_spark.operators import (
        betweenness_centrality,
        closeness_centrality,
        node2vec_walks,
        random_walks,
    )

    return {
        "rings": (lambda g, ck: _ring_flood("rings_detection")[0](g, checkpoint_dir=ck),
                  "rings_paths", "in_flight"),
        "links": (lambda g, ck: _ring_flood("links")[0](g, checkpoint_dir=ck),
                  "links_paths", "in_flight"),
        "random_walks": (lambda g, ck: random_walks(g, 2, 4, checkpoint_dir=ck),
                         "random_walks", "in_flight"),
        "node2vec": (lambda g, ck: node2vec_walks(g, 2, 4, checkpoint_dir=ck),
                     "node2vec_walks", "in_flight"),
        "betweenness": (lambda g, ck: betweenness_centrality(g, checkpoint_dir=ck),
                        "betweenness_centrality_levels", "in_flight"),
        "closeness": (lambda g, ck: closeness_centrality(g, checkpoint_dir=ck),
                      "closeness_centrality", "in_flight"),
        "closeness_weighted": (
            lambda g, ck: closeness_centrality(g, weighted=True, checkpoint_dir=ck),
            "closeness_centrality", "improved"),
    }


@pytest.mark.parametrize(
    "name",
    ["rings", "links", "random_walks", "node2vec", "betweenness", "closeness",
     "closeness_weighted"],
)
def test_flood_supersteps_record_metrics(spark, tmp_path, name):
    """Every superstep past 0 of a flood or of weighted closeness commits
    its wall time and its frontier count (or halt aggregate)."""
    from tests.test_round3_features import _ring_graph

    run, job, agg = _flood_runs()[name]
    ck = str(tmp_path)
    run(_ring_graph(spark), ck).collect()
    steps = sorted(int(d.split("=", 1)[1]) for d in os.listdir(os.path.join(ck, job)))
    assert len(steps) >= 3
    for s in steps[1:]:
        with open(os.path.join(ck, job, f"superstep={s}", "_meta.json")) as f:
            meta = json.load(f)
        assert meta["metrics"]["step_sec"] >= 0, (s, meta)
        assert agg in meta["aggregates"], (s, meta)
