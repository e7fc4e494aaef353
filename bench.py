"""The bench harness: one entry point, one JSON line per run.

    python bench.py [--suite headline|late|volume|ann|scaling|cluster]
                    [--rows N] [--factor F] [--queries Q]

Every suite prints one JSON line with the same envelope:

    {"suite": ..., "metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: best sec, ...}, "cpus": n, ...suite extras}

Suites:

* ``headline`` (default): 27 named queries on the TPC-H link graphs and
  corpus tables at ``$SPARK_GRAFT_SF_DIR``. The headline graph job is
  reference-exact PageRank to 1e-6 L1 on the customer-supplier link graph
  (BASELINE.md operative metric); the rest covers each operator family
  once. Extras: ``sf``, ``trials`` (per-pass totals) and ``pagerank``
  (supersteps actually executed, ``sym_edges``, ``edges_per_sec``).
* ``late``: the late-round operators (walks, GNN sampling, PPR,
  decontamination, text signals) from the same query table.
* ``volume``: the dedup/ANN operators on ``--rows`` synthetic docs
  (``rows/2`` vectors) and on ``--factor`` times that; extras
  ``scaling`` (rows/sec and the throughput ratio per operator) and
  ``bucket_cap`` (embedding near-dup on a planted degenerate cluster,
  capped vs uncapped).
* ``ann``: recall@10 of ``ivf_topk`` against ``cosine_topk`` over
  ``--rows`` vectors and ``--queries`` query vectors, swept over
  n_tables × n_probes; extra ``configs``.
* ``scaling``: the identical fixed-superstep PageRank on one prepared
  Zipf edge table (``--rows`` directed edges) at ``local[cpus/factor]``
  and ``local[cpus]``, each in a fresh JVM; extra ``scaling_efficiency``
  = (tp_hi / tp_lo) / factor.
* ``cluster``: the same run at process granularity, through the real
  ``spark-submit --py-files`` launch: ``local-cluster[1, cpus/factor]``
  vs ``local-cluster[factor, cpus/factor]`` executor JVMs.

Environment: ``SPARK_GRAFT_SF_DIR`` (headline, late), ``SPARK_GRAFT_CPUS``
(the most cores any run uses; default 32) and ``SPARK_GRAFT_TRIALS``
(best-of-N, default 3). Noise control: run-to-run spread on a shared
host was measured at up to 1.6× on identical trials (BENCH.md), so
every timing is the best of N passes in one session (a fresh JVM per
pass for scaling and cluster). The first pass is cold (OS page cache), later ones warm;
best-of picks the reproducible floor.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from hugegraph_computer_spark.graph.bsp import release_local_checkpoint  # noqa: E402
from hugegraph_computer_spark.graph.graph import Graph  # noqa: E402
from hugegraph_computer_spark.operators import (  # noqa: E402
    betweenness_centrality,
    closeness_centrality,
    degree_centrality,
    lpa,
    pagerank,
    neighborhood_sample,
    node2vec_walks,
    random_walks,
    rings_count,
    skipgram_pairs,
    triangle_count,
    wcc,
)
from hugegraph_computer_spark.operators.dedup import (  # noqa: E402
    decontaminate,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    simhash,
)
from hugegraph_computer_spark.operators.events import (  # noqa: E402
    sessionize,
    window_dedup,
)
from hugegraph_computer_spark.operators.pagerank import personalized_pagerank  # noqa: E402
from hugegraph_computer_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_topk,
)
from hugegraph_computer_spark.operators.text import (  # noqa: E402
    chunk_documents,
    curation_filter,
    lang_id,
    quality_score,
    repetition_stats,
    tfidf_topk,
    token_stats,
)
from hugegraph_computer_spark.session import get_spark  # noqa: E402
from hugegraph_computer_spark.sources.tpch_graph import (  # noqa: E402
    copurchase_edges,
    customer_supplier_edges,
    nation_same_region_edges,
)

HEADLINE = (
    "graph_build", "pagerank_1e6", "wcc", "lpa", "degree_centrality",
    "closeness_32src", "betweenness_16src", "betweenness_64src",
    "random_walks_skipgram", "node2vec_walks", "neighborhood_sample",
    "triangle_count", "triangle_intersect", "rings_count",
    "exact_dedup", "minhash_lsh_pairs", "dedup_clusters", "simhash",
    "token_stats", "quality_score", "lang_id", "curation_filter",
    "decontaminate", "cosine_topk", "ivf_topk_multitable",
    "sessionize", "window_dedup",
)
LATE = (
    "graph_build", "neighborhood_sample", "random_walks_skipgram",
    "node2vec_walks", "ppr", "decontaminate", "repetition_stats",
    "tfidf_topk", "chunk_documents",
)
NAMED = {
    "headline": (HEADLINE, "headline suite seconds (pagerank@1e-6 + graph suite "
                 "+ pipeline ops; best-of-%d)"),
    "late": (LATE, "late-operator suite seconds (walks, sampling, PPR, text; "
             "best-of-%d)"),
}
# (--rows, --factor) defaults of the synthetic suites
DEFAULTS = {
    "volume": (50_000, 10),
    "ann": (250_000, None),
    "scaling": (48_000_000, 4),
    "cluster": (48_000_000, 4),
}
SUPERSTEPS = 10  # fixed PageRank supersteps of the scaling runs
ZIPF_A = 2.0
EDGES_PER_VERTEX = 12
# Per-executor heap of the cluster suite. The 1-executor level must hold
# the ENTIRE cached adjacency in its own heap: 8g OOMs (executor exit
# code 52) on the 96M-edge graph, 16g holds it with execution headroom.
# Kept constant across cluster sizes: on a real cluster, scaling from N
# to 4N executors scales total memory too; per-executor memory is the
# controlled variable.
EXEC_MEM_MB = 16384
DIM = 64
K = 10
VOCAB = 2000
DOC_WORDS = 30
PLANTED_CLUSTER = 2000  # volume: ids sharing one vector (bucket-cap input)


# ---- shared by every suite ----------------------------------------------

def session(cpus: int):
    """``local[cpus]`` with ``cpus`` shuffle partitions. Under
    spark-submit the submitted master wins (``get_spark`` keeps it)."""
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    spark = get_spark(
        master=None if submitted else f"local[{cpus}]",
        app_name="hgc-spark-bench", shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def consume(df) -> None:
    """Force FULL computation of every column. ``count()`` lets Catalyst
    prune computed columns (a select-only op then measures a parquet
    scan, not the operator — r1's simhash line was such a no-op), so
    one-shot transforms are sunk into the noop writer."""
    df.write.format("noop").mode("overwrite").save()


def best_of(trials: int, one_pass) -> tuple[dict, list[dict]]:
    """Run ``one_pass() -> {name: sec}`` ``trials`` times; return the
    per-name minimum and every pass."""
    passes = [one_pass() for _ in range(trials)]
    return {k: min(p[k] for p in passes) for k in passes[0]}, passes


def envelope(suite: str, metric: str, best: dict, cpus: int, **extra) -> dict:
    return {
        "suite": suite, "metric": metric,
        "value": round(sum(best.values()), 3), "unit": "sec",
        "queries": best, "cpus": cpus, **extra,
    }


# ---- headline / late: one table of named queries --------------------------

def query_table(spark, sf_dir: str, pr_stats: dict) -> tuple[dict, list[Graph]]:
    """Every named query closure over one pass's inputs at ``sf_dir``; a
    suite is a list of names from it. The inputs are read and the graphs
    built here, untimed (building is lazy: ``graph_build`` times the
    adjacency). Also returns the graphs, customer-supplier first."""
    def read(table: str):
        return spark.read.parquet(f"{sf_dir}/{table}.parquet")

    docs, emb, events = read("documents"), read("embeddings"), read("events")
    g = Graph.from_edges(customer_supplier_edges(spark, sf_dir))
    g_cp = Graph.from_edges(copurchase_edges(spark, sf_dir), drop_self_loops=True)
    g_nation = Graph.from_edges(nation_same_region_edges(spark, sf_dir))
    table = {
        "graph_build": lambda: (g.adjacency().count(), g.num_vertices()),
        "pagerank_1e6": lambda: pagerank(
            g, l1_threshold=1e-6, max_supersteps=10, stats_out=pr_stats
        ).count(),
        "wcc": lambda: wcc(g).count(),
        "lpa": lambda: lpa(g).count(),
        "degree_centrality": lambda: degree_centrality(g).count(),
        "closeness_32src": lambda: closeness_centrality(g, sources=32).count(),
        "betweenness_16src": lambda: betweenness_centrality(
            g, sources=16, max_depth=12
        ).count(),
        # 4x the sources in the SAME long-format level frames: per-level job
        # overhead amortizes over source count (per-source time must drop
        # vs 16src, proving that line is overhead-bound, not data-bound)
        "betweenness_64src": lambda: betweenness_centrality(
            g, sources=64, max_depth=12
        ).count(),
        # walk corpus + skip-gram extraction: the walk loop shuffles only
        # the frontier against the cached neighbor arrays; the pair join is
        # skew-free by construction (bounded rows per walk_id)
        "random_walks_skipgram": lambda: consume(skipgram_pairs(
            random_walks(g, walks_per_vertex=4, walk_length=8), window=2
        )),
        # biased 2nd-order walks: the weighted counterpart of the line above
        "node2vec_walks": lambda: consume(node2vec_walks(
            g, walks_per_vertex=2, walk_length=6, p=0.25, q=4.0
        )),
        # GNN mini-batch blocks: per-row rank/sort/slice kernel over the
        # cached neighbor arrays, one distinct-frontier shuffle per hop
        "neighborhood_sample": lambda: consume(
            neighborhood_sample(g, fanouts=(10, 5))
        ),
        "ppr": lambda: consume(personalized_pagerank(
            g, g.degrees().where(F.col("vid") % 50 == 0).select("vid"),
            supersteps=6,
        )),
        "triangle_count": lambda: triangle_count(g_cp).count(),  # oriented default
        "triangle_intersect": lambda: triangle_count(
            g_cp, algorithm="intersect"
        ).count(),
        "rings_count": lambda: rings_count(g_nation).count(),
        # training-data pipeline (noop-sunk: full column computation)
        "exact_dedup": lambda: consume(exact_dedup(docs)),
        "minhash_lsh_pairs": lambda: consume(minhash_lsh_pairs(docs)),
        "dedup_clusters": lambda: consume(dedup_clusters(docs, threshold=0.3)),
        "simhash": lambda: consume(simhash(docs)),
        "token_stats": lambda: consume(token_stats(docs)),
        "quality_score": lambda: consume(quality_score(docs)),
        "lang_id": lambda: consume(lang_id(docs)),
        "curation_filter": lambda: consume(
            curation_filter(docs, min_quality=0.5, langs=("en", "de"))
        ),
        # eval-leakage check: distinct benchmark gram set broadcast, one
        # explode + probe + doc_id shuffle on the train side
        "decontaminate": lambda: consume(decontaminate(
            docs.where(F.col("doc_id") % 20 != 0),
            docs.where(F.col("doc_id") % 20 == 0),
            shingle_n=5,
        )),
        "repetition_stats": lambda: consume(repetition_stats(docs)),
        "tfidf_topk": lambda: consume(tfidf_topk(docs, k=5)),
        "chunk_documents": lambda: consume(
            chunk_documents(docs, max_tokens=128, overlap=16)
        ),
        "cosine_topk": lambda: consume(
            cosine_topk(emb, emb.where(F.col("vec_id") < 8), k=10)
        ),
        "ivf_topk_multitable": lambda: consume(ivf_topk(
            emb, emb.where(F.col("vec_id") < 8), k=10,
            n_planes=6, n_tables=4, dim=64,
        )),
        "sessionize": lambda: consume(sessionize(events)),
        "window_dedup": lambda: consume(window_dedup(events)),
    }
    return table, [g, g_cp, g_nation]


def run_named(suite: str, sf_dir: str, cpus: int, trials: int) -> dict:
    names, metric = NAMED[suite]
    spark = session(cpus)
    extras: list[dict] = []

    def one_pass() -> dict:
        pr_stats: dict = {}
        table, graphs = query_table(spark, sf_dir, pr_stats)
        timings = {name: timed(table[name]) for name in names}
        if "pagerank_1e6" in timings:
            sym_edges = int(graphs[0].edges.count())
            supersteps = int(pr_stats.get("supersteps", 10))
            extras.append({
                "supersteps": supersteps,
                "sym_edges": sym_edges,
                "edges_per_sec": round(sym_edges * supersteps / timings["pagerank_1e6"]),
                "seconds": timings["pagerank_1e6"],
            })
        for graph in graphs:
            graph.unpersist()
        return timings

    best, passes = best_of(trials, one_pass)
    spark.stop()
    out = envelope(
        suite, metric % trials, best, cpus,
        sf=sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        trials=[round(sum(p.values()), 3) for p in passes],
    )
    if extras:
        # pagerank stats from the pass with the best pagerank time
        out["pagerank"] = min(extras, key=lambda e: e["seconds"])
    return out


# ---- volume / ann: synthetic pipeline inputs ------------------------------

def synth_docs(spark, n: int):
    """n docs of 30 hash-derived words; every 20th doc (id % 20 == 19)
    copies its predecessor's seed: a planted near-duplicate."""
    seed = F.when(F.col("id") % 20 == 19, F.col("id") - 1).otherwise(F.col("id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(DOC_WORDS - 1)),
        lambda j: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(seed * DOC_WORDS + j), F.lit(VOCAB)).cast("string"),
        ),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )


def synth_vectors(spark, n: int, cluster: int = 0):
    """n deterministic dim-64 vectors. Ids with id % 20 == 19 reuse the
    seed of id - 1 plus small hash jitter: planted near neighbours. With
    ``cluster``, the last ``cluster`` ids all share one seed: the
    degenerate near-identical cluster that makes uncapped LSH buckets
    quadratic."""
    vid = F.col("id")
    seed = F.when(vid % 20 == 19, vid - 1).otherwise(vid)
    if cluster:
        seed = F.when(vid >= n - cluster, F.lit(n - cluster)).otherwise(seed)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            (F.pmod(F.xxhash64(seed * DIM + j), F.lit(2000)) - 1000.0) / 1000.0
            + (F.pmod(F.xxhash64(vid * DIM + j, F.lit("jit")), F.lit(100)) - 50.0)
            / 2500.0
        ).cast("float"),
    )
    return spark.range(n).select(vid.alias("vec_id"), vec.alias("embedding"))


def run_volume(rows: int, factor: int, cpus: int, trials: int) -> dict:
    """Rows/sec of the dedup/ANN operators at two data volumes: a ratio
    near 1.0 means the operator scales linearly in rows, the LSH design
    goal (banded bucket joins, no all-pairs term). Inputs are
    localCheckpointed before any clock starts."""
    spark = session(cpus)
    levels = {"lo": rows, "hi": rows * factor}
    data = {
        tag: (synth_docs(spark, n).localCheckpoint(eager=True),
              synth_vectors(spark, n // 2).localCheckpoint(eager=True))
        for tag, n in levels.items()
    }
    fat = synth_vectors(spark, rows, cluster=PLANTED_CLUSTER).localCheckpoint(eager=True)

    def one_pass() -> dict:
        t = {}
        for tag, (docs, vecs) in data.items():
            q = vecs.where(F.col("vec_id") < 8)
            t[f"minhash_lsh_pairs@{tag}"] = timed(
                lambda: consume(minhash_lsh_pairs(docs, max_bucket=200)))
            t[f"dedup_clusters@{tag}"] = timed(lambda: consume(
                dedup_clusters(docs, threshold=0.5, max_bucket=200)))
            t[f"ivf_topk@{tag}"] = timed(lambda: consume(ivf_topk(
                vecs, q, k=K, n_planes=8, n_tables=4, dim=DIM, max_bucket=4096)))
        t["near_dup_capped"] = timed(lambda: consume(embedding_near_dup_pairs(
            fat, threshold=0.95, n_planes=8, n_tables=4, dim=DIM, max_bucket=256)))
        t["near_dup_uncapped"] = timed(lambda: consume(embedding_near_dup_pairs(
            fat, threshold=0.95, n_planes=8, n_tables=4, dim=DIM)))
        return t

    best, _ = best_of(trials, one_pass)
    for df in [*(d for pair in data.values() for d in pair), fat]:
        release_local_checkpoint(df)
    spark.stop()
    scaling = {}
    for op in ("minhash_lsh_pairs", "dedup_clusters", "ivf_topk"):
        per = 2 if op == "ivf_topk" else 1  # ivf rows are the rows/2 vectors
        lo = levels["lo"] // per / best[f"{op}@lo"]
        hi = levels["hi"] // per / best[f"{op}@hi"]
        scaling[op] = {
            "rows_per_sec_lo": round(lo), "rows_per_sec_hi": round(hi),
            "throughput_ratio_hi_over_lo": round(hi / lo, 3),
        }
    return envelope(
        "volume",
        f"dedup/ANN seconds at {rows} and {rows * factor} docs (best-of-{trials})",
        best, cpus, rows=rows, factor=factor, scaling=scaling,
        bucket_cap={"n_vecs": rows, "planted_cluster": PLANTED_CLUSTER,
                    "capped_sec": best["near_dup_capped"],
                    "uncapped_sec": best["near_dup_uncapped"]},
    )


def ann_query_ids(n: int, n_queries: int) -> list[int]:
    """``n_queries`` vector ids, one per stride of ``n // n_queries``, at
    offset 7 within the stride (mod the stride, so short strides still
    pick one id each); the default 250k/32 sweep keeps its query ids."""
    if n_queries < 1 or n < n_queries:
        raise ValueError(f"need 1 <= n_queries <= n, got {n_queries} queries over {n}")
    step = n // n_queries
    return [i * step + 7 % step for i in range(n_queries)]


def run_ann(rows: int, n_queries: int, cpus: int, trials: int) -> dict:
    """Recall/throughput frontier of ``ivf_topk`` over the two knobs the
    operator documents as the trade (operators/similarity.py): n_tables
    (independent hyperplane tables) and n_probes (Hamming-1 multi-probe).
    Brute-force ground truth comes from ``cosine_topk``."""
    spark = session(cpus)
    emb = synth_vectors(spark, rows).localCheckpoint(eager=True)
    queries = emb.where(
        F.col("vec_id").isin(ann_query_ids(rows, n_queries))
    ).localCheckpoint(eager=True)
    grid = [(t, p) for t in (1, 2, 4, 8) for p in (1, 4)]

    def ivf(n_tables: int, n_probes: int):
        return lambda: ivf_topk(emb, queries, k=K, n_planes=8, n_tables=n_tables,
                                n_probes=n_probes, dim=DIM)

    searches = {"brute_force": lambda: cosine_topk(emb, queries, k=K)}
    searches.update({f"ivf_t{t}_p{p}": ivf(t, p) for t, p in grid})
    found: dict[str, set] = {}

    def search(name: str) -> None:
        found[name] = {(r["query_id"], r["neighbor_id"])
                       for r in searches[name]().collect()}

    def one_pass() -> dict:
        return {name: timed(lambda: search(name)) for name in searches}

    best, _ = best_of(trials, one_pass)
    release_local_checkpoint(queries)
    release_local_checkpoint(emb)
    spark.stop()
    truth = found["brute_force"]
    configs = [
        {"n_tables": nt, "n_probes": npr,
         "recall_at_10": round(len(found[f"ivf_t{nt}_p{npr}"] & truth) / len(truth), 4),
         "sec": best[f"ivf_t{nt}_p{npr}"],
         "speedup_vs_brute": round(best["brute_force"] / best[f"ivf_t{nt}_p{npr}"], 2)}
        for nt, npr in grid
    ]
    return envelope(
        "ann", f"ivf_topk recall sweep seconds over {rows} vectors (best-of-{trials})",
        best, cpus, n_vectors=rows, n_queries=n_queries, dim=DIM, k=K,
        configs=configs,
    )


# ---- scaling / cluster: one PageRank run per JVM --------------------------

def edges_path(rows: int) -> str:
    return str(REPO / ".bench" / f"scaling_edges_{rows}.parquet")


def prepare(spark, path: str, rows: int) -> None:
    """Write the Zipf-skewed symmetrised link graph (``rows`` directed
    edges over rows/12 vertices) once, entirely JVM-side. Same shape as
    the corpus link graph (power-law in-degree hubs), with enough edge
    volume to keep every core busy per superstep. A table without
    ``_SUCCESS`` is a killed earlier prepare and is written again."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    n_vertices = max(2, rows // EDGES_PER_VERTEX)
    u = (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 30)).cast("double")
         / F.lit(float(1 << 30)))
    edges = spark.range(0, rows, 1, 64).select(
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_vertices)).alias("src"),
        # rank-biased target: u^a concentrates mass on low ids -> hubs
        F.floor(F.lit(n_vertices) * F.pow(u, F.lit(ZIPF_A))).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    sym.repartition(64, "src").write.mode("overwrite").parquet(path)


def measure_pagerank(rows: int, cpus: int) -> dict:
    """One measured run: read the prepared edges, build the cached
    adjacency untimed, then time ``SUPERSTEPS`` fixed PageRank supersteps."""
    spark = session(cpus)
    g = Graph.from_edges(spark.read.parquet(edges_path(rows)),
                         symmetrize=False, edge_freq="multiple",
                         num_partitions=cpus)
    n = g.num_vertices()
    g.adjacency().count()
    sym_edges = g.edges.count()
    sec = timed(lambda: pagerank(g, l1_threshold=-1.0, max_supersteps=SUPERSTEPS).count())
    out = {
        "master": spark.conf.get("spark.master"), "cpus": cpus, "vertices": n,
        "sym_edges": sym_edges, "supersteps": SUPERSTEPS, "seconds": sec,
        "edges_per_sec": round(sym_edges * SUPERSTEPS / sec),
    }
    spark.stop()
    return out


def spawn(launch: list[str], cpus: int, rows: int) -> dict:
    """Run ``measure_pagerank`` in a fresh JVM through ``launch``."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    out = subprocess.run(
        [*launch, __file__, "--measure", "--rows", str(rows)],
        capture_output=True, text=True, cwd=str(REPO), timeout=1800, env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    if not lines:
        print(out.stdout[-3000:], out.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"measured run {launch[:3]} at {cpus} cores failed")
    return json.loads(lines[-1][len("RESULT "):])


def run_scaling(suite: str, rows: int, factor: int, cpus: int, trials: int) -> dict:
    """N vs factor·N: the same job on the same prepared table.
    ``scaling`` varies the cores of one local JVM; ``cluster`` varies the
    number of executor JVMs (``local-cluster`` via the real spark-submit
    ``--py-files`` path, where ``get_spark`` keeps the submitted master)."""
    if cpus % factor:
        raise ValueError(f"SPARK_GRAFT_CPUS={cpus} is not a multiple of --factor {factor}")
    path = edges_path(rows)
    spark = session(cpus)
    prepare(spark, path, rows)
    spark.stop()
    low = cpus // factor
    if suite == "scaling":
        levels = {f"local[{c}]": ([sys.executable], c) for c in (low, cpus)}
    else:
        import pyspark

        from tools.make_zip import make_zip

        submit = [
            os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"),
            # local-cluster's third parameter is only the worker's OFFER; the
            # executor heap is spark.executor.memory (default 1g)
            "--conf", f"spark.executor.memory={EXEC_MEM_MB}m",
            "--driver-memory", "6g", "--conf", "spark.ui.enabled=false",
            "--py-files", str(make_zip()),
        ]
        levels = {
            f"local-cluster[{n},{low}]":
                (submit + ["--master", f"local-cluster[{n},{low},{EXEC_MEM_MB}]"], n * low)
            for n in (1, factor)
        }
    runs: dict[str, dict] = {}

    def one_pass() -> dict:
        t = {}
        for name, (launch, c) in levels.items():
            r = spawn(launch, c, rows)
            print(f"# {name}: {r}", file=sys.stderr)
            if name not in runs or r["seconds"] < runs[name]["seconds"]:
                runs[name] = r
            t[name] = r["seconds"]
        return t

    best, _ = best_of(trials, one_pass)
    lo, hi = (runs[name]["edges_per_sec"] for name in levels)
    return envelope(
        suite,
        f"fixed {SUPERSTEPS}-superstep PageRank seconds, N vs {factor}N "
        f"(best-of-{trials}, fresh JVM per run)",
        best, cpus, rows=rows, runs=runs,
        scaling_efficiency=round(hi / lo / factor, 3),
    )


def main() -> dict | None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--suite", default="headline",
                   choices=(*NAMED, *DEFAULTS))
    p.add_argument("--rows", type=int, help="synthetic input rows: docs (volume), "
                   "vectors (ann), directed edges (scaling, cluster)")
    p.add_argument("--factor", type=int, help="ratio of the two measured points: "
                   "data volume (volume), cores (scaling), executors (cluster)")
    p.add_argument("--queries", type=int, default=32, help="ann: query vectors")
    p.add_argument("--measure", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    if args.measure:
        print("RESULT " + json.dumps(measure_pagerank(args.rows, cpus)))
        return None
    if args.suite in NAMED:
        return run_named(args.suite, sf_dir, cpus, n_trials)
    rows, factor = DEFAULTS[args.suite]
    rows, factor = args.rows or rows, args.factor or factor
    if args.suite == "volume":
        return run_volume(rows, factor, cpus, n_trials)
    if args.suite == "ann":
        return run_ann(rows, args.queries, cpus, n_trials)
    return run_scaling(args.suite, rows, factor, cpus, n_trials)


if __name__ == "__main__":
    result = main()
    if result is not None:
        print(json.dumps(result))
