"""Job runner CLI — the engine's HugeGraphComputer.main equivalent.

The reference launches jobs as ``start-computer.sh -d conf -r master|worker``
(computer-dist/.../dist/HugeGraphComputer.java:57-82) with the algorithm and
its parameters in a properties file. Spark collapses master+worker into one
driver program, so the CLI is:

    spark-submit --py-files hugegraph_computer_spark.zip \
        -m hugegraph_computer_spark \
        --algorithm page_rank --edges /data/edges.parquet \
        --output /data/ranks --checkpoint-dir /ckpt --resume

or locally: ``python -m hugegraph_computer_spark --algorithm wcc ...``.
Input is either an edge parquet (src, dst[, weight]) or a source-code
corpus parquet (repo, path, commit, lang, content) via ``--corpus``
(imports are extracted and sha256-verified first — the north-rule path).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hugegraph_computer_spark")
    p.add_argument("--algorithm", required=True,
                   help="page_rank | wcc | lpa | triangle_count | "
                        "clustering_coefficient | degree_centrality | "
                        "closeness_centrality | betweenness_centrality | rings | "
                        "ppr | coreness | random_walks | node2vec | "
                        "neighborhood_sample | links")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--edges", help="parquet with (src,dst[,weight])")
    src.add_argument("--corpus", help="parquet with (repo,path,commit,lang,content)")
    p.add_argument("--output", required=True, help="output parquet path")
    p.add_argument("--output-format", default="parquet",
                   choices=["parquet", "csv", "json", "text"])
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--max-supersteps", type=int, default=10)
    p.add_argument("--l1-threshold", type=float, default=1e-6)
    p.add_argument("--alpha", type=float, default=0.15)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--no-symmetrize", action="store_true",
                   help="treat edges as directed (input.vertex_with_edges_bothdirection=true)")
    p.add_argument("--weight-col", default=None)
    p.add_argument("--sources", type=int, default=None,
                   help="sampled source count (closeness/betweenness)")
    p.add_argument("--seed-vertices", default=None,
                   help="ppr: comma-separated vertex ids to personalize to")
    p.add_argument("--walk-length", type=int, default=8,
                   help="random_walks/node2vec: steps per walk")
    p.add_argument("--walks-per-vertex", type=int, default=1,
                   help="random_walks/node2vec: walks started per vertex")
    p.add_argument("--p", type=float, default=1.0,
                   help="node2vec return parameter (1/p return bias)")
    p.add_argument("--q", type=float, default=1.0,
                   help="node2vec in-out parameter (1/q DFS bias)")
    p.add_argument("--fanouts", default="10,5",
                   help="neighborhood_sample: comma-separated per-hop fanouts")
    # Links/Rings condition DSL (SQL boolean exprs over vid / edge columns —
    # the engine's equivalent of the reference's JSON property-filter DSL,
    # links/filter/LinksSpreadFilter.java, rings/filter/*).
    p.add_argument("--start-cond", default=None,
                   help="links: SQL over vid selecting start vertices (required for links)")
    p.add_argument("--spread-cond", default=None,
                   help="links/rings: SQL over edge columns gating each spread")
    p.add_argument("--end-vertex-cond", default=None,
                   help="links: SQL over vid; arriving paths are recorded")
    p.add_argument("--end-edge-cond", default=None,
                   help="links: SQL over edge columns; matching edges record the path")
    return p


# vertex-id columns per algorithm whose output is NOT (vid, value...):
# walk corpora carry vertex ids in start/vid (walk_id is vid*wpv+replica,
# NOT a vertex id), GNN blocks in root/src/dst — joining the first column
# against the id map would silently decode walk ids as repos
VERTEX_COLS = {
    "random_walks": ["start", "vid"],
    "node2vec": ["start", "vid"],
    "neighborhood_sample": ["root", "src", "dst"],
}


def _decode_corpus_ids(result, ids, algorithm: str):
    """Map dense vertex ids back to repo names in every vertex column."""
    from pyspark.sql import functions as F

    vcols = VERTEX_COLS.get(algorithm)
    if vcols is None:
        vid_col = result.columns[0]
        return result.join(ids, result[vid_col] == ids["vid"]).select(
            ids["orig"].alias("repo"), *[result[c] for c in result.columns[1:]]
        )
    for c in vcols:
        m = ids.select(F.col("vid").alias("__v"), F.col("orig").alias("__o"))
        result = (
            result.join(m, result[c] == m["__v"], "left")
            .withColumn(c, F.col("__o"))
            .drop("__v", "__o")
        )
    return result


def algorithm_kwargs(args: argparse.Namespace) -> dict:
    """The keyword arguments the parsed flags select for
    ``ALGORITHMS[args.algorithm]`` (pure: no Spark). Raises ValueError
    for a flag combination the algorithm cannot take."""
    a = args.algorithm
    steps = dict(max_supersteps=args.max_supersteps)
    durable = dict(checkpoint_dir=args.checkpoint_dir, resume=args.resume)
    weighted = args.weight_col is not None
    spread = {} if args.spread_cond is None else dict(spread_cond=args.spread_cond)
    if a == "page_rank":
        kw = dict(alpha=args.alpha, l1_threshold=args.l1_threshold,
                  **steps, **durable)
    elif a in ("wcc", "lpa", "coreness"):
        kw = dict(**steps, **durable)
    elif a == "closeness_centrality":
        kw = dict(sources=args.sources, weighted=weighted, **steps, **durable)
    elif a == "betweenness_centrality":
        kw = dict(sources=args.sources, **durable)
    elif a == "degree_centrality":
        kw = dict(weighted=weighted)
    elif a == "ppr":
        if args.seed_vertices is None:
            raise ValueError("ppr requires --seed-vertices (comma-separated ids)")
        kw = dict(
            sources=[int(v) for v in args.seed_vertices.split(",")],
            alpha=args.alpha,
            supersteps=args.max_supersteps,
            **durable,
        )
    elif a == "links":
        if args.start_cond is None:
            raise ValueError("links requires --start-cond (and optionally "
                             "--spread-cond/--end-vertex-cond/--end-edge-cond)")
        kw = dict(start_cond=args.start_cond, **spread, **steps, **durable)
        if args.end_vertex_cond is not None:
            kw["end_vertex_cond"] = args.end_vertex_cond
        if args.end_edge_cond is not None:
            kw["end_edge_cond"] = args.end_edge_cond
    elif a == "rings":
        kw = dict(**spread, **steps, **durable)
    elif a in ("random_walks", "node2vec"):
        kw = dict(walks_per_vertex=args.walks_per_vertex,
                  walk_length=args.walk_length, **durable)
        if a == "node2vec":
            kw.update(p=args.p, q=args.q)
    elif a == "neighborhood_sample":
        kw = dict(fanouts=tuple(int(x) for x in args.fanouts.split(",")))
    else:  # triangle_count, clustering_coefficient
        kw = {}
    if "checkpoint_dir" not in kw and (args.checkpoint_dir is not None or args.resume):
        raise ValueError(f"{a} does not support --checkpoint-dir/--resume "
                         "(no superstep state)")
    return kw


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from hugegraph_computer_spark.graph.graph import Graph
    from hugegraph_computer_spark.operators import ALGORITHMS
    from hugegraph_computer_spark.session import get_spark
    from hugegraph_computer_spark.sources.extract import corpus_graph
    from hugegraph_computer_spark.sources import outputs

    if args.algorithm not in ALGORITHMS:
        print(f"unknown algorithm {args.algorithm!r}; "
              f"one of {sorted(ALGORITHMS)}", file=sys.stderr)
        return 2
    try:
        kw = algorithm_kwargs(args)
    except ValueError as e:
        print(e, file=sys.stderr)
        return 2

    spark = get_spark(master=args.master, app_name=f"hgc-{args.algorithm}")
    t0 = time.time()
    ids = None
    if args.corpus is not None:
        corpus = spark.read.parquet(args.corpus)
        g, ids = corpus_graph(corpus, symmetrize=not args.no_symmetrize)
    else:
        g = Graph.from_edges(
            spark.read.parquet(args.edges),
            symmetrize=not args.no_symmetrize,
            weight_col=args.weight_col,
        )

    result = ALGORITHMS[args.algorithm](g, **kw)
    if ids is not None:
        result = _decode_corpus_ids(result, ids, args.algorithm)

    if args.output_format == "parquet":
        outputs.table_output(result, args.output)
    elif args.output_format == "text":
        outputs.hdfs_output(result, args.output)
    else:
        outputs.struct_output(result, args.output, fmt=args.output_format)

    n = spark.read.format(
        "parquet" if args.output_format == "parquet" else args.output_format
    ).load(args.output).count() if args.output_format == "parquet" else None
    print(json.dumps({
        "algorithm": args.algorithm,
        "output": args.output,
        "rows": n,
        "seconds": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
