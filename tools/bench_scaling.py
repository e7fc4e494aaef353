"""Scaling-efficiency evidence for the north rule (BASELINE.json).

The rule requires throughput scaling efficiency >= 0.8 from N to 4N
executors. This sandbox has one machine, so the stand-in (sanctioned by
BASELINE.md) is the identical PageRank job at two local parallelism
levels — local[8] vs local[32] — on the identical pre-materialized edge
table.

Protocol:
  1. prepare: deterministic synthetic source-code corpus (input_hint shape)
     -> import-edge extraction -> dense ids -> symmetrized distinct edge
     table written once to parquet (shared by both runs).
  2. run (subprocess per level, fresh JVM): read edges, build cached
     adjacency (untimed warmup), run 10 fixed supersteps of
     reference-exact PageRank, time the superstep loop only.
  3. report edges/sec at both levels + efficiency = (tp_4N / tp_N) / 4
     into BENCH.md.

Usage:
  python tools/bench_scaling.py            # full protocol, writes BENCH.md
  python tools/bench_scaling.py --run 8    # single measured run (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

EDGES_PATH = str(REPO / ".bench" / "scaling_edges.parquet")
SUPERSTEPS = 10
N_VERTICES = 4_000_000
N_DIRECTED_EDGES = 48_000_000
ZIPF_A = 2.0


def prepare() -> None:
    """Materialize a large Zipf-skewed link graph, entirely JVM-side.

    The corpus -> import-extraction -> dense-id path is exercised (and
    sha256-verified) by the correctness gate; the scaling measurement needs
    enough edge volume to keep 32 cores busy per superstep, so the edge
    table is synthesized directly with hash-based deterministic columns —
    same shape (power-law in-degree hubs), ~50M directed edges."""
    from pyspark.sql import functions as F

    from hugegraph_computer_spark.session import get_spark

    if os.path.exists(EDGES_PATH):
        return
    spark = get_spark(master="local[32]", app_name="scaling-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.range(0, N_DIRECTED_EDGES, 1, 64)
    u = (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 30)).cast("double")
         / F.lit(float(1 << 30)))
    edges = base.select(
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(N_VERTICES)).alias("src"),
        # rank-biased target: u^a concentrates mass on low ids -> hubs
        F.floor(F.lit(N_VERTICES) * F.pow(u, F.lit(ZIPF_A))).cast("long").alias("dst"),
    ).where(F.col("src") != F.col("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    sym.repartition(64, "src").write.mode("overwrite").parquet(EDGES_PATH)
    spark.stop()


def measured_run(cpus: int) -> dict:
    from hugegraph_computer_spark.session import get_spark
    from hugegraph_computer_spark.graph.graph import Graph
    from hugegraph_computer_spark.operators import pagerank

    spark = get_spark(
        master=f"local[{cpus}]", app_name=f"scaling-{cpus}", shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.read.parquet(EDGES_PATH)
    g = Graph.from_edges(edges, symmetrize=False, dedup=False, num_partitions=cpus)
    # warmup (untimed): materialize the cached adjacency
    n = g.num_vertices()
    g.adjacency().count()
    sym_edges = g.edges.count()
    t0 = time.time()
    pagerank(g, l1_threshold=-1.0, max_supersteps=SUPERSTEPS).count()
    dt = time.time() - t0
    spark.stop()
    return {
        "cpus": cpus,
        "vertices": n,
        "sym_edges": sym_edges,
        "supersteps": SUPERSTEPS,
        "seconds": round(dt, 3),
        "edges_per_sec": round(sym_edges * SUPERSTEPS / dt),
    }


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        print("RESULT " + json.dumps(measured_run(int(sys.argv[2]))))
        return

    levels = (8, 32)
    if len(sys.argv) > 2 and sys.argv[1] == "--levels":
        levels = tuple(int(x) for x in sys.argv[2].split(","))

    prepare()
    results = {}
    for cpus in levels:
        out = subprocess.run(
            [sys.executable, __file__, "--run", str(cpus)],
            capture_output=True, text=True, cwd=str(REPO), timeout=1800,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(out.stdout[-2000:], out.stderr[-2000:])
            raise RuntimeError(f"run at local[{cpus}] failed")
        results[cpus] = json.loads(line[-1][len("RESULT "):])
        print(f"local[{cpus}]: {results[cpus]}")

    lo, hi = levels
    tp8, tp32 = results[lo]["edges_per_sec"], results[hi]["edges_per_sec"]
    eff = tp32 / tp8 / (hi / lo)
    summary = {
        "workload": {
            "n_vertices": N_VERTICES, "directed_edges": N_DIRECTED_EDGES,
            "zipf_a": ZIPF_A, "sym_edges": results[hi]["sym_edges"],
            "supersteps": SUPERSTEPS,
        },
        "local8": results[lo],
        "local32": results[hi],
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(summary))

    # BENCH.md is curated by hand (multiple measurement pairs + analysis);
    # only overwrite when explicitly asked.
    if "--write" not in sys.argv:
        return
    bench_md = REPO / "BENCH.md"
    bench_md.write_text(f"""# BENCH — measured results

## Scaling efficiency (north rule: >=0.8 from N to 4N parallelism)

Identical reference-exact PageRank job ({SUPERSTEPS} fixed supersteps) on
the identical pre-materialized synthetic link graph
({results[hi]['vertices']:,} vertices,
{results[hi]['sym_edges']:,} symmetrized edges, Zipf-skewed in-degree),
measured at two local parallelism levels (sandbox stand-in for N vs 4N
executors per BASELINE.md protocol). Superstep loop only; adjacency
build + cache is untimed warmup in both runs.

| parallelism | seconds | edges/sec |
|---|---|---|
| local[{lo}]  (N)  | {results[lo]['seconds']} | {tp8:,} |
| local[{hi}] (4N) | {results[hi]['seconds']} | {tp32:,} |

**Scaling efficiency = (tp_4N / tp_N) / 4 = {eff:.3f}**

Reproduce: `python tools/bench_scaling.py`

## Headline suite

`python bench.py` (sf0.1, local[32]) — see BENCH_r*.json recorded by the
driver per round.
""")
    print(f"wrote {bench_md}")


if __name__ == "__main__":
    main()
