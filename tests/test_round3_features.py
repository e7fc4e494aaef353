"""Round-3 feature tests: embedding-LSH bucket cap, single-scan curation
filter, dedup_clusters single-compute, multimodal md5-family oracle parity,
checkpoint-leak hygiene for the pair-generating dedup ops."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.operators.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from hugegraph_computer_spark.operators.multimodal import extract_features, synth_assets
from hugegraph_computer_spark.operators.similarity import (
    embedding_near_dup_pairs,
    ivf_topk,
)
from hugegraph_computer_spark.operators.text import curation_filter, lang_id, quality_score
from tests.plan_checks import count_file_scans

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ------------------------------------------------ embedding-LSH bucket cap
def _planted_cluster_df(spark, k=12, n_noise=30, dim=64):
    """k near-identical vectors (ids 1000+) + n_noise random vectors +
    one true near-dup pair among the noise (ids 0 and 1)."""
    rng = np.random.default_rng(7)
    rows = []
    base0 = rng.standard_normal(dim)
    rows.append((0, base0))
    rows.append((1, base0 + 0.05 * rng.standard_normal(dim)))
    for i in range(2, n_noise):
        rows.append((i, rng.standard_normal(dim)))
    cl = rng.standard_normal(dim)
    for j in range(k):
        rows.append((1000 + j, cl + 1e-4 * rng.standard_normal(dim)))
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def test_embedding_near_dup_max_bucket_caps_cluster(spark):
    df = _planted_cluster_df(spark, k=12)
    uncapped = embedding_near_dup_pairs(
        df, threshold=0.9, n_planes=6, n_tables=4, dim=64
    )
    capped = embedding_near_dup_pairs(
        df, threshold=0.9, n_planes=6, n_tables=4, dim=64, max_bucket=8
    )
    un = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    cluster_pairs_un = {p for p in un if p[0] >= 1000}
    cluster_pairs_cp = {p for p in cp if p[0] >= 1000}
    # uncapped: the 12-vector near-identical cluster yields all 66 pairs
    assert len(cluster_pairs_un) == 66
    # capped at 8: the cluster co-locates in ONE bucket of EVERY table
    # (near-identical vectors share sign patterns), so the fat bucket is
    # dropped everywhere and its quadratic join cost with it
    assert len(cluster_pairs_cp) == 0
    # the genuine small near-dup pair survives the cap
    assert (0, 1) in cp
    # nothing outside the planted cluster was lost
    assert {p for p in un if p[0] < 1000} == {p for p in cp if p[0] < 1000}


def test_ivf_topk_max_bucket_still_answers(spark):
    df = _planted_cluster_df(spark, k=12)
    q = df.where(F.col("vec_id") < 2)
    capped = ivf_topk(
        df, q, k=5, n_planes=6, n_tables=4, dim=64, max_bucket=8
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]) for r in capped}
    # query 0's nearest neighbor (vec 1) is in a thin bucket -> found
    assert (0, 1) in got
    assert (1, 0) in got


# ------------------------------------------------ single-scan curation pass
def test_curation_filter_single_scan_plan(spark):
    docs = _docs(spark)
    out = curation_filter(docs, min_quality=0.5, langs=("en", "de"))
    assert count_file_scans(out, "documents.parquet") == 1


def test_curation_filter_matches_composed_semantics(spark):
    docs = _docs(spark)
    got = {
        (r["doc_id"], r["quality"], r["lang_guess"])
        for r in curation_filter(docs, min_quality=0.5, langs=("en", "de")).collect()
    }
    # re-derive with the separate operators (the pre-r3 composition)
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    lang = {r["doc_id"]: r["lang_guess"] for r in lang_id(docs).collect()}
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", F.md5("text").alias("fp")).collect()
    }
    keep = {}
    for d, f in fp.items():
        keep[f] = min(keep.get(f, d), d)
    want = {
        (d, q[d], lang[d])
        for d in q
        if keep[fp[d]] == d and q[d] >= 0.5 and lang[d] in ("en", "de")
    }
    assert got == want


# --------------------------------------------- dedup_clusters single compute
def test_dedup_clusters_verify_runs_once(spark):
    """The verified-pair frame is checkpointed before the empty guard and
    before WCC — re-running the result must not re-execute LSH+Jaccard.
    Proxy assertion: the returned frame has no parquet scan of documents
    left in its plan (it reads only checkpointed RDDs)."""
    docs = _docs(spark).limit(120)
    out = dedup_clusters(docs, threshold=0.3)
    assert count_file_scans(out, "documents.parquet") == 0
    # and the clustering itself is still right on a planted duplicate set
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (7, "totally different words here now indeed")]
    d2 = spark.createDataFrame(rows, "doc_id long, text string")
    comp = {r["doc_id"]: r["keep_id"] for r in dedup_clusters(d2, threshold=0.3).collect()}
    assert comp[1] == 1 and comp[2] == 1 and comp[7] == 7


def test_pair_ops_release_their_band_checkpoints(spark):
    """minhash_lsh_pairs / simhash_near_pairs copy the (small) pair set out
    and free the banded intermediate; only the returned frame may stay
    pinned (ADVICE r2)."""
    sc = spark.sparkContext
    docs = _docs(spark).limit(100)

    def pinned() -> int:
        return int(sc._jsc.sc().getPersistentRDDs().size())

    base = pinned()
    p1 = minhash_lsh_pairs(docs)
    p2 = simhash_near_pairs(docs, max_hamming=3)
    # each op may pin exactly its returned checkpoint, nothing else
    assert pinned() <= base + 2
    from hugegraph_computer_spark.graph.bsp import release_local_checkpoint

    release_local_checkpoint(p1)
    release_local_checkpoint(p2)
    assert pinned() <= base


def test_dedup_clusters_releases_wcc_cache(spark):
    """Repeated dedup_clusters calls leave nothing cached but the frame
    each returns: the verified-pair graph's cached frames and the WCC
    state the clusters project are freed."""
    from hugegraph_computer_spark.graph.bsp import release_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def held():
        return cache.cachedData().size(), jsc.getPersistentRDDs().size()

    texts = ["alpha beta gamma delta epsilon zeta eta theta",
             "one two three four five six seven eight"]
    rows = [(i, texts[i % 2] if i % 5 else f"unique doc {i} with its own words")
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = held()
    for _ in range(3):
        out = dedup_clusters(docs, threshold=0.3)
        keep = dict(tuple(r) for r in out.collect())
        assert keep[3] == 1 and keep[4] == 2 and keep[5] == 5
        release_local_checkpoint(out)
        now = held()
        assert now[0] <= base[0] and now[1] <= base[1], (base, now)


# -------------------------------------------------- multimodal oracle parity
def test_multimodal_features_match_duckdb_family(spark):
    feats = extract_features(synth_assets(spark, n=8, seed=42), dim=4).collect()
    got = {r["asset_id"]: [round(float(x), 6) for x in r["feature"]] for r in feats}
    for i in range(8):
        payload = hashlib.sha256(f"42:{i}".encode()).digest() * 8
        hexp = payload.hex()
        want = [
            (int(hashlib.md5(f"{hexp}:{j}".encode()).hexdigest()[:15], 16) % 1_000_000)
            / 1e6
            for j in range(4)
        ]
        assert got[i] == pytest.approx(want, abs=1e-6)
    # and DuckDB's sha256/md5 agree with hashlib (engine portability)
    con = duckdb.connect()
    hex0 = con.execute("select repeat(sha256('42:0'), 8)").fetchone()[0]
    assert hex0 == (hashlib.sha256(b"42:0").digest() * 8).hex()


# ---------------------------------------------- path-flood family: resume
import os
import shutil

from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators.betweenness import betweenness_centrality
from hugegraph_computer_spark.operators.links import links
from hugegraph_computer_spark.operators.rings import rings_detection


def _ring_graph(spark):
    # 6-cycle plus a chord: several supersteps of flooding, a few rings
    rows = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1), (2, 5)]
    return Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long")
    )


def _drop_last_step(ck_root: str, job: str, n: int = 1) -> None:
    d = os.path.join(ck_root, job)
    steps = sorted(
        os.listdir(d), key=lambda s: int(s.split("=", 1)[1])
    )
    assert len(steps) >= n + 1, f"expected >= {n+1} snapshots in {job}: {steps}"
    for s in steps[-n:]:
        shutil.rmtree(os.path.join(d, s))


def test_rings_resume_bit_identical(spark, tmp_path):
    g = _ring_graph(spark)
    ck = str(tmp_path / "rings")
    full = sorted(
        (r["vid"], tuple(r["ring"]))
        for r in rings_detection(g, checkpoint_dir=ck).collect()
    )
    # crash simulation: lose the last two in-flight path snapshots (the
    # recorded-ring deltas for those supersteps stay on disk and must be
    # ignored + overwritten by the replay)
    _drop_last_step(ck, "rings_paths", n=2)
    resumed = sorted(
        (r["vid"], tuple(r["ring"]))
        for r in rings_detection(g, checkpoint_dir=ck, resume=True).collect()
    )
    assert resumed == full and len(full) > 0


def test_links_resume_bit_identical(spark, tmp_path):
    g = _ring_graph(spark)
    ck = str(tmp_path / "links")
    kw = dict(
        start_cond="vid <= 2",
        spread_cond="dst > src",
        end_vertex_cond="vid >= 5",
        checkpoint_dir=ck,
    )
    full = sorted(
        (r["vid"], tuple(r["path"])) for r in links(g, **kw).collect()
    )
    _drop_last_step(ck, "links_paths", n=1)
    resumed = sorted(
        (r["vid"], tuple(r["path"]))
        for r in links(g, resume=True, **kw).collect()
    )
    assert resumed == full and len(full) > 0


def test_betweenness_resume_bit_identical(spark, tmp_path):
    g = _ring_graph(spark)
    ck = str(tmp_path / "btw")
    full = {
        r["vid"]: r["betweenness"]
        for r in betweenness_centrality(g, checkpoint_dir=ck).collect()
    }
    _drop_last_step(ck, "betweenness_centrality_levels", n=1)
    resumed = {
        r["vid"]: r["betweenness"]
        for r in betweenness_centrality(g, checkpoint_dir=ck, resume=True).collect()
    }
    assert resumed == full and any(v > 0 for v in full.values())


# ------------------------------------------- properties-combiner policies
def test_props_combiner_policies(spark):
    # duplicates of edge (1,2) with an explicit ingest rank and nulls:
    #   ord 1: NULL, ord 2: 'b', ord 3: 'a', ord 4: NULL
    rows = [
        (1, 2, 1, None),
        (1, 2, 2, "b"),
        (1, 2, 3, "a"),
        (1, 2, 4, None),
    ]
    e = spark.createDataFrame(rows, "src long, dst long, ord long, p string")

    def merged(**kw):
        g = Graph.from_edges(e, properties=["p"], **kw)
        return {
            (r["src"], r["dst"]): r["p"] for r in g.edges.collect()
        }[(1, 2)]

    # reference parity: combine(old, new) — MergeNew keeps old values on
    # conflict (first non-null), MergeOld keeps new (last non-null),
    # Overwrite takes the last duplicate wholesale (nulls included)
    assert merged() == "a"  # default orderless per-column MIN
    assert merged(props_combiner="merge_new", order_col="ord") == "b"
    assert merged(props_combiner="merge_old", order_col="ord") == "a"
    assert merged(props_combiner="overwrite", order_col="ord") is None


def test_props_combiner_requires_order(spark):
    e = spark.createDataFrame([(1, 2, "x")], "src long, dst long, p string")
    with pytest.raises(ValueError):
        Graph.from_edges(e, properties=["p"], props_combiner="merge_new")
    with pytest.raises(ValueError):
        Graph.from_edges(e, properties=["p"], props_combiner="bogus", order_col="p")


# ---------------------------------------------------- UUID id type parity
def test_uuid_dense_ids_unsigned_byte_order(spark):
    """BytesId UUID parity: comparison is UNSIGNED byte order over the 16
    big-endian (msb,lsb) bytes (BytesId.java:79-92, compareTo:174-182) —
    java.util.UUID.compareTo's SIGNED-long order would rank the 0x80/0xff
    msb ids FIRST (negative); the reference ranks them last."""
    from hugegraph_computer_spark.graph.graph import dense_ids

    rows = [
        ("ffffffff-0000-0000-0000-000000000001",),
        ("0fffffff-0000-0000-0000-000000000002",),
        ("80000000-0000-0000-0000-000000000003",),
        ("00000000-0000-0000-0000-00000000000a",),
    ]
    out = dense_ids(
        spark.createDataFrame(rows, "u string"), "u", order="uuid"
    ).orderBy("vid").collect()
    assert [r["orig"][:2] for r in out] == ["00", "0f", "80", "ff"]
    # signed-long order (java.util.UUID.compareTo) would instead yield:
    signed = sorted(
        (r[0] for r in rows),
        key=lambda s: int.from_bytes(bytes.fromhex(s.replace("-", ""))[:8],
                                     "big", signed=True),
    )
    assert [s[:2] for s in signed] == ["80", "ff", "00", "0f"]


def test_wcc_uuid_ids_gate_matches_oracle(spark):
    import __spark_entry__ as entry
    from hugegraph_computer_spark import oracles

    got = {
        r["id"]: r["component"]
        for r in entry.q_wcc_uuid_ids(spark, SF).collect()
    }
    con = duckdb.connect()
    for t in ("supplier", "nation"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    want = {r[0]: r[1] for r in con.execute(oracles.wcc_uuid_ids_sql()).fetchall()}
    assert got == want and len(got) > 0
