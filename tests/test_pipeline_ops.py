"""Training-data pipeline operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from hugegraph_computer_spark.operators.multimodal import (
    DecoderUnavailable,
    extract_features,
    frame_sample_plan,
    real_decode,
    synth_assets,
)
from hugegraph_computer_spark.operators.similarity import cosine_topk, ivf_topk
from hugegraph_computer_spark.operators.text import lang_id, quality_score, token_stats


def docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    d = docs_df(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c"), (5, "x y"), (6, "zzz")],
    )
    out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(d).collect()}
    assert out == {1: 3, 3: 2, 6: 1}


def test_minhash_finds_near_dups_not_unrelated(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base.replace("lazy", "sleepy")
    other = "completely different words about spark engines and graphs " * 6
    d = docs_df(spark, [(1, base), (2, near), (3, other)])
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(d).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_verifies_candidates(spark):
    d = docs_df(spark, [(1, "a b c d e f"), (2, "a b c d e g"), (3, "q r s t u v")])
    cand = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(d, threshold=0.2, candidates=cand).collect()}
    assert (1, 2) in out and (1, 3) not in out
    # shingles(3) of 6 tokens -> 4 each, overlap 3 of 5 distinct
    assert out[(1, 2)] == pytest.approx(3 / 5)


def test_simhash_hamming_property(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    near = base.replace("delta", "delta2")
    far = "one two three four five six seven eight nine ten " * 4
    d = docs_df(spark, [(1, base), (2, near), (3, far)])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(d).collect()}
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")
    h12, h13, h23 = ham(sigs[1], sigs[2]), ham(sigs[1], sigs[3]), ham(sigs[2], sigs[3])
    assert h12 < min(h13, h23)
    # radius just covering the near pair: banding must surface exactly it
    radius = h12
    assert radius < min(h13, h23)
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             simhash_near_pairs(d, max_hamming=radius).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_exact(spark):
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 16))
    d = emb_df(spark, vecs)
    out = cosine_topk(d, d.where(F.col("vec_id") == 0), k=5).collect()
    got = [r["neighbor_id"] for r in sorted(out, key=lambda r: -r["score"])]
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    exp = [int(i) for i in np.argsort(-np.round(sims, 6))  if i != 0][:5]
    assert got == exp


def test_ivf_topk_subset_of_exact_same_bucket(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 64))
    d = emb_df(spark, vecs)
    approx = ivf_topk(d, d.where(F.col("vec_id") < 4), k=5, n_planes=4, dim=64)
    exact = cosine_topk(d, d.where(F.col("vec_id") < 4), k=60)
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["score"]
                    for r in exact.collect()}
    for r in approx.collect():
        # every approximate hit is a real neighbor with the identical score
        assert exact_scores[(r["query_id"], r["neighbor_id"])] == r["score"]


def test_token_stats_edge_cases(spark):
    d = docs_df(spark, [(1, "Hello,  world!"), (2, "a"), (3, " x ")])
    out = {r["doc_id"]: r for r in token_stats(d).collect()}
    assert out[1]["n_words"] == 2
    assert out[2]["n_tokens"] == 1 and out[2]["avg_token_len"] == 1.0
    assert out[3]["n_chars"] == 3


def test_lang_id_votes(spark):
    d = docs_df(spark, [
        (1, "the cat and the dog is in it"),
        (2, "el que de la y los del se"),
        (3, "der und das ist von mit den"),
        (4, "xyzzy plugh"),
    ])
    out = {r["doc_id"]: r["lang_guess"] for r in lang_id(d).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_score_ranges(spark):
    d = docs_df(spark, [(1, "the quick brown fox and the lazy dog"),
                        (2, "!!! ??? ### $$$")])
    out = {r["doc_id"]: r for r in quality_score(d).collect()}
    assert 0.0 <= out[2]["quality"] < out[1]["quality"] <= 1.0
    assert out[2]["alpha_ratio"] == 0.0


def test_multimodal_features_deterministic_and_stubbed(spark):
    a = synth_assets(spark, n=12, seed=9)
    f1 = {r["asset_id"]: r["feature"] for r in extract_features(a, dim=8).collect()}
    f2 = {r["asset_id"]: r["feature"] for r in extract_features(a, dim=8).collect()}
    assert f1 == f2 and len(f1) == 12 and all(len(v) == 8 for v in f1.values())
    with pytest.raises(DecoderUnavailable):
        real_decode(b"\x00", "image")
    frames = frame_sample_plan(a, every_n=10).collect()
    assert all(r["frame_index"] % 10 == 0 for r in frames)
    assert len(frames) == sum(1 for r in a.collect() if r["modality"] == "video") * 3


def test_output_sinks(spark, tmp_path):
    from hugegraph_computer_spark.sources.outputs import (
        hdfs_output, struct_output, table_output,
    )
    df = spark.createDataFrame([(1, 0.5), (2, 1.5)], "vid long, rank double")
    hdfs_output(df, str(tmp_path / "txt"), delimiter="|")
    lines = sorted(
        r["value"] for r in spark.read.text(str(tmp_path / "txt")).collect()
    )
    assert lines == ["1|0.5", "2|1.5"]
    struct_output(df, str(tmp_path / "json"), fmt="json")
    back = spark.read.json(str(tmp_path / "json"))
    assert back.count() == 2 and set(back.columns) == {"vid", "rank"}
    struct_output(df, str(tmp_path / "csv"), fmt="csv")
    back = spark.read.option("header", True).csv(str(tmp_path / "csv"))
    assert back.count() == 2
    table_output(df, str(tmp_path / "tbl"))
    assert spark.read.parquet(str(tmp_path / "tbl")).count() == 2


SF_PIPE = "/root/testdata/sf0.001"


# ------------------------------------------------ deterministic sampling


def test_deterministic_sample_nested_and_stable(spark):
    """Raising a rate strictly grows the sample (nested property), and
    membership is identical across runs (no RNG/partition-order state)."""
    from hugegraph_computer_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{SF_PIPE}/documents.parquet")
    small = {r["doc_id"] for r in
             deterministic_sample(docs, 0.2).select("doc_id").collect()}
    big = {r["doc_id"] for r in
           deterministic_sample(docs, 0.5).select("doc_id").collect()}
    again = {r["doc_id"] for r in
             deterministic_sample(docs.repartition(7), 0.2)
             .select("doc_id").collect()}
    assert small and small < big          # nested, non-empty, strict
    assert small == again                 # stable under repartitioning
    n = docs.count()
    assert abs(len(big) / n - 0.5) < 0.1  # near the target rate


def test_deterministic_sample_strata_rates(spark):
    """Dict rates gate per stratum; unlisted strata are dropped."""
    from hugegraph_computer_spark.operators.sampling import deterministic_sample

    docs = spark.read.parquet(f"{SF_PIPE}/documents.parquet")
    out = deterministic_sample(docs, {"en": 1.0, "de": 0.0})
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    n_en = docs.where(F.col("lang") == "en").count()
    assert out.count() == n_en            # rate 1.0 keeps every row


def test_export_shards_roundtrip_and_balance(spark, tmp_path):
    """Every doc lands in exactly one shard directory, shard dirs are
    hash-balanced, and a per-shard read prunes to one directory."""
    from hugegraph_computer_spark.operators.sampling import (
        export_shards,
        shard_assign,
    )

    docs = spark.read.parquet(f"{SF_PIPE}/documents.parquet")
    out = str(tmp_path / "shards")
    export_shards(docs, out, n_shards=8)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    sizes = {r["shard"]: r["n"] for r in
             back.groupBy("shard").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) == set(range(8))
    mean = sum(sizes.values()) / 8
    assert max(sizes.values()) < 2 * mean  # hash balance, loose bound
    # the written assignment IS shard_assign's (partition column round-trip)
    expect = {r["doc_id"]: r["shard"] for r in
              shard_assign(docs, 8).select("doc_id", "shard").collect()}
    got = {r["doc_id"]: r["shard"] for r in
           back.select("doc_id", "shard").collect()}
    assert got == expect
    # partition pruning: a shard=3 filter scans one directory
    from tests.plan_checks import explain_str

    plan = explain_str(back.where(F.col("shard") == 3))
    assert "shard=3" in plan or "PartitionFilters" in plan
