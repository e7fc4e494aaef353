"""Round-4 tests: closeness kill/resume for BOTH state layouts, stale
snapshot-dir purge on fresh runs, resume-gap fallback (contiguous-prefix
replay), Aviator builtin functions, nil semantics, and the real PPM/WAV
decoders."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.bsp import SuperstepLoop
from hugegraph_computer_spark.graph.graph import Graph
from hugegraph_computer_spark.operators.betweenness import betweenness_centrality
from hugegraph_computer_spark.operators.closeness import closeness_centrality
from hugegraph_computer_spark.operators.wcc import wcc


def _chain_graph(spark, n=10, weighted=False):
    """Path graph 0-1-...-n-1 (diameter n-1: many supersteps) with
    deterministic weights when asked."""
    rows = [
        (i, i + 1, float(1 + (i % 3))) if weighted else (i, i + 1, 1.0)
        for i in range(n - 1)
    ]
    df = spark.createDataFrame(rows, "src long, dst long, weight double")
    return Graph.from_edges(df)


def _drop_last_step(ck_root: str, job: str, n: int = 1) -> None:
    d = os.path.join(ck_root, job)
    steps = sorted(os.listdir(d), key=lambda s: int(s.split("=", 1)[1]))
    assert len(steps) >= n + 1, f"expected >= {n+1} snapshots in {job}: {steps}"
    for s in steps[-n:]:
        shutil.rmtree(os.path.join(d, s))


# ------------------------------------------------ closeness kill/resume
def test_closeness_unweighted_resume_bit_identical(spark, tmp_path):
    g = _chain_graph(spark, n=9)
    ck = str(tmp_path / "cc")
    full = {
        r["vid"]: r["closeness"]
        for r in closeness_centrality(g, checkpoint_dir=ck, job_name="cc4").collect()
    }
    _drop_last_step(ck, "cc4", n=2)
    resumed = {
        r["vid"]: r["closeness"]
        for r in closeness_centrality(
            g, checkpoint_dir=ck, job_name="cc4", resume=True
        ).collect()
    }
    assert resumed == full and any(v > 0 for v in full.values())


def test_closeness_weighted_resume_bit_identical(spark, tmp_path):
    g = _chain_graph(spark, n=8, weighted=True)
    ck = str(tmp_path / "ccw")
    kw = dict(weighted=True, checkpoint_dir=ck, job_name="ccw4")
    full = {
        r["vid"]: r["closeness"] for r in closeness_centrality(g, **kw).collect()
    }
    _drop_last_step(ck, "ccw4", n=1)
    resumed = {
        r["vid"]: r["closeness"]
        for r in closeness_centrality(g, resume=True, **kw).collect()
    }
    assert resumed == full and any(v > 0 for v in full.values())


def test_closeness_delta_layout_forces_durable_every_step(spark, tmp_path):
    """Every unweighted superstep's delta must be durable — a skipped
    snapshot would silently drop settled pairs on resume (ADVICE r3 #1)."""
    g = _chain_graph(spark, n=7)
    ck = str(tmp_path / "ccE")
    closeness_centrality(g, checkpoint_dir=ck, job_name="ccE4").collect()
    steps = sorted(
        int(s.split("=", 1)[1]) for s in os.listdir(os.path.join(ck, "ccE4"))
    )
    assert steps == list(range(len(steps))) and len(steps) >= 4


# --------------------------------------- stale snapshot purge (ADVICE r3 #2)
def test_fresh_run_purges_stale_deeper_snapshots(spark, tmp_path):
    """A fresh (resume=False) run must not leave a prior LONGER run's
    deeper snapshots behind — a later resume would union two runs'
    states."""
    g_long = _chain_graph(spark, n=10)
    g_short = _chain_graph(spark, n=4)
    ck = str(tmp_path / "purge")
    closeness_centrality(g_long, checkpoint_dir=ck, job_name="p4").collect()
    long_steps = len(os.listdir(os.path.join(ck, "p4")))
    closeness_centrality(g_short, checkpoint_dir=ck, job_name="p4").collect()
    short_steps = len(os.listdir(os.path.join(ck, "p4")))
    assert short_steps < long_steps  # stale deeper steps are GONE
    # and a resume after the fresh short run reproduces the short result
    full = {
        r["vid"]: r["closeness"]
        for r in closeness_centrality(g_short, job_name="p4x").collect()
    }
    resumed = {
        r["vid"]: r["closeness"]
        for r in closeness_centrality(
            g_short, checkpoint_dir=ck, job_name="p4", resume=True
        ).collect()
    }
    assert resumed == full


def test_wcc_fresh_run_purges_job_dir(spark, tmp_path):
    ck = str(tmp_path)
    g = _chain_graph(spark, n=6)
    wcc(g, checkpoint_dir=ck)
    marker = os.path.join(ck, "wcc", "superstep=999")
    os.makedirs(marker)
    open(os.path.join(marker, "_meta.json"), "w").write("{}")
    wcc(g, checkpoint_dir=ck)  # fresh run purges the whole job dir
    assert not os.path.exists(marker)


# --------------------------------- resume gap fallback (ADVICE r3 #3)
def test_betweenness_resume_with_gap_falls_back_to_prefix(spark, tmp_path):
    g = _chain_graph(spark, n=8)
    ck = str(tmp_path / "btw")
    full = {
        r["vid"]: r["betweenness"]
        for r in betweenness_centrality(g, checkpoint_dir=ck).collect()
    }
    # manufacture a non-contiguous dir: drop a MIDDLE level, keep deeper ones
    job = os.path.join(ck, "betweenness_centrality_levels")
    steps = sorted(os.listdir(job), key=lambda s: int(s.split("=", 1)[1]))
    assert len(steps) >= 4
    shutil.rmtree(os.path.join(job, steps[2]))
    resumed = {
        r["vid"]: r["betweenness"]
        for r in betweenness_centrality(
            g, checkpoint_dir=ck, resume=True
        ).collect()
    }
    # levels past the gap must be discarded, then recomputed — results match
    assert resumed == full and any(v > 0 for v in full.values())


# --------------------------------- LinksValue edge-id chains (r3 missing #4)
def test_links_edge_id_chains_distinguish_parallel_edges(spark):
    """The reference's LinksValue records the edge-id chain alongside the
    vertex path (Links.java:30-130) — under MULTIPLE edge frequency two
    parallel edges yield two distinct recorded paths."""
    from hugegraph_computer_spark.operators.links import links

    edges = spark.createDataFrame(
        [(1, 2, "a"), (1, 2, "b"), (2, 3, "c")],
        "src long, dst long, eid string",
    )
    g = Graph.from_edges(
        edges, symmetrize=False, edge_freq="multiple", properties=["eid"]
    )
    out = links(
        g, start_cond="vid = 1", spread_cond="true",
        end_vertex_cond="vid = 3", edge_id_col="eid",
    )
    got = sorted(
        (r["vid"], tuple(r["path"]), tuple(r["edge_path"])) for r in out.collect()
    )
    assert got == [
        (3, (1, 2, 3), ("a", "c")),
        (3, (1, 2, 3), ("b", "c")),
    ]
    # without edge_id_col the two walks are indistinguishable rows
    plain = links(
        g, start_cond="vid = 1", spread_cond="true", end_vertex_cond="vid = 3"
    )
    assert plain.columns == ["vid", "path"] and plain.count() == 2


# ----------------------------------------- real PPM/WAV decoders (r4 #5)
def test_ppm_decoder_parses_comments_and_dims():
    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import _decode_ppm

    raster = bytes(range(2 * 3 * 3))
    payload = b"P6\n# a comment\n# another\n3 2\n# late comment\n255\n" + raster
    img = _decode_ppm(payload)
    assert img.shape == (2, 3, 3) and img.dtype == np.uint8
    assert bytes(img.reshape(-1)) == raster


def test_wav_decoder_walks_chunks_and_endianness():
    import struct

    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import _decode_wav

    samples = np.array([0, 1, -1, 32767, -32768, 1000], dtype="<i2")
    data = samples.tobytes()
    extra = b"LIST" + struct.pack("<I", 5) + b"info\x00\x00"  # odd size → pad
    hdr = (
        b"RIFF" + struct.pack("<I", 4 + len(extra) + 24 + 8 + len(data)) + b"WAVE"
        + extra
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    rate, got = _decode_wav(hdr + data)
    assert rate == 16000 and list(got) == list(samples)


def test_real_decode_raises_for_unsupported():
    from hugegraph_computer_spark.operators.multimodal import (
        DecoderUnavailable,
        real_decode,
    )

    with pytest.raises(DecoderUnavailable):
        real_decode(b"\x89PNG....", "image")  # compressed codec: not ours
    with pytest.raises(DecoderUnavailable):
        real_decode(b"\x00" * 64, "video")


def test_decode_stats_matches_numpy(spark):
    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import (
        decode_stats,
        real_decode,
        synth_real_assets,
    )

    assets = synth_real_assets(spark, n=8, seed=3)
    got = {r["asset_id"]: r for r in decode_stats(assets).collect()}
    for row in assets.collect():
        vals = real_decode(bytes(row["payload"]), row["modality"]).reshape(-1)
        vals = vals.astype(np.int64)
        r = got[row["asset_id"]]
        assert r["n_vals"] == len(vals)
        assert r["sum_val"] == int(vals.sum())
        assert r["sumsq"] == int((vals * vals).sum())


def test_resize_images_round_trip_and_stats(spark):
    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import (
        _decode_ppm,
        real_decode,
        resize_images,
        synth_real_assets,
    )

    assets = synth_real_assets(spark, n=8, seed=3)
    got = {r["asset_id"]: r for r in resize_images(assets, 4, 4).collect()}
    images = [r for r in assets.collect() if r["modality"] == "image"]
    assert set(got) == {r["asset_id"] for r in images}
    for row in images:
        img = real_decode(bytes(row["payload"]), "image")
        ys = ((2 * np.arange(4) + 1) * img.shape[0]) // 8
        xs = ((2 * np.arange(4) + 1) * img.shape[1]) // 8
        small = img[ys][:, xs].reshape(-1).astype(np.int64)
        r = got[row["asset_id"]]
        assert (r["n_vals"], r["sum_val"], r["sumsq"]) == (
            len(small), int(small.sum()), int((small * small).sum())
        )
        # the emitted payload is a REAL P6 container: re-decoding it
        # must reproduce the resized pixels bit-for-bit
        back = _decode_ppm(bytes(r["payload"]))
        assert back.shape == (4, 4, 3)
        assert (back.reshape(-1).astype(np.int64) == small).all()


def test_resize_images_non_square_target(spark):
    from hugegraph_computer_spark.operators.multimodal import (
        _decode_ppm,
        resize_images,
        synth_real_assets,
    )

    assets = synth_real_assets(spark, n=4, seed=11)
    rows = resize_images(assets, out_w=2, out_h=6).collect()
    assert rows, "expected at least one image asset"
    for r in rows:
        assert (r["out_w"], r["out_h"]) == (2, 6)
        assert r["n_vals"] == 2 * 6 * 3
        assert _decode_ppm(bytes(r["payload"])).shape == (6, 2, 3)


def test_resize_images_arbitrary_source_dims(spark):
    """The resample index map must hold for non-square, non-power-of-two
    SOURCE images too (synth_real_assets only makes 8x8): a 5x3 P6 with
    known pixel bytes resized to 2x2 must pick exactly the half-pixel-
    center pixels."""
    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import (
        ASSET_SCHEMA,
        resize_images,
    )

    w, h = 5, 3
    raster = bytes(range(w * h * 3))  # 45 distinct byte values
    payload = f"P6\n{w} {h}\n255\n".encode() + raster
    assets = spark.createDataFrame(
        [(0, "image", bytearray(payload), (w, h, None, None))], ASSET_SCHEMA
    )
    r = resize_images(assets, out_w=2, out_h=2).collect()[0]
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
    ys = ((2 * np.arange(2) + 1) * h) // 4   # -> rows 0, 2
    xs = ((2 * np.arange(2) + 1) * w) // 4   # -> cols 1, 3
    small = img[ys][:, xs].reshape(-1).astype(np.int64)
    assert r["n_vals"] == 12
    assert r["sum_val"] == int(small.sum())
    assert r["sumsq"] == int((small * small).sum())


# ------------------------------------ Aviator builtins + nil (r4 DSL gap)
def test_aviator_builtins_compile_and_agree_across_engines(spark):
    """Every builtin's SQL twin must evaluate identically in Spark SQL
    and DuckDB — the whole point of compiling to a common subset."""
    import duckdb

    from hugegraph_computer_spark.operators.path_filter import aviator_to_sql

    ns = {"$element": lambda p: f"`{p}`"}
    cases = [
        ("string.contains($element.s, 'ell')", True),
        ("string.startsWith($element.s, 'he')", True),
        ("string.endsWith($element.s, 'zz')", False),
        ("string.indexOf($element.s, 'l') == 2", True),
        ("string.length($element.s) == 5", True),
        ("math.abs($element.x - 10) <= 3", True),
        ("math.min($element.x, 5) == 5", True),
        ("math.max($element.x, 5) == 7", True),
        ("math.sqrt($element.x + 2) == 3", True),
        ("math.pow($element.x, 2) == 49", True),
        ("str($element.x) == '7'", True),
        ("long('3') + $element.x == 10", True),
        ("$element.p == nil", True),
        ("$element.s != nil", True),
        ("nil == $element.p", True),
        ("!($element.s == nil)", True),
    ]
    for expr, expected in cases:
        sql = aviator_to_sql(expr, ns)
        duck_sql = sql.replace("`", '"').replace("AS STRING", "AS VARCHAR")
        got_duck = duckdb.sql(
            f"SELECT ({duck_sql}) AS v FROM (SELECT 'hello' AS s, 7 AS x, "
            "CAST(NULL AS VARCHAR) AS p)"
        ).fetchone()[0]
        got_spark = spark.sql(
            f"SELECT ({sql}) AS v FROM (SELECT 'hello' AS s, 7 AS x, "
            "CAST(NULL AS STRING) AS p)"
        ).collect()[0]["v"]
        assert got_spark == got_duck == expected, (expr, sql, got_spark, got_duck)


def test_aviator_nil_outside_equality_raises():
    from hugegraph_computer_spark.operators.path_filter import aviator_to_sql

    ns = {"$element": lambda p: f"`{p}`"}
    for bad in ["$element.p + nil > 1", "$element.p < nil", "nil"]:
        with pytest.raises(ValueError):
            aviator_to_sql(bad, ns)


def test_resume_steps_discards_past_gap(spark, tmp_path):
    loop = SuperstepLoop(spark, "gap", str(tmp_path), max_supersteps=9)
    df = spark.range(3).select(F.col("id").alias("vid"))
    for s in (0, 1, 3, 4):
        loop.save(s, df, {})
    assert loop.completed_steps() == [0, 1, 3, 4]
    loop2 = SuperstepLoop(spark, "gap", str(tmp_path), max_supersteps=9, resume=True)
    assert loop2.resume_steps() == [0, 1]
    assert loop2.completed_steps() == [0, 1]  # 3 and 4 discarded from disk


# ------------------------------------------------ video frame-sample decode


def test_frame_sample_decode_matches_direct_numpy(spark):
    """Operator stats per sampled frame == direct sha256-chain re-derivation."""
    import hashlib

    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import (
        frame_sample_decode,
        synth_video_assets,
    )

    n, seed, w, h, n_frames, every_n = 6, 11, 8, 4, 12, 4
    assets = synth_video_assets(spark, n=n, seed=seed, w=w, h=h, n_frames=n_frames)
    got = {
        (r["asset_id"], r["frame_index"]): (r["n_vals"], r["sum_val"], r["sumsq"])
        for r in frame_sample_decode(assets, every_n=every_n).collect()
    }
    raster_len = w * h * 3
    n_blocks = -(-raster_len // 32)
    expected = {}
    for i in range(n):
        for f in range(0, n_frames, every_n):
            raw = b"".join(
                hashlib.sha256(f"{seed}:{i}:{f}:{b}".encode()).digest()
                for b in range(n_blocks)
            )[:raster_len]
            v = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
            expected[(i, f)] = (len(v), int(v.sum()), int((v * v).sum()))
    assert got == expected


def test_frame_sample_skips_unsampled_rasters(spark):
    """Corrupting an UNSAMPLED frame's raster changes nothing (the seek
    only cursor-skips it); corrupting a SAMPLED frame's raster shifts
    that frame's stats and only that frame's."""
    from hugegraph_computer_spark.operators.multimodal import (
        _decode_ppm_at,
        frame_sample_decode,
        synth_video_assets,
    )

    assets = synth_video_assets(spark, n=1, seed=3, w=4, h=4, n_frames=6)
    [row] = assets.collect()
    stream = bytes(row["payload"])

    # locate each frame's raster span by walking headers
    spans, pos, f = [], 0, 0
    while pos < len(stream):
        _none, end = _decode_ppm_at(stream, pos, skip_raster=True)
        spans.append((end - 4 * 4 * 3, end))
        pos = end
        f += 1
    assert f == 6

    def run(payload: bytes):
        df = spark.createDataFrame(
            [(0, "video", bytearray(payload), (4, 4, None, 6))],
            assets.schema,
        )
        return {
            r["frame_index"]: (r["sum_val"], r["sumsq"])
            for r in frame_sample_decode(df, every_n=3).collect()
        }

    base = run(stream)
    assert sorted(base) == [0, 3]

    def corrupt(payload: bytes, span) -> bytes:
        s, e = span
        return payload[:s] + bytes(255 - b for b in payload[s:e]) + payload[e:]

    # frame 1 is never sampled: stats identical
    assert run(corrupt(stream, spans[1])) == base
    # frame 3 is sampled: only its entry moves
    moved = run(corrupt(stream, spans[3]))
    assert moved[0] == base[0] and moved[3] != base[3]


def test_frame_sample_indices_match_plan(spark):
    """The decode emits exactly the indices frame_sample_plan declares
    from metadata — plan and kernel agree on the sampling lattice."""
    from hugegraph_computer_spark.operators.multimodal import (
        frame_sample_decode,
        frame_sample_plan,
        synth_video_assets,
    )

    assets = synth_video_assets(spark, n=3, seed=5, w=4, h=2, n_frames=10)
    plan = {
        (r["asset_id"], r["frame_index"])
        for r in frame_sample_plan(assets, every_n=4).collect()
    }
    decoded = {
        (r["asset_id"], r["frame_index"])
        for r in frame_sample_decode(assets, every_n=4).collect()
    }
    assert plan == decoded and len(plan) == 3 * 3  # frames 0, 4, 8


def test_ppm_stream_truncated_raises():
    from hugegraph_computer_spark.operators.multimodal import _decode_ppm_at

    stream = b"P6\n2 2\n255\n" + bytes(12) + b"P6\n2 2\n255\n" + bytes(5)
    _img, end = _decode_ppm_at(stream, 0)
    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm_at(stream, end)


# ------------------------------------------------ random walks (DeepWalk)


def _py_walks(edges_df, wpv, length, seed="walk"):
    """Independent Python replay of the md5 neighbor choice."""
    import hashlib
    from collections import defaultdict

    adj = defaultdict(set)
    verts = set()
    for r in edges_df.select("src", "dst").collect():
        adj[r.src].add(r.dst)
        verts.add(r.src)
        verts.add(r.dst)
    rows = set()
    for v in sorted(verts):
        for rep in range(wpv):
            wid, cur = v * wpv + rep, v
            rows.add((wid, v, 0, v))
            for t in range(1, length + 1):
                nbrs = sorted(adj.get(cur, ()))
                if not nbrs:
                    break
                h = int(
                    hashlib.md5(f"{seed}:{wid}:{t-1}:{cur}".encode()).hexdigest()[:15],
                    16,
                )
                cur = nbrs[h % len(nbrs)]
                rows.add((wid, v, t, cur))
    return rows


def test_random_walks_match_python_oracle(spark):
    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import random_walks

    g = make_graph(spark, random_edges(60, 150, seed=11))
    got = {
        (r.walk_id, r.start, r.step, r.vid)
        for r in random_walks(g, walks_per_vertex=2, walk_length=5).collect()
    }
    assert got == _py_walks(g.edges, 2, 5)


def test_skipgram_pairs_match_python_oracle(spark):
    from collections import Counter

    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import random_walks, skipgram_pairs

    g = make_graph(spark, random_edges(40, 90, seed=12))
    walks = random_walks(g, walks_per_vertex=1, walk_length=4)
    got = {
        (r.center, r.context): r.cnt
        for r in skipgram_pairs(walks, window=2).collect()
    }
    by_walk = {}
    for wid, _, step, vid in _py_walks(g.edges, 1, 4):
        by_walk.setdefault(wid, {})[step] = vid
    want = Counter()
    for steps in by_walk.values():
        for s1, c in steps.items():
            for s2, x in steps.items():
                if s1 != s2 and abs(s1 - s2) <= 2:
                    want[(c, x)] += 1
    assert got == dict(want)


def test_random_walks_resume_bit_identical(spark, tmp_path):
    from hugegraph_computer_spark.operators import random_walks

    g = _chain_graph(spark, n=12)
    ck = str(tmp_path / "walks")
    full = sorted(
        map(tuple, random_walks(g, 2, 6, checkpoint_dir=ck).collect())
    )
    _drop_last_step(ck, "random_walks", n=2)
    resumed = sorted(
        map(
            tuple,
            random_walks(g, 2, 6, checkpoint_dir=ck, resume=True).collect(),
        )
    )
    assert resumed == full


# --------------------------------------- GNN neighborhood sampling


def _py_sample(edges_df, fanouts, roots=None, seed="gnn"):
    """Independent Python replay of the md5-ranked fan-out sampler."""
    import hashlib
    from collections import defaultdict

    adj = defaultdict(set)
    verts = set()
    for r in edges_df.select("src", "dst").collect():
        adj[r.src].add(r.dst)
        verts.update((r.src, r.dst))

    def rank(h, v, d):
        return int(
            hashlib.md5(f"{seed}:{h}:{v}:{d}".encode()).hexdigest()[:15], 16
        )

    def pick(h, v, f):
        return sorted(adj.get(v, ()), key=lambda d: (rank(h, v, d), d))[:f]

    want = set()
    for root in sorted(verts) if roots is None else roots:
        frontier = {root}
        for h, f in enumerate(fanouts, start=1):
            nxt = set()
            for v in sorted(frontier):
                for d in pick(h, v, f):
                    want.add((root, h, v, d))
                    nxt.add(d)
            frontier = nxt
    return want


def test_neighborhood_sample_match_python_oracle(spark):
    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import neighborhood_sample

    g = make_graph(spark, random_edges(50, 130, seed=13))
    got = {
        (r.root, r.hop, r.src, r.dst)
        for r in neighborhood_sample(g, fanouts=(3, 2, 2)).collect()
    }
    assert got == _py_sample(g.edges, (3, 2, 2))


def test_neighborhood_sample_root_subset_and_fanout_cap(spark):
    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import neighborhood_sample

    g = make_graph(spark, random_edges(40, 100, seed=14))
    roots = spark.createDataFrame([(1,), (5,), (9,)], "root long")
    out = neighborhood_sample(g, fanouts=(2, 3), roots=roots)
    rows = out.collect()
    got = {(r.root, r.hop, r.src, r.dst) for r in rows}
    assert got == _py_sample(g.edges, (2, 3), roots=[1, 5, 9])
    # fanout cap holds per (root, hop, src)
    from collections import Counter

    per_src = Counter((r.root, r.hop, r.src) for r in rows)
    for (_, hop, _), n in per_src.items():
        assert n <= (2 if hop == 1 else 3)


def test_neighborhood_sample_rejects_bad_fanouts(spark):
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import neighborhood_sample

    g = make_graph(spark, [(0, 1)])
    with pytest.raises(ValueError):
        neighborhood_sample(g, fanouts=())
    with pytest.raises(ValueError):
        neighborhood_sample(g, fanouts=(3, 0))


# ------------------------------------------------ node2vec biased walks


def _py_node2vec(edges_df, wpv, length, p, q, seed="n2v"):
    """Independent Python replay of the integer-weighted biased choice."""
    import hashlib
    from collections import defaultdict

    from hugegraph_computer_spark.operators.walks import _bias_weights

    w_ret, w_in, w_out = _bias_weights(p, q)
    adj = defaultdict(set)
    verts = set()
    for r in edges_df.select("src", "dst").collect():
        adj[r.src].add(r.dst)
        verts.update((r.src, r.dst))
    rows = set()
    for v in sorted(verts):
        for rep in range(wpv):
            wid, prev, cur = v * wpv + rep, None, v
            rows.add((wid, v, 0, v))
            for t in range(1, length + 1):
                nbrs = sorted(adj.get(cur, ()))
                if not nbrs:
                    break
                h = int(
                    hashlib.md5(
                        f"{seed}:{wid}:{t-1}:{cur}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                if prev is None:
                    nxt = nbrs[h % len(nbrs)]
                else:
                    # class-partitioned draw: [prev | common | rest]
                    pn = adj.get(prev, set())
                    base = [x for x in nbrs if x != prev]
                    common = sorted(x for x in base if x in pn)
                    rest = sorted(x for x in base if x not in pn)
                    c_ret = w_ret * (len(nbrs) - len(base))
                    c_in = c_ret + w_in * len(common)
                    u = h % (c_in + w_out * len(rest))
                    if u < c_ret:
                        nxt = prev
                    elif u < c_in:
                        nxt = common[(u - c_ret) // w_in]
                    else:
                        nxt = rest[(u - c_in) // w_out]
                prev, cur = cur, nxt
                rows.add((wid, v, t, cur))
    return rows


def test_node2vec_walks_match_python_oracle(spark):
    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import node2vec_walks

    g = make_graph(spark, random_edges(40, 110, seed=15))
    got = {
        (r.walk_id, r.start, r.step, r.vid)
        for r in node2vec_walks(
            g, walks_per_vertex=2, walk_length=5, p=0.25, q=4.0
        ).collect()
    }
    assert got == _py_node2vec(g.edges, 2, 5, 0.25, 4.0)


def test_node2vec_uniform_pq_matches_its_own_replay(spark):
    # p=q=1 is still a valid (uniform-biased) parameterization
    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import node2vec_walks

    g = make_graph(spark, random_edges(30, 70, seed=16))
    got = {
        (r.walk_id, r.start, r.step, r.vid)
        for r in node2vec_walks(g, walks_per_vertex=1, walk_length=4).collect()
    }
    assert got == _py_node2vec(g.edges, 1, 4, 1.0, 1.0)


def test_node2vec_resume_bit_identical(spark, tmp_path):
    from hugegraph_computer_spark.operators import node2vec_walks

    g = _chain_graph(spark, n=12)
    ck = str(tmp_path / "n2v")
    full = sorted(
        map(
            tuple,
            node2vec_walks(g, 2, 6, p=0.5, q=2.0, checkpoint_dir=ck).collect(),
        )
    )
    _drop_last_step(ck, "node2vec_walks", n=2)
    resumed = sorted(
        map(
            tuple,
            node2vec_walks(
                g, 2, 6, p=0.5, q=2.0, checkpoint_dir=ck, resume=True
            ).collect(),
        )
    )
    assert resumed == full


def test_node2vec_rejects_bad_params(spark):
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import node2vec_walks

    g = make_graph(spark, [(0, 1)])
    with pytest.raises(ValueError):
        node2vec_walks(g, p=0.0)
    with pytest.raises(ValueError):
        node2vec_walks(g, q=-1.0)


# ------------------------------------------- text pipeline: chunk/tfidf/pmi


def _mini_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha alpha beta beta alpha"),
        (3, "one"),
        (4, "x " * 30 + "y"),  # 31 tokens -> multi-chunk at max_tokens=8
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_documents_matches_python_oracle(spark):
    from hugegraph_computer_spark.operators.text import chunk_documents

    max_tokens, overlap = 8, 2
    stride = max_tokens - overlap
    got = sorted(
        map(
            tuple,
            chunk_documents(
                _mini_docs(spark), max_tokens=max_tokens, overlap=overlap
            ).collect(),
        )
    )
    want = []
    for doc_id, text in [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha alpha beta beta alpha"),
        (3, "one"),
        (4, "x " * 30 + "y"),
    ]:
        toks = text.lower().split(" ")
        toks = [t for t in toks]  # Spark split keeps empties; text has none here
        n = len(toks)
        n_chunks = 1 if n <= max_tokens else 1 + -(-(n - max_tokens) // stride)
        for k in range(n_chunks):
            piece = toks[k * stride : k * stride + max_tokens]
            want.append((doc_id, k, len(piece), " ".join(piece)))
    assert got == sorted(want)


def test_chunk_documents_single_chunk_and_validation(spark):
    from hugegraph_computer_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = chunk_documents(docs, max_tokens=10, overlap=3).collect()
    assert len(rows) == 1 and rows[0].chunk_id == 0 and rows[0].n_tokens == 3
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=5, overlap=5)
    with pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)


def test_chunk_documents_no_shuffle(spark):
    """The chunker must be a pure projection: no Exchange in the plan."""
    from hugegraph_computer_spark.operators.text import chunk_documents

    plan = chunk_documents(
        _mini_docs(spark), max_tokens=8, overlap=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_tfidf_topk_matches_python_oracle(spark):
    from collections import Counter

    from hugegraph_computer_spark.operators.text import tfidf_topk

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha alpha beta beta alpha",
        3: "one",
        4: ("x " * 30 + "y").strip() + " ",  # trailing space -> empty token dropped
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = sorted(map(tuple, tfidf_topk(docs, k=2).collect()))

    tf = {
        (d, w): c
        for d, t in texts.items()
        for w, c in Counter(x for x in t.lower().split(" ") if x).items()
    }
    df = Counter(w for (_, w) in tf)
    n_docs = len(texts)
    want = []
    for d in texts:
        scored = sorted(
            (
                (w, c, df[w], c * (n_docs + 1) / (df[w] + 1))
                for (dd, w), c in tf.items()
                if dd == d
            ),
            key=lambda r: (-r[3], r[0]),
        )
        for rank, (w, c, dfv, s) in enumerate(scored[:2], 1):
            want.append((d, w, c, dfv, s, rank))
    assert got == sorted(want)


def test_pmi_scores_matches_python_oracle(spark):
    from hugegraph_computer_spark.operators.text import pmi_scores

    pairs = [
        ("a", "b", 3),
        ("a", "c", 1),
        ("b", "a", 3),
        ("b", "c", 2),
        ("c", "a", 1),
    ]
    df = spark.createDataFrame(pairs, "center string, context string, cnt long")
    got = {(r.center, r.context): (r.cnt, r.pmi_ratio) for r in pmi_scores(df).collect()}
    total = sum(c for *_, c in pairs)
    c_ctr = {}
    c_ctx = {}
    for a, b, c in pairs:
        c_ctr[a] = c_ctr.get(a, 0) + c
        c_ctx[b] = c_ctx.get(b, 0) + c
    for a, b, c in pairs:
        cnt, ratio = got[(a, b)]
        assert cnt == c
        assert ratio == (c * total) / (c_ctr[a] * c_ctx[b])
    assert len(got) == len(pairs)


def test_decontaminate_matches_python_oracle(spark):
    from hugegraph_computer_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # grams: abc bcd cde def -> 2 hits
            (2, "x y z w"),            # grams: xyz yzw -> 0 hits
            (3, "a b c a b c"),        # distinct grams: abc bca cab -> 1 hit
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d"), (101, "c d e")],  # gram set: {abc, bcd, cde}
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.hits, r.overlap_frac)
        for r in decontaminate(train, bench, shingle_n=3).collect()
    }
    assert got == {
        1: (4, 3, 3 / 4),   # abc bcd cde hit; def not ("cde" from bench doc 101)
        2: (2, 0, 0.0),
        3: (3, 1, 1 / 3),
    }


def test_decontaminate_broadcast_plan_and_fallback(spark):
    """The plan broadcasts the benchmark gram set and counts exactly."""
    from hugegraph_computer_spark.operators.dedup import decontaminate

    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    bench = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    p_b = (
        decontaminate(train, bench, shingle_n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in p_b
    rows = decontaminate(train, bench, shingle_n=3).collect()
    assert rows[0].hits == 1 and rows[0].n_grams == 2
    with pytest.raises(ValueError):
        decontaminate(train, bench, shingle_n=0)


def test_repetition_stats_matches_python_oracle(spark):
    from collections import Counter

    from hugegraph_computer_spark.operators.text import repetition_stats

    texts = {
        1: "a b a b a b a b",          # degenerate loop: top bigram dominates
        2: "the quick brown fox jumps",  # all grams unique
        3: "x y z x y z q r s t u v",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_ngrams, r.top_ngram_frac, r.dup_ngram_frac)
        for r in repetition_stats(docs, ngram_n=2, dup_ngram_n=3).collect()
    }

    def grams(toks, n):
        if len(toks) <= n:
            return [" ".join(toks[:n])]
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    for d, t in texts.items():
        toks = t.lower().split(" ")
        c2, c3 = Counter(grams(toks, 2)), Counter(grams(toks, 3))
        n2, n3 = sum(c2.values()), sum(c3.values())
        want = (
            n2,
            max(c2.values()) / n2,
            sum(v for v in c3.values() if v >= 2) / n3,
        )
        assert got[d] == want, (d, got[d], want)
    # the loop doc must look maximally repetitive, the clean one minimally
    assert got[1][1] > 0.5 and got[1][2] == 1.0
    assert got[2][2] == 0.0


def test_repetition_stats_rejects_bad_n(spark):
    from hugegraph_computer_spark.operators.text import repetition_stats

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        repetition_stats(docs, ngram_n=0)


# ------------------------------------------------- personalized pagerank


def _ppr_python(edges, sources, alpha=0.15, supersteps=6):
    """Literal replay of the mass-conserving PPR recurrence."""
    verts = sorted({v for e in edges for v in e})
    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    out = {v: [] for v in verts}
    for a, b in sym:
        out[a].append(b)
    s_set = set(sources)
    sflag = {v: (1.0 / len(s_set) if v in s_set else 0.0) for v in verts}
    rank = dict(sflag)
    for _ in range(1, supersteps):
        dang = sum(rank[v] for v in verts if not out[v])
        msgs = {v: 0.0 for v in verts}
        for u in verts:
            if out[u]:
                c = rank[u] / len(out[u])
                for w in out[u]:
                    msgs[w] += c
        rank = {
            v: (msgs[v] + dang * sflag[v]) * (1 - alpha) + alpha * sflag[v]
            for v in verts
        }
    return rank


def test_personalized_pagerank_matches_python_oracle(spark):
    from hugegraph_computer_spark.operators.pagerank import personalized_pagerank

    edges = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (4, 0)]
    g = Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long")
    )
    got = {
        r.vid: r.rank
        for r in personalized_pagerank(g, [0, 2], supersteps=6).collect()
    }
    want = _ppr_python(edges, [0, 2])
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # mass conservation: the restart-through-sources recurrence keeps Σr = 1
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_personalized_pagerank_concentrates_on_sources(spark):
    from hugegraph_computer_spark.operators.pagerank import personalized_pagerank

    g = _chain_graph(spark, n=9)
    got = {r.vid: r.rank for r in personalized_pagerank(g, [0], supersteps=8).collect()}
    # rank decays with distance from the seed
    assert got[0] > got[2] > got[5] > got[8]
    with pytest.raises(ValueError):
        personalized_pagerank(g, [])
    with pytest.raises(ValueError):
        personalized_pagerank(g, [0], supersteps=0)


def test_personalized_pagerank_resume_bit_identical(spark, tmp_path):
    from hugegraph_computer_spark.operators.pagerank import personalized_pagerank

    g = _chain_graph(spark, n=10)
    ck = str(tmp_path / "ppr")
    full = sorted(
        map(tuple, personalized_pagerank(g, [0, 5], supersteps=7, checkpoint_dir=ck).collect())
    )
    _drop_last_step(ck, "ppr", n=2)
    resumed = sorted(
        map(
            tuple,
            personalized_pagerank(
                g, [0, 5], supersteps=7, checkpoint_dir=ck, resume=True
            ).collect(),
        )
    )
    assert resumed == full
