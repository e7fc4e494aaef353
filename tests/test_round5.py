"""Round-5 features: hub-chunked walks/sampling (VERDICT r4 watch item),
chunk-transparent two-level choice, incremental-WCC bucket partitioning
companions live in test_streaming.py."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.graph.graph import DEFAULT_ADJ_CHUNK, Graph

HUB_DEG = 1_000_000


@pytest.fixture(scope="module")
def hub_graph(spark):
    """One 10^6-degree hub (vertex 0) with leaf spokes 1..10^6."""
    edges = spark.range(1, HUB_DEG + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    return Graph.from_edges(edges)


def test_hub_adjacency_is_chunked(spark, hub_graph):
    adj = hub_graph.adjacency()
    hub_rows = adj.where(F.col("vid") == 0)
    assert hub_rows.count() == -(-HUB_DEG // DEFAULT_ADJ_CHUNK)
    stats = hub_rows.agg(
        F.max(F.size("nbrs")).alias("mx"),
        F.sum(F.size("nbrs")).alias("tot"),
        F.max("deg").alias("deg"),
    ).first()
    assert stats["mx"] <= DEFAULT_ADJ_CHUNK
    assert stats["tot"] == HUB_DEG
    assert stats["deg"] == HUB_DEG


def test_hub_random_walks_match_flat_replay(spark, hub_graph):
    """The two-level (chunk, offset) pick must equal the flat
    nbrs_sorted[h % deg] draw the oracle encodes — replayed in Python
    against the ANALYTIC flat neighbor lists of the hub graph."""
    from hugegraph_computer_spark.operators import random_walks

    walks = random_walks(hub_graph, walks_per_vertex=1, walk_length=2)
    got = {
        (r["walk_id"], r["step"]): r["vid"]
        for r in walks.where(F.col("walk_id") <= 50).collect()
    }

    def h(wid, t, v):
        return int(
            hashlib.md5(f"walk:{wid}:{t}:{v}".encode()).hexdigest()[:15], 16
        )

    for wid in range(0, 51):
        cur = wid  # walks_per_vertex=1 → walk_id == start vid
        for t in (1, 2):
            if cur == 0:
                idx = h(wid, t - 1, cur) % HUB_DEG
                cur = idx + 1  # hub's sorted neighbors ARE 1..N
            else:
                cur = 0  # leaves have exactly one neighbor: the hub
            assert got[(wid, t)] == cur, (wid, t)
    # no dead ends in the symmetrized star: every walk runs both steps
    assert walks.count() == (HUB_DEG + 1) * 3


def test_hub_neighborhood_sample_matches_flat_rank(spark, hub_graph):
    """Per-chunk top-fanout merged per vertex must equal the flat global
    top-fanout by md5 rank (DuckDB replay over all 10^6 neighbors)."""
    import duckdb

    from hugegraph_computer_spark.operators import neighborhood_sample

    roots = spark.createDataFrame([(0,)], "root long")
    out = neighborhood_sample(hub_graph, fanouts=(7,), roots=roots)
    rows = out.collect()
    assert all(r["root"] == 0 and r["hop"] == 1 and r["src"] == 0 for r in rows)
    got = sorted(r["dst"] for r in rows)
    expected = duckdb.sql(
        f"""
        SELECT dst FROM (
          SELECT dst,
                 ('0x' || substr(md5('gnn:1:0:' || dst), 1, 15))::BIGINT AS r
          FROM (SELECT unnest(generate_series(1, {HUB_DEG})) AS dst)
        ) ORDER BY r, dst LIMIT 7
        """
    ).fetchall()
    assert got == sorted(e[0] for e in expected)


def test_hub_neighborhood_sample_dedups_duplicate_across_chunks(spark):
    """On a multigraph a parallel edge whose two copies straddle a chunk
    boundary must fill one fanout slot, not two: the hub merge equals
    the flat top-fanout over the DISTINCT neighbors."""
    from hugegraph_computer_spark.operators import neighborhood_sample

    n = DEFAULT_ADJ_CHUNK + 900
    dup = DEFAULT_ADJ_CHUNK  # sorted positions chunk-1 and chunk: straddles
    edges = spark.createDataFrame(
        [(0, d) for d in range(1, n + 1)] + [(0, dup)], "src long, dst long"
    )
    g = Graph.from_edges(edges, symmetrize=False, edge_freq="multiple")
    chunks = g.adjacency().where(F.col("vid") == 0).collect()
    assert sorted(dup in r["nbrs"] for r in chunks) == [True, True]

    def rank(d):
        return int(hashlib.md5(f"gnn:1:0:{d}".encode()).hexdigest()[:15], 16)

    def pos(nbrs):  # dup's place in its chunk's rank order
        return sorted(set(nbrs), key=lambda d: (rank(d), d)).index(dup)

    # dup's global place is the sum; one slot past it keeps dup among
    # BOTH chunks' candidates with a slot left that a second copy of it
    # would take
    fanout = sum(pos(r["nbrs"]) for r in chunks) + 2
    roots = spark.createDataFrame([(0,)], "root long")
    got = [r["dst"] for r in neighborhood_sample(
        g, fanouts=(fanout,), roots=roots).collect()]
    expected = sorted(range(1, n + 1), key=lambda d: (rank(d), d))[:fanout]
    assert sorted(got) == sorted(expected)


# ------------------------- CLI corpus-mode decode for walk outputs


def test_corpus_decode_maps_walk_vertex_columns_not_walk_ids(spark):
    """--corpus with a walk algorithm must decode start/vid through the
    id map (walk_id is vid*wpv+replica, NOT a vertex id — ADVICE r4 #1)."""
    from hugegraph_computer_spark.__main__ import _decode_corpus_ids

    ids = spark.createDataFrame(
        [("repo_a", 0), ("repo_b", 1), ("repo_c", 2)], "orig string, vid long"
    )
    walks = spark.createDataFrame(
        # walk_id 3 = vid 1 * wpv 2 + replica 1: joining it against ids
        # would wrongly decode repo for vertex 3 (absent) — must stay 3
        [(3, 1, 0, 1), (3, 1, 1, 2)],
        "walk_id long, start long, step int, vid long",
    )
    got = {
        (r["walk_id"], r["start"], r["step"], r["vid"])
        for r in _decode_corpus_ids(walks, ids, "random_walks").collect()
    }
    assert got == {(3, "repo_b", 0, "repo_b"), (3, "repo_b", 1, "repo_c")}

    blocks = spark.createDataFrame(
        [(0, 1, 0, 2)], "root long, hop int, src long, dst long"
    )
    row = _decode_corpus_ids(blocks, ids, "neighborhood_sample").collect()[0]
    assert (row["root"], row["hop"], row["src"], row["dst"]) == (
        "repo_a", 1, "repo_a", "repo_c",
    )

    # default algorithms keep the legacy single-column repo decode
    pr = spark.createDataFrame([(1, 0.5)], "vid long, rank double")
    row = _decode_corpus_ids(pr, ids, "page_rank").collect()[0]
    assert (row["repo"], row["rank"]) == ("repo_b", 0.5)


# --------------------------------- stdlib PNG decoder (r5 missing #2)


def test_png_roundtrip_all_filters(spark):
    """Every synth PNG cycles all five scanline filters; the stdlib
    decoder must invert them to the exact sha256-chain raster."""
    import hashlib as _h

    import numpy as np

    from hugegraph_computer_spark.operators.multimodal import (
        real_decode,
        synth_png_assets,
    )

    n, seed, w, h = 6, 13, 16, 16
    for r in synth_png_assets(spark, n=n, seed=seed, w=w, h=h).collect():
        raster_len = w * h * 3
        n_blocks = -(-raster_len // 32)
        expected = b"".join(
            _h.sha256(f"{seed}:{r['asset_id']}:{b}".encode()).digest()
            for b in range(n_blocks)
        )[:raster_len]
        dec = real_decode(bytes(r["payload"]), "image")
        assert dec.shape == (h, w, 3)
        assert dec.tobytes() == expected


def test_png_unsupported_forms_raise():
    import struct
    import zlib

    from hugegraph_computer_spark.operators.multimodal import (
        DecoderUnavailable,
        _PNG_SIG,
        _decode_png,
    )

    def png(depth=8, color=2, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
            )
        body = zlib.compress(b"\x00\x00\x00\x00")
        return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", body) + chunk(b"IEND", b"")

    with pytest.raises(DecoderUnavailable):
        _decode_png(png(depth=16))
    with pytest.raises(DecoderUnavailable):
        _decode_png(png(color=3))  # palette
    with pytest.raises(DecoderUnavailable):
        _decode_png(png(interlace=1))  # Adam7
    with pytest.raises(DecoderUnavailable):
        _decode_png(b"\xff\xd8\xff\xe0 jpeg-ish")


# ------------------------- Aviator seq library + =~ regex (r5 DSL gap)


def test_aviator_seq_and_regex_agree_across_engines(spark):
    """seq.list/seq.set/include/count and the anchored ``=~`` regex twin
    must evaluate identically in Spark SQL and DuckDB."""
    import duckdb

    from hugegraph_computer_spark.operators.path_filter import (
        aviator_to_sql,
        duckdb_dialect,
    )

    ns = {"$element": lambda p: f"`{p}`"}
    cases = [
        ("include(seq.set(5, 7, 9), $element.x)", True),
        ("include(seq.list('a', 'b'), $element.s)", False),
        ("!include(seq.list(1, 2), $element.x)", True),
        ("count(seq.list(1, 2, 3)) == 3", True),
        ("count(seq.set(1, 1, 2)) == 2", True),
        ("$element.s =~ /hel+o/", True),
        ("$element.s =~ /ell/", False),  # full-match semantics: anchored
        ("$element.s =~ 'h.*o'", True),
        # backslash classes must survive Spark's string-literal
        # unescaping AND stay identical in DuckDB (escape + un-double)
        ("$element.s =~ /\\w+/", True),
        ("$element.s =~ /\\d+/", False),
        ("$element.s =~ /hell\\./", False),  # literal dot, not any-char
        ("include(seq.set(long($element.x)), 7)", True),
    ]
    for expr, expected in cases:
        sql = aviator_to_sql(expr, ns)
        got_duck = duckdb.sql(
            f"SELECT ({duckdb_dialect(sql)}) AS v "
            "FROM (SELECT 'hello' AS s, 7 AS x)"
        ).fetchone()[0]
        got_spark = spark.sql(
            f"SELECT ({sql}) AS v FROM (SELECT 'hello' AS s, 7 AS x)"
        ).collect()[0]["v"]
        assert got_spark == got_duck == expected, (expr, sql, got_spark, got_duck)


def test_aviator_seq_and_regex_reject_illegal_uses():
    from hugegraph_computer_spark.operators.path_filter import aviator_to_sql

    ns = {"$element": lambda p: f"`{p}`"}
    for bad in [
        "seq.list(1, 2)",  # seq literal escaping to top level
        "include($element.x, 1)",  # runtime seq not compilable
        "$element.x =~ 3",  # non-pattern rhs
        "$element.x =~ /unterminated",
        "include(seq.list(), $element.x)",  # empty seq
        # compile-time count over runtime values is unsound (two column
        # expressions can collapse to one element under set semantics)
        "count(seq.set($element.x, $element.y)) == 2",
    ]:
        with pytest.raises(ValueError):
            aviator_to_sql(bad, ns)


def test_chunked_and_flat_walks_agree_on_small_graph(spark):
    """On a sub-chunk graph the chunked path IS the flat path: cross-check
    the full corpus against the brute-force Python replay."""
    from tests.oracle import random_edges
    from tests.test_algorithms import make_graph
    from hugegraph_computer_spark.operators import random_walks

    g = make_graph(spark, random_edges(60, 200, seed=51))
    adj = {}
    for r in g.edges.select("src", "dst").collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    expected = set()
    for v in sorted(adj):
        wid, cur = v, v
        expected.add((wid, v, 0, v))
        for t in (1, 2, 3):
            nbrs = sorted(adj.get(cur, ()))
            if not nbrs:
                break
            hh = int(
                hashlib.md5(f"walk:{wid}:{t-1}:{cur}".encode()).hexdigest()[:15],
                16,
            )
            cur = nbrs[hh % len(nbrs)]
            expected.add((wid, v, t, cur))
    got = {
        (r["walk_id"], r["start"], r["step"], r["vid"])
        for r in random_walks(g, walks_per_vertex=1, walk_length=3).collect()
    }
    assert got == expected
