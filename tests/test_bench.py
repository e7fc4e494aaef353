"""The bench harness's own inputs: the ANN query pick and the scaling
suite's prepared edge table."""

from __future__ import annotations

import os

import pytest

import bench


def test_ann_query_pick_returns_every_query():
    ids = bench.ann_query_ids(200, 32)
    assert len(ids) == 32 == len(set(ids))
    assert all(0 <= i < 200 for i in ids)
    # the default sweep keeps the ids it always measured
    assert bench.ann_query_ids(250_000, 32)[:2] == [7, 7819]
    with pytest.raises(ValueError):
        bench.ann_query_ids(10, 32)


def test_prepare_rewrites_a_table_without_success_marker(spark, tmp_path):
    path = str(tmp_path / "edges.parquet")
    os.makedirs(path)
    with open(os.path.join(path, "part-partial.parquet"), "w") as f:
        f.write("killed mid-write")
    bench.prepare(spark, path, 1200)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert not os.path.exists(os.path.join(path, "part-partial.parquet"))
    edges = spark.read.parquet(path)
    n = edges.count()
    assert n > 0
    assert edges.where("src = dst").count() == 0
    # a complete table is kept as it is
    bench.prepare(spark, path, 2400)
    assert spark.read.parquet(path).count() == n
