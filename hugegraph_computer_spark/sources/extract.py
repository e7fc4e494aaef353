"""Edge derivation: source-code corpus → repo→repo import link graph.

The reference loads vertices/edges from a HugeGraph server
(computer-core/.../input/hg/HugeVertexFetcher.java; LoadService.java:81-135)
with input filters for property projection. Our source is the corpus table
``(repo, path, commit, lang, content)``; the "scan + filter + type
coercion" stage (SURVEY.md §2.1) becomes:

  1. predicate pushdown: ``lang = 'python'`` reaches the parquet/Iceberg
     scan; only (repo, content) columns are read (column pruning).
  2. a **vectorized pandas UDF** regex-extracts ``import repo_XXXXXX``
     targets per content batch (Arrow transfer; no per-row Python, per the
     input_hint) and explodes to ``(src_repo, dst_repo)``.
  3. per-row integrity invariant: every derived row carries
     ``sha2(content, 256)`` and is verified against the source table —
     the content-sha256 equality check the north rule mandates.
  4. dense id encoding ``repo → vid`` (order-preserving; graph.dense_ids),
     then Graph.from_edges symmetrizes/dedups like the reference load.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from hugegraph_computer_spark.graph.graph import Graph, dense_ids

IMPORT_RE = re.compile(r"^import (repo_\d{6})$", re.MULTILINE)


@F.pandas_udf(ArrayType(StringType()))
def _extract_imports(content: pd.Series) -> pd.Series:
    """Vectorized: content → list of imported repo names."""
    return content.map(lambda c: IMPORT_RE.findall(c) if c else [])


def extract_edges(corpus: DataFrame, lang: str = "python") -> DataFrame:
    """corpus → distinct ``(src_repo string, dst_repo string)`` plus the
    per-file provenance table with the sha256 invariant column.

    Returns the edge DataFrame; provenance is recomputable via
    :func:`derived_files`.
    """
    files = corpus.where(F.col("lang") == lang).select(
        "repo", _extract_imports("content").alias("targets")
    )
    return (
        files.select(F.col("repo").alias("src_repo"), F.explode("targets").alias("dst_repo"))
        .dropDuplicates(["src_repo", "dst_repo"])
    )


def derived_files(corpus: DataFrame, lang: str = "python") -> DataFrame:
    """Per-file derived table carrying ``content_sha`` for the row-level
    integrity invariant (verify with assert_content_integrity)."""
    return corpus.where(F.col("lang") == lang).select(
        "repo",
        "path",
        "commit",
        _extract_imports("content").alias("targets"),
        F.sha2("content", 256).alias("content_sha"),
    )


def assert_content_integrity(corpus: DataFrame, derived: DataFrame) -> int:
    """Every derived row's content_sha must equal sha2 of the source row's
    content (join on (repo, path, commit)). Returns the number of verified
    rows; raises on any mismatch or missing row.

    ONE pass: total and violation counts come from a single aggregate, so
    the derived side's pandas-UDF extraction and both sha256 scans run
    once, not twice (halves the verify phase at 10^6+ files)."""
    src = corpus.select(
        "repo", "path", "commit", F.sha2("content", 256).alias("src_sha")
    )
    joined = derived.join(src, ["repo", "path", "commit"], "left")
    row = joined.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            (
                F.col("src_sha").isNull()
                | (F.col("src_sha") != F.col("content_sha"))
            ).cast("long")
        ).alias("bad"),
    ).collect()[0]
    if int(row["bad"] or 0):
        raise AssertionError(
            f"content sha256 invariant violated on {int(row['bad'])} rows"
        )
    return int(row["total"])


def corpus_graph(
    corpus: DataFrame,
    lang: str = "python",
    symmetrize: bool = True,
    num_partitions: int | None = None,
) -> tuple[Graph, DataFrame]:
    """corpus → (Graph over dense long ids, id dictionary (orig, vid)).

    The dictionary is order-preserving (repo_000000 → 0, ...), so WCC's
    min-id components translate back to the lexicographically smallest repo
    name — consistent with the reference's shortlex id order for same-length
    ids (BytesUtil.java:50-76; all our repo names are fixed-width).
    """
    e = extract_edges(corpus, lang)
    # Vertex set = the REPO DICTIONARY, not just edge endpoints — the
    # reference loads all vertices before merging edges
    # (WorkerInputManager.loadGraph:91-97), so an import-less, never-
    # imported repo still participates (PageRank mass over the true N,
    # WCC singleton components). dense_ids output is an eager local
    # checkpoint (no pinned intermediate cache).
    ids = dense_ids(corpus.select(F.col("repo").alias("r")), "r")
    src_ids = ids.select(F.col("orig").alias("src_repo"), F.col("vid").alias("src"))
    dst_ids = ids.select(F.col("orig").alias("dst_repo"), F.col("vid").alias("dst"))
    edges = e.join(src_ids, "src_repo").join(dst_ids, "dst_repo").select("src", "dst")
    g = Graph.from_edges(
        edges,
        symmetrize=symmetrize,
        vertices=ids.select("vid"),
        num_partitions=num_partitions,
    )
    return g, ids
