"""Output sinks — the ComputerOutput implementations re-expressed
(SURVEY.md §2.2; computer-api/.../output/ComputerOutput.java:29-53).

The reference's sinks receive one vertex at a time per partition and merge
partition outputs at the master; ours are DataFrame writers, so partition
merge is Spark's job. Each keeps the reference's observable format:

| reference                                   | here              |
|---------------------------------------------|-------------------|
| HdfsOutput (``id<delim>value`` text lines)  | hdfs_output       |
| CsvStructGraphOutput / JsonStructGraphOutput| struct_output     |
| HugeOutput (write back as OLAP properties)  | table_output      |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hdfs_output(
    result: DataFrame, path: str, delimiter: str = ",", mode: str = "overwrite"
) -> None:
    """HdfsOutput.java:37-101: one ``id<delim>value`` line per vertex, text
    files merged across partitions (HdfsOutputMerger)."""
    cols = result.columns
    lines = result.select(
        F.concat_ws(delimiter, *[F.col(c).cast("string") for c in cols]).alias("value")
    )
    lines.write.mode(mode).text(path)


def struct_output(
    result: DataFrame, path: str, fmt: str = "json", mode: str = "overwrite"
) -> None:
    """CsvStructGraphOutput.java:32 / JsonStructGraphOutput.java:33 —
    structured per-vertex dump."""
    writer = result.write.mode(mode)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"struct_output: unknown fmt {fmt!r}")


def table_output(result: DataFrame, path: str, mode: str = "overwrite") -> None:
    """HugeOutput.java:35 equivalent: persist per-vertex values as a table
    other jobs join against (parquet here; Iceberg in production — same
    writer API with ``.format("iceberg")``)."""
    result.write.mode(mode).parquet(path)
