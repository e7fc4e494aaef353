"""Physical-plan assertions — the "is this the plan I'd want at 100 TB" gate.

The reference has no optimizer (SURVEY.md §4); Catalyst is ours, and these
helpers make its behavior testable: predicate pushdown reaching the parquet
scan, broadcast joins where a side is small, the number of file scans a
composition makes, and absence of accidental cartesian products, so a
regression that silently de-optimizes a pipeline fails a test.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def assert_pushed_filters(df: DataFrame, *fragments: str) -> str:
    """Every fragment must appear in a PushedFilters: [...] of the scan."""
    plan = explain_str(df)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    for frag in fragments:
        assert frag.lower() in pushed.lower(), (
            f"filter {frag!r} not pushed to scan.\nPushed: {pushed}\n{plan[:2000]}"
        )
    return pushed


def assert_broadcast_join(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"no broadcast join in plan:\n{plan[:2000]}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, f"cartesian product in plan:\n{plan[:2000]}"


def count_file_scans(df: DataFrame, path_fragment: str | None = None) -> int:
    """Number of file-source scans in the physical plan — the "did this
    composition share the table scan" gate (VERDICT r2: curation_filter
    scanned documents 4×; Catalyst does not dedupe common subplans, so
    scan count is a correctness-of-shape property, not an optimizer
    detail). With ``path_fragment``, only scans whose Location mentions
    the fragment count."""
    plan = explain_str(df, "simple")
    scans = re.findall(r"FileScan \w+[^\n]*|Scan \w+ [^\n]*", plan)
    if path_fragment is not None:
        scans = [s for s in scans if path_fragment in s]
    return len(scans)
