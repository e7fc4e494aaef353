"""Tier-1 runs the whole oracle gate: every ``__spark_entry__.queries()``
entry on Spark against its ``oracle_sql()`` DuckDB twin at sf0.01,
through the same ``check`` the ``tools/check_correctness.py`` CLI uses."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

import __spark_entry__ as entry_mod
from tests.test_round3_features import SF
from tools.check_correctness import check

SF_GATE = str(Path(SF).with_name("sf0.01"))


def test_every_query_matches_its_oracle(spark):
    if not os.path.isdir(SF_GATE):
        pytest.skip("driver testdata not present")
    names = set(entry_mod.queries())
    assert names == set(entry_mod.oracle_sql())
    try:
        results = check(spark, SF_GATE)
    finally:
        spark.catalog.clearCache()
    failed = {name: p for name, p in results.items() if p}
    print(f"{len(results) - len(failed)}/{len(names)} OK")
    assert set(results) == names
    assert not failed, failed
