"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at sf0.01 and the
matching ``oracle_sql()`` on DuckDB over the same parquet, then compares
row count, column names, and order-insensitive values (columns sorted by
name, rows sorted). Every ``OK``/``ROWS`` line ends with ``md5=<12 hex>``
of the normalized Spark frame, so two gate logs diff row for row. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry_mod  # noqa: E402
from hugegraph_computer_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """md5 (12 hex) of the normalized frame's CSV form."""
    csv = normalize(df).to_csv(index=False)
    return "md5=" + hashlib.md5(csv.encode()).hexdigest()[:12]


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rows {len(spark_pdf)} vs {len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    n = min(len(a), len(b))
    for col in a.columns:
        av, bv = a[col].iloc[:n], b[col].iloc[:n]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float)
            bv = bv.astype(float)
            bad = ~((av == bv) | (av.isna() & bv.isna()))
        else:
            bad = av.astype(object).ne(bv.astype(object))
        if bad.any():
            i = bad.idxmax()
            problems.append(
                f"col {col}: {int(bad.sum())} mismatches, first at row {i}: "
                f"{a[col].iloc[i]!r} vs {b[col].iloc[i]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # sys.path above reaches only this process: ship the repo root to the
    # Python workers too, or every pandas-UDF query fails to import the
    # package when the caller's PYTHONPATH lacks it
    spark = get_spark(
        master="local[8]", app_name="check-correctness", shuffle_partitions=16,
        extra_conf={"spark.executorEnv.PYTHONPATH": str(REPO)},
    )
    results = check(spark, sf_dir, only)
    spark.stop()
    return 1 if any(results.values()) else 0


def check(spark, sf_dir: str, only=()) -> dict[str, list[str]]:
    """Run each ``queries()`` entry (all, or those named in ``only``) on
    ``spark`` and its ``oracle_sql()`` twin on DuckDB over the same
    parquet. Returns the problems found per compared query (an empty
    list when it matches); queries without an oracle are only reported."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results: dict[str, list[str]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            results[name] = [f"spark error {type(e).__name__}: {e}"]
            print(f"FAIL  {name}: {results[name][0]}")
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s] "
                  f"{digest(sdf)}")
            continue
        t0 = time.time()
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            results[name] = [f"duckdb error {type(e).__name__}: {e}"]
            print(f"FAIL  {name}: {results[name][0]}")
            continue
        t_duck = time.time() - t0
        results[name] = problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name} [{t_spark:.1f}s/{t_duck:.1f}s]:")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"OK    {name}: {len(sdf)} rows [{t_spark:.1f}s/{t_duck:.1f}s] "
                  f"{digest(sdf)}")
    con.close()
    return results


if __name__ == "__main__":
    raise SystemExit(main())
