#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate.

Runs every registered query at a given sf_dir on Spark AND its DuckDB
oracle, then compares row count, column names, and an order-insensitive
value comparison (columns sorted by name, rows sorted by all columns,
exact equality; near-misses reported with max abs diff so float issues
are visible).

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openweathermapapi_etl_spark.plans import ORACLES, QUERIES  # noqa: E402
from openweathermapapi_etl_spark.session import get_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Stringify for a stable, engine-agnostic sort/compare baseline.
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: repr(v))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def compare(name: str, spark_df, oracle_df) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    if problems:
        return problems
    a, b = normalize(spark_df), normalize(oracle_df)
    if not a.equals(b):
        diff_cols = [c for c in a.columns if not a[c].equals(b[c])]
        problems.append(f"values differ in cols {diff_cols}")
        for c in diff_cols[:3]:
            mask = a[c] != b[c]
            i = mask.idxmax()
            problems.append(f"  {c}[{i}]: spark={a[c][i]!r} oracle={b[c][i]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]
    # A typo'd name must fail loudly: the old silent no-match loop
    # printed "ALL OK" (exit 0) for a query that never ran — a false
    # green from the verification tool itself (r12 review catch).
    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown query name(s): {unknown} — not in the registry")
    spark = get_session("parity-check")
    con = duck_con(sf_dir)
    failures = 0
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc(limit=5)
            failures += 1
            continue
        if name not in ORACLES:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception:
            print(f"FAIL  {name}: oracle raised")
            traceback.print_exc(limit=5)
            failures += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
