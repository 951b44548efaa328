"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB at
sf0.01, compare row count + schema-insensitive sorted values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from cookieblock_consent_classifier_spark.session import get_spark
from cookieblock_consent_classifier_spark.sources.readers import TESTDATA_TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", extra_conf={"spark.sql.shuffle.partitions": "16"})
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            continue
        pinned_sf = getattr(entrymod, "ORACLE_SF_PINNED", {}).get(name)
        if pinned_sf is not None and sf_dir.rstrip("/").split("/")[-1] != pinned_sf:
            print(
                f"rows  {name}: {len(sdf)} rows (oracle frozen at {pinned_sf}; "
                f"rows-only at this sf)"
            )
            if len(sdf) == 0:
                failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle; rows-only)")
            if len(sdf) == 0:
                failures.append(name)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            print(f"OK    {name}: {len(a)} rows")
        except AssertionError as e:
            # retry with tolerance to show near-misses distinctly
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-9, rtol=1e-12)
                print(f"NEAR  {name}: {len(a)} rows equal only within 1e-9 (hash would FAIL)")
                failures.append(name)
            except AssertionError:
                failures.append(name)
                print(f"FAIL  {name}: values differ\n{str(e)[:500]}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
