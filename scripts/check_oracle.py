"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet, compare
row count, column names, and order-insensitive values.

Every result line carries the query's Spark and DuckDB seconds, and the
run ends with the five slowest queries on each side.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and np.isnan(v)) else str(v))
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import os

    # oracle literals (e.g. baked simhash signatures) must derive from the
    # same SF this gate runs at — documents differ slightly across SFs
    os.environ["JPSPARK_ORACLE_SF"] = sf_dir
    import __spark_entry__ as e
    from jpspark.session import get_spark

    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    run = [name for name in qs if not only or name in only]
    spark_s: dict[str, float] = {}
    duckdb_s: dict[str, float] = {}

    def secs(name: str) -> str:
        d = f", duckdb {duckdb_s[name]:.1f}s" if name in duckdb_s else ""
        return f" [spark {spark_s[name]:.1f}s{d}]"

    for name in run:
        fn = qs[name]
        t0 = time.perf_counter()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            spark_s[name] = time.perf_counter() - t0
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error {str(ex)[:300]}{secs(name)}")
            continue
        spark_s[name] = time.perf_counter() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only, {len(got)} rows{secs(name)}")
            continue
        t0 = time.perf_counter()
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as ex:
            duckdb_s[name] = time.perf_counter() - t0
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error {str(ex)[:300]}{secs(name)}")
            continue
        duckdb_s[name] = time.perf_counter() - t0
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"))
            print(f"FAIL  {name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}{secs(name)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL  {name}: row count {len(got)} vs {len(exp)}{secs(name)}")
            continue
        # dtype strictness: the driver hashes raw values — int64 vs float64
        # (e.g. DuckDB HUGEINT sums) WILL hash-mismatch even when every
        # number is equal, so flag dtype-kind differences loudly
        kinds_g = [got[c].dtype.kind for c in sorted(got.columns)]
        kinds_x = [exp[c].dtype.kind for c in sorted(exp.columns)]
        if kinds_g != kinds_x:
            failures.append((name, f"dtype kinds {kinds_g} vs {kinds_x}"))
            print(f"FAIL  {name}: dtype kind mismatch {kinds_g} vs {kinds_x}{secs(name)}")
            continue
        g, x = normalize(got), normalize(exp)
        try:
            pd.testing.assert_frame_equal(g, x, check_dtype=False, check_exact=True)
            print(f"PASS  {name}: {len(got)} rows{secs(name)}")
        except AssertionError as ex:
            # retry with tolerance to distinguish float-noise from logic bugs
            try:
                pd.testing.assert_frame_equal(g, x, check_dtype=False, atol=1e-9, rtol=1e-12)
                print(f"WARN  {name}: {len(got)} rows equal only within 1e-9 (hash may differ!){secs(name)}")
                failures.append((name, "float mismatch beyond exact"))
            except AssertionError:
                failures.append((name, str(ex)[:200]))
                print(f"FAIL  {name}: value mismatch{secs(name)}\n{str(ex)[:400]}")
    print(f"\n{len(failures)} failures / {len(run)} queries")
    for side, t in (("spark", spark_s), ("duckdb", duckdb_s)):
        slow = sorted(t.items(), key=lambda kv: -kv[1])[:5]
        print(f"slowest on {side}: " + ", ".join(f"{n} {v:.1f}s" for n, v in slow))
    for n, m in failures:
        print(" -", n, ":", m[:160])
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
