"""Local replica of the driver's t2 correctness gate.

Runs every declared query on Spark AND its oracle SQL on DuckDB over the
same Parquet tables, then compares: row count, sorted column names, and
values (rows sorted by all columns, columns sorted by name) with EXACT
equality — floats must match bit-for-bit, which is the conservative
superset of whatever hashing the driver applies.

Usage:
    python tools/oracle_check.py --sf /root/testdata/sf0.01 [-q name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns: spark={s_cols} duck={d_cols}")
        return problems
    if problems:
        return problems
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sv_n, dv_n = sv.astype(float).to_numpy(), dv.astype(float).to_numpy()
            both_nan = np.isnan(sv_n) & np.isnan(dv_n)
            eq = (sv_n == dv_n) | both_nan
            if not eq.all():
                idx = np.where(~eq)[0][:3]
                diffs = [f"{sv_n[i]!r}!={dv_n[i]!r}" for i in idx]
                maxd = np.nanmax(np.abs(sv_n - dv_n))
                problems.append(f"col {c}: {int((~eq).sum())} float diffs (max {maxd:.3e}): {diffs}")
        else:
            # NaT != NaT like NaN != NaN: a NULL pair is equal
            eq = (sv.to_numpy() == dv.to_numpy()) | (sv.isna() & dv.isna()).to_numpy()
            if not eq.all():
                idx = np.where(~eq)[0][:3]
                diffs = [f"{sv.iloc[i]!r}!={dv.iloc[i]!r}" for i in idx]
                problems.append(f"col {c}: {int((~eq).sum())} diffs: {diffs}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("-q", "--query", action="append", default=None)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from overpaint_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.query or list(qs)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            spark_pdf = qs[name](spark, args.sf).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle (rows-only: {len(spark_pdf)} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name} ({len(spark_pdf)} rows) [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      - {p}")
            failed.append(name)
        else:
            print(f"MATCH {name} ({len(spark_pdf)} rows) [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"\n{len(names) - len(failed)}/{len(names)} ok; failures: {failed or 'none'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
