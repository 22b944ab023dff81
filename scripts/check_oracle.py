"""Local simulation of the driver's t2 correctness check: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at the same
scale factor, compare row count, column names, and order-insensitive
values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry
from pd_utils_spark.session import get_spark
from pd_utils_spark.utils import query_scope

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def compare(name: str, spark_df, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    got = spark_df.toPandas()
    if list(got.columns) != list(oracle_pdf.columns):
        problems.append(f"columns: spark={list(got.columns)} oracle={list(oracle_pdf.columns)}")
        return problems
    if len(got) != len(oracle_pdf):
        problems.append(f"rows: spark={len(got)} oracle={len(oracle_pdf)}")
        return problems
    # normalize: sort by all columns as strings (order-insensitive)
    def norm(df):
        s = df.copy()
        for c in s.columns:
            if pd.api.types.is_datetime64_any_dtype(s[c]):
                s[c] = pd.to_datetime(s[c]).dt.tz_localize(None)
        key = s.astype(str)
        order = key.sort_values(list(s.columns)).index
        return s.loc[order].reset_index(drop=True)

    g, o = norm(got), norm(oracle_pdf)
    for c in g.columns:
        gc, oc = g[c], o[c]
        if pd.api.types.is_float_dtype(oc) or pd.api.types.is_float_dtype(gc):
            gv = pd.to_numeric(gc, errors="coerce").astype(float).to_numpy()
            ov = pd.to_numeric(oc, errors="coerce").astype(float).to_numpy()
            both_nan = np.isnan(gv) & np.isnan(ov)
            eq = (gv == ov) | both_nan
            if not eq.all():
                idx = np.where(~eq)[0][:5]
                problems.append(
                    f"col {c}: {len(idx) and (~eq).sum()} mismatches, e.g. "
                    + "; ".join(f"spark={gv[i]!r} oracle={ov[i]!r}" for i in idx)
                )
        else:
            gs, os_ = gc.astype(str), oc.astype(str)
            if not gs.equals(os_):
                bad = (gs != os_)
                idx = np.where(bad)[0][:5]
                problems.append(
                    f"col {c}: {bad.sum()} mismatches, e.g. "
                    + "; ".join(f"spark={gs.iloc[i]!r} oracle={os_.iloc[i]!r}" for i in idx)
                )
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("check_oracle")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            with query_scope():  # no query's pins outlive it
                sdf = fn(spark, sf_dir)
                if name not in oracles:
                    n = sdf.count()
                    print(f"{name:32s} rows-only: {n} rows")
                    continue
                opdf = con.execute(oracles[name]).fetchdf()
                problems = compare(name, sdf, opdf)
            if problems:
                failures += 1
                print(f"{name:32s} FAIL")
                for p in problems:
                    print(f"    {p}")
            else:
                print(f"{name:32s} OK ({len(opdf)} rows)")
        except Exception as e:
            failures += 1
            print(f"{name:32s} ERROR: {type(e).__name__}: {str(e)[:500]}")
        finally:
            spark.catalog.clearCache()
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
