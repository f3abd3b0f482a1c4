"""Local simulation of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count + column names + order-insensitive values.

Usage: python scripts/check_driver.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].map(lambda v: round(v, 9) if not (isinstance(v, float) and math.isnan(v)) else None)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from safe_zone_spark.session import session_builder

    spark = session_builder("driver_sim", cores=len(os.sched_getaffinity(0))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL-SPARK] {name}: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(got)} rows, cols={list(got.columns)}"
                  f"  ({t_spark:.2f}s spark)")
            continue
        t0 = time.time()
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"[FAIL-ORACLE] {name}: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        t_duck = time.time() - t0
        if sorted(got.columns) != sorted(want.columns):
            print(f"[FAIL-SCHEMA] {name}: spark={sorted(got.columns)} duck={sorted(want.columns)}")
            failed.append(name)
            continue
        if len(got) != len(want):
            print(f"[FAIL-COUNT] {name}: spark={len(got)} duck={len(want)}")
            failed.append(name)
            continue
        g, w = canon(got), canon(want)
        if not g.equals(w):
            diff_mask = (g != w) & ~(g.isna() & w.isna())
            bad = diff_mask.any(axis=1)
            print(f"[FAIL-VALUES] {name}: {int(bad.sum())}/{len(g)} rows differ")
            print("  spark:", g[bad].head(3).to_dict("records"))
            print("  duck :", w[bad].head(3).to_dict("records"))
            failed.append(name)
            continue
        print(f"[OK] {name}: {len(got)} rows  ({t_spark:.2f}s spark, {t_duck:.2f}s duck)")

    # entry smoke
    try:
        edf = entrymod.entry(spark)
        n = edf.count()
        print(f"[OK] entry(): {n} rows, schema={[f.name for f in edf.schema.fields]}")
    except Exception as e:
        print(f"[FAIL-ENTRY] {type(e).__name__}: {str(e)[:300]}")
        failed.append("entry")

    spark.stop()
    print(("ALL OK" if not failed else f"FAILED: {failed}"))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
