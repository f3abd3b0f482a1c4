"""Driver-mimic correctness gate: run every queries() entry on Spark AND its
oracle_sql() twin on DuckDB over the same parquet tables, then compare
row count, schema (column names), and an order-independent value hash.

Mirrors the driver's comparison: columns sorted by name, rows sorted,
values stringified with float rounding, md5 over the whole relation.

NB: scripts/check_driver.py is a SECOND, independent comparer (pandas
canonicalization instead of value hashing). The duplication is deliberate:
the real driver's normalization is unknown, and the two gates' divergent
semantics have already caught a real portability bug (array-typed outputs
stringify differently per engine). Keep both; a query must pass both.

Usage: python scripts/oracle_compare.py [sf_dir]    (default sf0.01)
"""

from __future__ import annotations

import hashlib
import math
import sys

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v) -> str:
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 6 sig-ish decimals so double noise doesn't flip hashes
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def relation_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogateescape"))
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from safe_zone_spark.session import session_builder

    spark = session_builder("oracle-compare", cores=len(os.sched_getaffinity(0))).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):  # DuckDB views bind eagerly
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(srows)} rows")
            continue
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = [tuple(r) for r in cur.fetchall()]
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sh = relation_hash(scols, srows)
            oh = relation_hash(ocols, orows)
            if sh != oh:
                problems.append(f"value-hash spark={sh[:12]} oracle={oh[:12]}")
                # print a few diffs to debug
                sset = {
                    "|".join(
                        _norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                }
                oset = {
                    "|".join(
                        _norm_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                for ln in list(sset - oset)[:3]:
                    print(f"    spark-only: {ln[:200]}")
                for ln in list(oset - sset)[:3]:
                    print(f"    oracle-only: {ln[:200]}")
        if problems:
            print(f"[FAIL] {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"[MATCH] {name}: {len(srows)} rows")

    spark.stop()
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
