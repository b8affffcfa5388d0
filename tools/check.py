"""Oracle gate: replicate the driver's correctness check locally, with
EXACT value equality (zero float tolerance — stronger than the driver's
hash: any hashing scheme passes if this does).

Runs every queries() entry at the given SF. A query with an oracle_sql()
entry is compared against DuckDB on row count, column names and the
order-insensitive row multiset; a query without one gets a rows-only run.

Usage: python tools/check.py [sf_dir] [query ...]
(extra args restrict the check to those queries; seconds instead of
minutes for a subset)
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import minefields_kafka_streams_deduplication_spark as engine


def norm_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v + 0.0  # exact; just collapses -0.0
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm_value(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def compare(scols, srows, dcols, drows) -> str | None:
    """The first problem between Spark's and DuckDB's answer, or None."""
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duckdb={len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    ns, nd = norm_rows(scols, srows), norm_rows(dcols, drows)
    if ns != nd:
        diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:2]
        return f"values differ; first diffs (spark, duckdb): {diffs}"
    return None


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args[1:]) if args and os.path.isdir(args[0]) else set(args)
    queries = engine.get_queries()
    oracles = engine.get_oracles()
    unknown = sorted(only - set(queries))
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    names = sorted(only or queries)

    spark = engine.get_spark("oracle-check")
    con = duckdb.connect()
    for t in engine.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    n_exact = n_rows_only = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name in oracles:
                cur = con.execute(oracles[name])
                problem = compare(
                    scols, srows, [d[0] for d in cur.description], cur.fetchall()
                )
        except Exception:
            n_fail += 1
            print(f"ERR   {name}:\n{traceback.format_exc(limit=8)}")
            continue
        finally:
            spark.catalog.clearCache()
        took = f"[{time.time() - t0:.1f}s]"
        if name not in oracles:
            n_rows_only += 1
            print(f"ok    {name}: rows-only, {len(srows)} rows  {took}")
        elif problem:
            n_fail += 1
            print(f"DIFF  {name}: {problem[:500]}")
        else:
            n_exact += 1
            print(f"EXACT {name}: {len(srows)} rows  {took}")
    print(
        f"\n== {n_exact} EXACT, {n_rows_only} rows-only, {n_fail} DIFF/ERR"
        f" of {len(names)} =="
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
