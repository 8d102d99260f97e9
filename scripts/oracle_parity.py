#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
`__spark_entry__.queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB over the same sf dir, compare row count, column names, and
order-insensitive values (columns sorted by name, rows sorted).

Usage: python scripts/oracle_parity.py [sf_dir] [query ...]

tests/test_oracle_parity.py runs the same comparison (`mismatch`) for
every query at sf0.001 inside pytest.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from horseman_article_parser_spark.session import get_spark  # noqa: E402


# Every oracle column must be one of these exact-comparable DuckDB types;
# floats/HUGEINT/DECIMAL hash differently driver-side (VERDICT r3 §wrong#1).
ALLOWED_ORACLE_TYPES = {"BIGINT", "INTEGER", "VARCHAR", "BOOLEAN"}


def normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def df_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per `entry.TABLES` table of `sf_dir`."""
    con = duckdb.connect()
    for t in entry.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(s_cols, s_rows, rel) -> str | None:
    """Compare Spark's result (column names, row tuples) with the DuckDB
    relation `rel`: oracle column types, column names, row count, then
    order-insensitive values. None when they agree, else what differs."""
    d_cols = [c.lower() for c in rel.columns]
    d_types = [str(t) for t in rel.types]
    d_rows = rel.fetchall()
    # Type lint: the driver's value hash is dtype-sensitive (HUGEINT /
    # DECIMAL / DOUBLE serialize differently from Spark's BIGINT), so
    # every oracle column must land in the exact-comparable set.
    bad_types = [
        (c, t)
        for c, t in zip(d_cols, d_types)
        if t not in ALLOWED_ORACLE_TYPES
    ]
    if bad_types:
        return f"TYPELINT non-exact oracle column types: {bad_types}"
    sc, sr = df_rows([c.lower() for c in s_cols], s_rows)
    dc, dr = df_rows(d_cols, d_rows)
    if sc != dc:
        return f"columns {sc} vs {dc}"
    if len(sr) != len(dr):
        return (f"rowcount {len(sr)} vs {len(dr)}\n"
                f"  spark sample: {sr[:3]}\n  duck  sample: {dr[:3]}")
    mism = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
    if mism:
        i = mism[0]
        return (f"{len(mism)}/{len(sr)} rows differ; first @{i}:\n"
                f"  cols : {sc}\n  spark: {sr[i]}\n  duck : {dr[i]}")
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-parity")
    con = duckdb_views(sf_dir)

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, {dt:.1f}s)")
            n_pass += 1
            continue
        try:
            problem = mismatch(s_cols, s_rows, con.sql(oracles[name]))
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if problem:
            print(f"FAIL {name}: {problem}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(s_rows)} rows, {dt:.1f}s)")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
