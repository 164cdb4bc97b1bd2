"""Local differential harness mirroring the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column names,
and an order-insensitive TYPED value multiset.

Strictness matches the driver's comparator (the round-1 lesson — see
VERDICT.md "What's wrong" #1/#2): DuckDB results are fetched via
``.arrow()`` so type promotions survive (HUGEINT → decimal128 → Decimal),
cells are compared as ``(type, exact value)`` pairs with NO float rounding
and NO int normalization, and any oracle whose Arrow schema contains a
decimal column is flagged as a failure outright (Spark never emits decimal
for these queries, so a decimal column means an uncast integer aggregate
that WILL hash-mismatch under the driver even when values are equal).

Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as _dt
import math
import sys
import time
from decimal import Decimal

sys.path.insert(0, "/root/repo")

import duckdb

from data_pipeline_for_autonomous_vehicles_spark.caching import release_plan_caches

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v):
    """Typed normalization: two cells are equal iff the driver's typed hasher
    would serialize them identically. No cross-type coercion (int 5 != 5.0 !=
    Decimal(5)), no float rounding."""
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "nan")
        return ("float", repr(v))  # full precision — no %.9g collapse
    if isinstance(v, Decimal):
        return ("decimal", str(v))
    if isinstance(v, _dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(_norm_cell(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, _norm_cell(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    return (type(v).__name__, str(v))


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _duckdb_typed_rows(con, sql):
    """Fetch via Arrow so DuckDB type promotions are visible (fetchall()
    collapses HUGEINT to int and hides the driver-visible type)."""
    tbl = con.execute(sql).arrow()
    cols = tbl.column_names
    decimal_cols = [
        f"{f.name}:{f.type}" for f in tbl.schema if "decimal" in str(f.type)
    ]
    pydict = tbl.to_pydict()
    rows = list(zip(*[pydict[c] for c in cols])) if cols else []
    return cols, rows, decimal_cols


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from data_pipeline_for_autonomous_vehicles_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # the rows are collected, so free the query's caches and local
            # checkpoints: a full-registry sweep must not accumulate executor
            # storage, nor let one query's cache substitute into the next plan
            release_plan_caches()
            spark.catalog.clearCache()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            dcols, drows, decimal_cols = _duckdb_typed_rows(con, oracles[name])
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e).splitlines()[0]}")
            continue
        problems = []
        if decimal_cols:
            problems.append(
                f"oracle emits decimal columns {decimal_cols} — cast to BIGINT/DOUBLE"
            )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            a, b = _norm_rows(scols, srows), _norm_rows(dcols, drows)
            if a != b:
                diff = next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
                problems.append(f"typed values differ at sorted-row {diff[0]}: {diff[1]} vs {diff[2]}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
