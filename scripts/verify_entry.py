"""Local stand-in for the driver's correctness gate: run every
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at sf0.01,
compare row counts, column names, and order-insensitive values."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from kg_microbe_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def canon(v):
    """Typed canonicalization — mirrors the driver's typed value hash.

    Round-1 lesson: str()-canonicalization hid a DuckDB SUM(BIGINT)→HUGEINT
    widening that the driver's typed hash caught (7 queries). Values now
    carry a type tag, with int-family types collapsed to 'int' ONLY for
    genuine Python ints — Decimal (DuckDB hugeint/decimal results) is kept
    distinct so a widened sum fails locally exactly like at the gate."""
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "float:NaN"
        return f"float:{v:.6f}"
    return f"{type(v).__name__}:{v}"


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def main():
    spark = get_spark(app_name="verify_entry")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = [n for n in sys.argv[2:] if n in qs]
    if only:
        qs = {n: qs[n] for n in only}
    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, SF_DIR)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows={len(srows)} (rows-only, no oracle)")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0].lower() for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"schema mismatch spark={scols} duck={dcols}"))
            print(f"FAIL  {name}: schema spark={scols} duck={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rowcount spark={len(srows)} duck={len(drows)}"))
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        _, ssig = frame_sig(scols, srows)
        _, dsig = frame_sig(dcols, drows)
        if ssig != dsig:
            diff = [(a, b) for a, b in zip(ssig, dsig) if a != b][:3]
            failures.append((name, f"value mismatch, first diffs: {diff}"))
            print(f"FAIL  {name}: values differ, e.g. {diff}")
            continue
        print(f"ok    {name}: rows={len(srows)} values match")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries verified")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
