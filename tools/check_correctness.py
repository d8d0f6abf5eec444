"""Local mirror of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given SF, compare row count + schema-sorted value multiset.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb

# the checkout this tool belongs to, not whichever one is installed
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from igtdetect_spark.oracle_types import audit_relation
    from igtdetect_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        dt_spark = time.time() - t0
        if name not in osql:
            print(f"rows  {name}: {len(rows)} rows ({dt_spark:.1f}s) [rows-only]")
            if len(rows) == 0 and name != "dedup_exact":
                print(f"  WARN {name}: 0 rows")
            continue
        t0 = time.time()
        try:
            rel = con.sql(osql[name])
            ocols = [d[0] for d in rel.description]
            # Type gate BEFORE hashing: fetchall() coerces HUGEINT to
            # Python int so value comparison cannot see the round-3
            # failure class — the driver's Arrow fetch path coerces it
            # differently and hash-fails. Reject the type itself.
            bad = audit_relation(rel)
            if bad:
                print(f"FAIL  {name}: oracle emits non-whitelisted types: {bad}")
                failures.append(name)
                continue
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        dt_duck = time.time() - t0
        ok_count = len(rows) == len(orows)
        ok_schema = sorted(c.lower() for c in cols) == sorted(c.lower() for c in ocols)
        h_s = value_hash(cols, rows)
        h_o = value_hash(ocols, orows)
        ok_hash = h_s == h_o
        status = "OK   " if (ok_count and ok_schema and ok_hash) else "FAIL "
        print(
            f"{status} {name}: spark={len(rows)} duck={len(orows)} "
            f"schema={'=' if ok_schema else '≠'} hash={'=' if ok_hash else '≠'} "
            f"({dt_spark:.1f}s/{dt_duck:.1f}s)"
        )
        if status.startswith("FAIL"):
            failures.append(name)
            if not ok_schema:
                print(f"   spark cols: {sorted(cols)}")
                print(f"   duck  cols: {sorted(ocols)}")
            if not ok_hash and ok_count and len(rows) <= 100000:
                # show first differing normalized line
                order_s = sorted(range(len(cols)), key=lambda i: cols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("\x1f".join(norm_cell(r[i]) for i in order_s) for r in rows)
                lo = sorted("\x1f".join(norm_cell(r[i]) for i in order_o) for r in orows)
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"   spark: {a[:200]}")
                        print(f"   duck : {b[:200]}")
                        break
                else:
                    if len(ls) != len(lo):
                        print(f"   row counts differ: {len(ls)} vs {len(lo)}")

    spark.stop()
    print("\n%d failures" % len(failures), failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
