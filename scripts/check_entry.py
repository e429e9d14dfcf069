"""Mimic the driver's correctness gate: run every __spark_entry__.queries()
entry at sf0.01 on Spark AND its oracle_sql() on DuckDB; compare row count,
schema (column names), and an order-insensitive value hash.

Usage: python scripts/check_entry.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    """Order-insensitive: sort columns by name, normalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    lines = sorted("|".join(norm(row[i]) for i in order) for row in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from webindex.session import get_spark

    spark = get_spark(app="check-entry", master="local[8]", shuffle_partitions=8)
    failures = check(spark, sf_dir, sys.argv[2:])
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


def check(spark, sf_dir: str, only=()) -> list[str]:
    """Run every entry (or only the named ones) on `spark` and its oracle
    SQL on DuckDB over the same sf_dir; print one ok/FAIL line per entry and
    return the names that failed."""
    only = set(only)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            hs, ho = value_hash(srows, scols), value_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show a few differing rows for debugging
                sset = {tuple(map(str, r)) for r in srows}
                oset = {tuple(map(str, r)) for r in orows}
                extra_s = list(sset - oset)[:3]
                extra_o = list(oset - sset)[:3]
                problems.append(f"spark-only={extra_s} oracle-only={extra_o}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")
    con.close()
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
