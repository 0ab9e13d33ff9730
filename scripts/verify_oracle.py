"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin on the same
parquet, compares row count, column names, and an order-insensitive value
multiset. Usage: python scripts/verify_oracle.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    import datetime
    import math

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm(r[i]) for i in order) for r in rows)


def main() -> int:
    import os

    import __spark_entry__ as entrymod

    if os.environ.get("PLAIN_SESSION"):
        # mimic the driver: stock session, no engine-tuned config
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("plain_verify")
            .getOrCreate()
        )
    else:
        from littletable_spark import get_spark

        spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    attempted = 0
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        attempted += 1
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"okay {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"oracle error: {e}"))
            print(f"FAIL {name}: oracle error: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"schema mismatch: {sorted(scols)} vs {sorted(ocols)}"))
            print(f"FAIL {name}: schema {sorted(scols)} vs {sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rowcount {len(srows)} vs {len(orows)}"))
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        # the driver compares pandas frames, and pandas dtype conversion is
        # type-aware in ways fetchall() isn't: DuckDB HUGEINT (sum() of
        # ints) lands in pandas as float64 and hashes differently from
        # Spark's int64 even when values are numerically equal (Python's
        # 5.0 == 5 masks this in the multiset compare below). So compare
        # pandas dtype *kinds* per column the way the driver would see them.
        try:
            sp_kinds = {
                c: d.kind for c, d in sdf.limit(1000).toPandas().dtypes.items()
            }
            or_kinds = {
                c: d.kind
                for c, d in con.execute(
                    f"SELECT * FROM ({oracles[name]}) LIMIT 1000"
                ).df().dtypes.items()
            }
        except Exception:
            sp_kinds = or_kinds = {}
        type_mismatch = None
        for c in sorted(sp_kinds):
            sk, ok = sp_kinds.get(c), or_kinds.get(c)
            if sk and ok and sk != ok and {sk, ok} <= {"i", "f", "u"}:
                type_mismatch = f"column {c!r}: spark kind {sk!r} vs oracle {ok!r}"
                break
        if type_mismatch:
            failures.append((name, f"pandas dtype mismatch: {type_mismatch}"))
            print(f"FAIL {name}: pandas dtype mismatch: {type_mismatch}")
            continue
        ms, mo = multiset(srows, scols), multiset(orows, ocols)
        if ms != mo:
            diff = (ms - mo) + (mo - ms)
            sample = list(diff)[:3]
            failures.append((name, f"value mismatch, e.g. {sample}"))
            print(f"FAIL {name}: value mismatch ({sum(diff.values())} cells), e.g. {sample}")
            continue
        print(f"PASS {name} ({len(srows)} rows)")
    subset = " (subset)" if ONLY else ""
    print(f"\n{attempted - len(failures)}/{attempted} passed{subset}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
