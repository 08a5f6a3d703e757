"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and
order-insensitive values (exact string canonicalization — stricter than
a hash). Run:  python scripts/check_oracle.py [sf_dir] [only_query...]

Uses a VANILLA SparkSession (no repo confs) to replicate the driver's
environment exactly; set SMETL_TUNED_SESSION=1 to use session.get_spark.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import datetime
from pathlib import Path

import duckdb

# the checkout owning this script, so a copy checks its own code
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from social_media_etl_spark.catalog import TABLES  # noqa: E402


def _spark():
    if os.environ.get("SMETL_TUNED_SESSION"):
        from social_media_etl_spark.session import get_spark

        return get_spark("oracle-check")
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .appName("oracle-check-vanilla")
        .getOrCreate()
    )


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = _spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"  ~ {name}: rows-only ({len(srows)} rows, {spark_s:.1f}s)")
            continue
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            a, b = canon_rows(scols, srows), canon_rows(ocols, orows)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            failures += 1
            print(f"  ✗ {name}: " + "; ".join(problems))
        else:
            print(f"  ✓ {name} ({len(srows)} rows, {spark_s:.1f}s)")
    suffix = f" (filtered from {len(qs)})" if only else ""
    print(f"{'FAIL' if failures else 'OK'}: {ran - failures}/{ran} match{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
