"""Whole-surface physical-plan audit: build every queries() plan and
flag the patterns that kill 100 TB runs.

Run:  python scripts/audit_plans.py [sf_dir]

Checks, per query:
- ``CartesianProduct`` — an unbounded cross join that will never
  finish at scale (broadcast nested-loop against a tiny side is fine
  and is NOT flagged).
- ``BatchEvalPython`` (scalar) — a row-at-a-time Python UDF in the
  plan; the engine's policy is built-in expressions or Arrow-batched
  mapInPandas/applyInPandas only. ``BatchEvalPythonUDTF`` is counted
  separately: the lateral Python UDTF surface (udtf_ngrams_count) is a
  deliberate API demonstration, not a hot-path operator.
- ``Exchange SinglePartition`` counts — reported (not failed): each
  occurrence must be a scalar aggregate, a one-row verification gate,
  or a documented global-order window (customer_value_deciles), never
  a corpus-sized frame. The pytest twin asserts the hard invariants;
  this script prints the census for review.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

# the checkout owning this script, so a copy checks its own code
REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from social_media_etl_spark.session import get_spark  # noqa: E402


def plan_of(df, mode: str = "simple") -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def audit(spark, sf_dir: str) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for name, fn in entry.queries().items():
        p = plan_of(fn(spark, sf_dir))
        udtf = p.count("BatchEvalPythonUDTF")
        out[name] = {
            "cartesian": p.count("CartesianProduct"),
            "row_udf": p.count("BatchEvalPython") - udtf,
            "udtf": udtf,
            "single_partition": p.count("Exchange SinglePartition"),
        }
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    results = audit(spark, sf_dir)
    bad = {
        k: v for k, v in results.items() if v["cartesian"] or v["row_udf"]
    }
    for name, v in sorted(results.items()):
        if v["cartesian"] or v["row_udf"] or v["single_partition"]:
            print(json.dumps({"query": name, **v}))
    print(
        json.dumps(
            {
                "queries": len(results),
                "cartesian_or_row_udf": len(bad),
                "ok": not bad,
            }
        )
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
