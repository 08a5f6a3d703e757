"""Dump .explain('formatted') for chosen queries() keys.

Usage: python scripts/dump_key_plans.py <checkout> <out_dir> <suffix> [key...]
Writes <out_dir>/<key>_<suffix>.txt for each key, planning the queries
of <checkout> against the data set in $SPARK_GRAFT_SF_DIR (default sf0.1).
Dump a parent and a changed checkout with two suffixes to diff plans.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

repo = os.path.abspath(sys.argv[1])
out_dir = os.path.abspath(sys.argv[2])
suffix = sys.argv[3]
keys = sys.argv[4:]
sys.path.insert(0, repo)
os.chdir(repo)

import __spark_entry__ as entrymod  # noqa: E402
from social_media_etl_spark.session import get_spark  # noqa: E402

os.makedirs(out_dir, exist_ok=True)
spark = get_spark("plan-dump")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
qs = entrymod.queries()
for k in keys:
    df = qs[k](spark, sf)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    path = os.path.join(out_dir, f"{k}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(buf.getvalue())
    print(k, "->", path)
