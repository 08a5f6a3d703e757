"""Dump every manifest pointer a fixed VersionedTable op sequence commits,
or compare two such dumps.

The sequence calls every commit method of ``VersionedTable`` (create,
append, copy_into, upsert, overwrite with and without replace_schema,
restore, clone and replace-clone, deep_clone, add_column,
set/unset_properties, add/drop_constraint, analyze, rename/drop/widen
column, set_partition_spec, COW and MoR delete, update and merge,
overwrite_where, scoped and full optimize) on small seeded tables. The
MoR ops cover every clause kind (a merge with matched-delete and
by-source clauses on the change-feed table) and both layout branches of
MoR file sizing (updates on a partitioned and on a bucketed table). Run
it against two checkouts and compare, to check that a change to the
commit path leaves every committed pointer and every row the same:

    python scripts/commit_pointers.py dump <checkout> <out.json>
    python scripts/commit_pointers.py compare <before.json> <after.json>

A dump holds, per table and version, the pointer JSON with each segment
name replaced by that segment's body. Names derived from uuids (data,
CDC and deletion-vector directories, part files, segment files) and the
scratch root are masked. ``compare`` drops keys whose value is null,
false or empty on both sides before comparing: every reader takes those
keys with ``.get()`` and an empty default, so absent and empty mean the
same. Each version's record also carries ``rows_digest``, a sha256 of
the sorted rows read at that version; ``changes_digest``, the same of
``read_changes`` over that one version, which checks the added-rows
change feed against every commit op; and on table ``a`` (the
change-feed table) ``feed_digest``, the same of its typed change feed
over that one version. ``prune_digest`` covers the file index at that
version: ``pruned_file_count`` (a range on ``k``), ``pruned_file_count_eq``
(``s``, table ``a``'s bloom column), ``pruned_file_count_null`` (``x``, both
ways), ``merge_scan_file_count`` and the input-file count of
``read_where_in``, each on the fixed probes of ``PRUNE_PROBES``. A read
that raises records its error class. It exits 1 if any pointer or
digest differs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile

_UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    r"|[0-9a-f]{32}"
    r"|(?<=-)[0-9a-f]{8,12}(?=[/.]|$)"
)

SCHEMA = "k long, s string, p string, x int"


def _rows(lo: int, hi: int, tag: str = "a") -> list[tuple]:
    return [(i, f"{tag}{i}", "even" if i % 2 == 0 else "odd", i * 10) for i in range(lo, hi)]


def run_sequence(spark, root: str) -> dict[str, str]:
    """Run the op sequence under ``root``; returns table name -> path."""
    from social_media_etl_spark.operators.manifest import VersionedTable

    def df(rows, schema=SCHEMA, parts=1):
        return spark.createDataFrame(rows, schema).coalesce(parts)

    paths = {n: os.path.join(root, n) for n in ("a", "b", "c", "clone", "deep", "id")}

    # -- table a: stats, bloom, change feed, constraints, generated ----------
    a = VersionedTable.create(
        spark,
        paths["a"],
        df(_rows(0, 40), parts=4),
        txn="t0",
        stats_cols=["k"],
        constraints={"k_nonneg": "k >= 0"},
        change_data_feed=True,
        bloom_cols=["s"],
        bloom_bits=256,
    )
    a.append(df(_rows(40, 50)), txn="t1")
    land = os.path.join(root, "landing")
    for i, (lo, hi) in enumerate(((50, 55), (55, 60))):
        df(_rows(lo, hi)).write.parquet(os.path.join(land, f"batch{i}"))
        os.replace(
            next(
                os.path.join(land, f"batch{i}", f)
                for f in os.listdir(os.path.join(land, f"batch{i}"))
                if f.endswith(".parquet")
            ),
            os.path.join(land, f"f{i}.parquet"),
        )
    a.copy_into(land, pattern="*.parquet")
    a.set_properties({"team": "etl", "smetl.dml.mode": "cow"}, txn="t2")
    a.copy_into(land, pattern="*.parquet")  # every file loaded: no commit
    a.upsert(df([(3, "up3", "odd", 31), (70, "new70", "even", 700)]), ["k"], ["x"])
    a.delete("k = 5", txn="t3", prune=[("k", 5, 5)])
    a.delete("k = 7", mode="mor")
    a.update("k = 9", {"s": "'upd9'"}, txn="t4")
    a.update("k = 11", {"x": "x + 1"}, mode="mor")
    a.merge(
        df([(13, "m13", "odd", 1), (80, "m80", "even", 2)]),
        on=["k"],
        when_matched_update={"s": "s.s"},
        when_not_matched_insert="*",
    )
    a.merge(
        df([(15, "m15", "odd", 1), (81, "m81", "odd", 2)]),
        on=["k"],
        when_matched_update={"s": "s.s"},
        when_not_matched_insert="*",
        mode="mor",
    )
    a.merge(
        df([(17, "m17", "odd", 1), (19, "del", "odd", 2), (82, "m82", "even", 3)]),
        on=["k"],
        when_matched_delete="s.s = 'del'",
        when_matched_update={"x": "s.x"},
        when_not_matched_by_source_delete="t.k = 23",
        when_not_matched_insert="*",
        mode="mor",
    )
    a.overwrite_where(df([(20, "rw20", "even", 200)]), "k >= 20 AND k < 22", txn="t5")
    a.add_column("extra", "string", txn="t6")
    a.analyze(stats_cols=["x"], bloom_cols=["p"])
    a.add_constraint("x_small", "x < 100000")
    a.drop_constraint("x_small")
    a.rename_column("p", "parity")
    a.widen_column("x", "bigint")
    a.drop_column("extra")
    a.optimize(target_files=1, where=[("k", 0, 15)])
    a.optimize(target_files=2, recluster_by="k")
    a.restore(3, txn="t7")
    a.unset_properties(["team"])
    a.clone(paths["clone"])
    clone = VersionedTable(spark, paths["clone"])
    clone.set_properties({"branch": "dev"})
    clone.append(df(_rows(100, 103)))
    a.clone(paths["clone"], version=2, replace=True)
    a.deep_clone(paths["deep"], version=5)
    a.overwrite(df(_rows(200, 210), parts=2), txn="t8")
    a.overwrite(
        spark.createDataFrame([(1, "z")], "k long, name string"),
        replace_schema=True,
        properties={"reset": "yes"},
        constraints={"k_pos": "k > 0"},
    )

    # -- table b: partition spec evolution -----------------------------------
    b = VersionedTable.create(spark, paths["b"], df(_rows(0, 12), parts=2), partition_by="p")
    b.append(df(_rows(12, 16)))
    b.set_partition_spec(None)
    b.append(df(_rows(16, 20)))
    b.set_partition_spec(["p"])
    b.update("k >= 10 AND k < 14", {"x": "x + 1"}, mode="mor")
    b.delete("k < 3")
    b.optimize(target_files=1)

    # -- table c: bucketed ---------------------------------------------------
    c = VersionedTable.create(spark, paths["c"], df(_rows(0, 16), parts=2), bucket_by=("k", 4))
    c.append(df(_rows(16, 20)))
    c.update("k = 2", {"s": "'b2'"})
    c.update("k >= 5 AND k < 9", {"x": "x + 1"}, mode="mor")

    # -- table id: identity + generated columns ------------------------------
    ids = VersionedTable.create(
        spark,
        paths["id"],
        spark.createDataFrame([("a", 1), ("b", 2)], "s string, x int").coalesce(1),
        identity={"id": {"start": 100, "step": 10}},
        generated={"x2": "x * 2"},
    )
    ids.append(spark.createDataFrame([("c", 3)], "s string, x int"))
    ids.overwrite_where(spark.createDataFrame([("d", 4)], "s string, x int"), "x >= 3")
    ids.overwrite(spark.createDataFrame([("e", 5)], "s string, x int"))
    return paths


def _mask(obj, root: str):
    if isinstance(obj, str):
        s = obj.replace("file:" + root, "<root>").replace(root, "<root>")
        return _UUID.sub("U", s)
    if isinstance(obj, list):
        return [_mask(v, root) for v in obj]
    if isinstance(obj, dict):
        # keys may be masked file paths: keep every entry, sorted
        items = sorted(([_mask(k, root), _mask(v, root)] for k, v in obj.items()), key=json.dumps)
        if len({json.dumps(k) for k, _ in items}) == len(items):
            return {k: v for k, v in items}
        return {"<entries>": items}
    return obj


def _digest(read) -> str:
    """sha256 of the sorted rows of ``read()``, or the error it raises."""
    try:
        df = read()
        rows = sorted(json.dumps(list(r), default=str) for r in df.collect())
    except Exception as e:  # noqa: BLE001 - the error class is the record
        return f"error: {type(e).__name__}"
    return hashlib.sha256(json.dumps([df.columns, rows]).encode()).hexdigest()


#: the fixed probes of ``prune_digest``: a range on a stats column, a
#: point on a bloom column, a null-census column, and a key list that
#: reaches several files
PRUNE_PROBES = {"range": ("k", 10, 20), "eq": ("s", "a3"), "null": "x", "keys": [3, 13, 70]}


def _prune_digest(spark, t, v: int) -> str:
    """sha256 of the file index's answers at version ``v``, each answer
    (or the error class it raises) recorded separately."""
    col, lo, hi = PRUNE_PROBES["range"]
    eq_col, eq_val = PRUNE_PROBES["eq"]
    null_col, keys = PRUNE_PROBES["null"], PRUNE_PROBES["keys"]
    probes = {
        "range": lambda: t.pruned_file_count(col, lo, hi, version=v),
        "eq": lambda: t.pruned_file_count_eq(eq_col, eq_val, version=v),
        "null": lambda: t.pruned_file_count_null(null_col, version=v),
        "not_null": lambda: t.pruned_file_count_null(null_col, version=v, want_null=False),
        "merge": lambda: t.merge_scan_file_count(
            spark.createDataFrame([(k,) for k in keys], "k long"), ["k"], version=v
        ),
        "in": lambda: len(t.read_where_in("k", keys, version=v).inputFiles()),
    }
    out = {}
    for name, probe in probes.items():
        try:
            out[name] = probe()
        except Exception as e:  # noqa: BLE001 - the error class is the record
            out[name] = f"error: {type(e).__name__}"
    return hashlib.sha256(json.dumps(out, sort_keys=True).encode()).hexdigest()


def dump(checkout: str, out: str) -> None:
    sys.path.insert(0, os.path.abspath(checkout))
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.session import get_spark

    spark = get_spark("commit-pointers", master="local[2]")
    root = os.path.realpath(tempfile.mkdtemp(prefix="smetl_pointers_"))
    paths = run_sequence(spark, root)
    record: dict = {}
    for name, path in paths.items():
        t = VersionedTable(spark, path)
        mdir = os.path.join(path, "_manifests")
        for fname in sorted(os.listdir(mdir)):
            if not re.fullmatch(r"v\d{8}\.json", fname):
                continue
            with open(os.path.join(mdir, fname)) as fh:
                ptr = json.load(fh)
            segs = []
            for seg in ptr.get("segments") or []:
                with open(os.path.join(mdir, seg)) as fh:
                    body = json.load(fh)
                body["files"] = sorted(body.get("files") or [])
                segs.append(body)
            if "segments" in ptr:
                ptr["segments"] = segs
            v = int(fname[1:-5])
            ptr = _mask(ptr, root)
            ptr["rows_digest"] = _digest(lambda: t.read(v))
            if v > 0:
                ptr["changes_digest"] = _digest(lambda: t.read_changes(v - 1, v))
            if name == "a" and v > 0:
                ptr["feed_digest"] = _digest(lambda: t.read_change_feed(v - 1, v))
            ptr["prune_digest"] = _prune_digest(spark, t, v)
            record[f"{name}/{fname[:-5]}"] = ptr
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(f"{len(record)} pointers -> {out}")
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


def _significant(ptr: dict) -> dict:
    return {k: v for k, v in ptr.items() if v not in (None, False, [], {})}


def compare(before_path: str, after_path: str) -> int:
    with open(before_path) as fh:
        before = json.load(fh)
    with open(after_path) as fh:
        after = json.load(fh)
    bad = 0
    for key in sorted(set(before) | set(after)):
        b, a = before.get(key), after.get(key)
        if b is None or a is None:
            print(f"{key}: only in {'after' if b is None else 'before'}")
            bad += 1
            continue
        b, a = _significant(b), _significant(a)
        for field in sorted(set(b) | set(a)):
            if b.get(field) != a.get(field):
                print(f"{key}: {field}: {json.dumps(b.get(field))[:200]} -> {json.dumps(a.get(field))[:200]}")
                bad += 1
    print(f"{len(before)} vs {len(after)} pointers, {bad} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "dump":
        dump(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
