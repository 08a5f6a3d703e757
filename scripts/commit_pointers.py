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
MoR file sizing (updates on a partitioned and on a bucketed table). The
bucketed table ends with an upsert that adds a column; the identity
table takes every op that allocates ids (append, overwrite_where,
overwrite and a merge insert). The ``dv`` table hides a row behind a
MoR delete, then runs COW update, delete, merge and overwrite_where on
that row only; none of them finds a visible row, so none commits. The
``evo`` table takes every kind of column change: an append that adds a
column and a rename of it, an append that adds a reserved name, a drop
of a column a CHECK names only inside a string literal, and an evolving
merge that adds one column and widens another; the outcome of each (the
version it returns, or the class of its error) is recorded as
``evo/<op>``. A second,
fixed SQL sequence (``SQL_SEQUENCE``) runs one statement of every form
the ``sqldml`` grammar takes through ``timetravel.sql`` on small seeded
tables, and records each statement's result rows, or the class of the
error it raises, alongside the pointers its tables commit. Run it
against two checkouts and compare, to check that a change to the
commit path or to the SQL front end leaves every committed pointer,
every row and every statement result the same:

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

``dump`` runs the op sequence twice: on plain paths, and on ``file://``
URIs under a second scratch root, recorded as ``file:<table>/vNN``. A
table on a URI takes the non-POSIX path through the commit log, so
``compare`` checks the pointers that path commits too. The scratch root
is masked but a ``file://`` prefix is kept, so recorded table, CDC and
deletion-vector paths read ``file://<root>/...`` while data-file paths,
which must stay scheme-stripped, read ``<root>/...``; a data-file path
that gained the scheme shows as a difference.

Statement records are keyed ``sql/NN`` in sequence order and hold the
statement text, then ``columns`` and ``rows`` (sorted; commit
timestamps masked) or ``error``. The statements after
``SQL_FIXED_FROM`` run on their own table, ``sq_fix``, so a statement
one checkout refuses and the other executes shifts no version of the
other tables.
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


def _outcome(op) -> dict:
    """The version ``op()`` returns, or the class of the error it
    raises."""
    try:
        return {"version": op()}
    except Exception as e:  # noqa: BLE001 - the error class is the record
        return {"error": type(e).__name__}


def run_sequence(spark, root: str, scheme: str = "") -> tuple[dict[str, str], dict]:
    """Run the op sequence under ``root``, with every table path (and
    the COPY INTO source) prefixed by ``scheme``; returns table name ->
    path, and the outcome of each ``evo`` op (:func:`_outcome`)."""
    from social_media_etl_spark.operators.manifest import VersionedTable

    def df(rows, schema=SCHEMA, parts=1):
        return spark.createDataFrame(rows, schema).coalesce(parts)

    paths = {
        n: scheme + os.path.join(root, n)
        for n in ("a", "b", "c", "clone", "deep", "id", "dv", "evo")
    }

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
    a.copy_into(scheme + land, pattern="*.parquet")
    a.set_properties({"team": "etl", "smetl.dml.mode": "cow"}, txn="t2")
    # every file loaded: no commit
    a.copy_into(scheme + land, pattern="*.parquet")
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
    # an upsert that adds a column (append's additive evolution)
    c.upsert(
        spark.createDataFrame([(2, "u2", "even", 21, "w2")], SCHEMA + ", w string"),
        ["k"],
        ["x"],
    )

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
    ids.merge(
        spark.createDataFrame([("e", 50), ("f", 6)], "s string, x int"),
        on=["s"],
        when_not_matched_insert="*",
    )

    # -- table dv: copy-on-write ops whose only match a vector hides ---------
    dv = VersionedTable.create(spark, paths["dv"], df(_rows(0, 8), parts=2))
    dv.delete("k = 1", mode="mor")
    # each finds no visible row, so none commits
    dv.update("k = 1", {"s": "'x'"})
    dv.delete("k = 1")
    dv.merge(df([(1, "m1", "odd", 1)]), on=["k"], when_matched_update={"s": "s.s"})
    dv.overwrite_where(df([]), "k = 1")

    # -- table evo: every kind of column change ------------------------------
    evo = VersionedTable.create(
        spark, paths["evo"], df(_rows(0, 6), parts=2), constraints={"not_old": "s <> 'old'"}
    )
    ops = {
        # an append that adds a column, then a rename of it
        "append_new": lambda: evo.append(
            spark.createDataFrame([(6, "a6", "even", 60, "n6")], SCHEMA + ", note string")
        ),
        "rename_new": lambda: evo.rename_column("note", "remark"),
        # an append that adds a reserved name
        "append_reserved": lambda: evo.append(
            spark.createDataFrame(
                [(7, "a7", "odd", 70, "r7", "h")], SCHEMA + ", remark string, __s_hit string"
            )
        ),
        # a column the CHECK names only inside a string literal
        "add_old": lambda: evo.add_column("old", "string"),
        "drop_old": lambda: evo.drop_column("old"),
        # an evolving merge: adds tag, widens x
        "merge_evolving": lambda: evo.merge(
            spark.createDataFrame(
                [(1, "m1", "odd", 2**40, None, "t1"), (20, "m20", "even", 5, "r20", "t20")],
                "k long, s string, p string, x bigint, remark string, tag string",
            ),
            on=["k"],
            when_matched_update={"s": "s.s"},
            when_not_matched_insert="*",
            schema_evolution=True,
        ),
    }
    outcomes = {f"evo/{name}": _outcome(op) for name, op in ops.items()}
    return paths, outcomes


_SQ_ROWS = ", ".join(
    f"({i}, 'a{i}', '{'even' if i % 2 == 0 else 'odd'}', {i * 10})"
    for i in range(14)
)

#: one statement of every form the sqldml grammar takes, in order;
#: ``{root}`` is the scratch root
SQL_SEQUENCE = [
    "CREATE TABLE sq (k BIGINT NOT NULL, s STRING, p STRING, x INT, "
    "k2 BIGINT GENERATED ALWAYS AS (k * 2)) USING versioned "
    "LOCATION '{root}/sq' PARTITIONED BY (p) "
    "TBLPROPERTIES ('owner'='etl', 'team'='core')",
    f"INSERT INTO sq VALUES {_SQ_ROWS}",
    "INSERT INTO sq (k, s, p, x) SELECT id + 20, concat('b', id), 'even', "
    "CAST(id AS INT) FROM range(3)",
    "INSERT INTO sq (k, s, p) VALUES (30, 'c30', 'odd')",
    "INSERT INTO sq REPLACE WHERE k >= 20 AND k < 22 "
    "SELECT 20, 'rw20', 'even', 200",
    "UPDATE sq SET s = concat(s, '!'), x = x + 1 WHERE k < 3",
    "UPDATE sq SET s = 'WHEN MATCHED THEN DELETE' WHERE k = 3",
    "DELETE FROM sq WHERE k = 4",
    "CREATE TABLE sq_src (k BIGINT, s STRING, p STRING, x INT) "
    "USING versioned LOCATION '{root}/sq_src'",
    "INSERT INTO sq_src VALUES (5, 'u5', 'odd', 500), "
    "(6, 'del', 'even', 600), (40, 'n40', 'even', 4000)",
    "MERGE INTO sq AS tgt USING sq_src AS src ON tgt.k = src.k "
    "WHEN MATCHED AND src.s = 'del' THEN DELETE "
    "WHEN MATCHED THEN UPDATE SET s = src.s, x = tgt.x + src.x "
    "WHEN NOT MATCHED THEN INSERT (k, s, p, x) "
    "VALUES (src.k, src.s, src.p, src.x)",
    "MERGE INTO sq t USING (SELECT k, concat('st', s) AS s, p, x "
    "FROM sq_src WHERE k = 5) s ON t.k = s.k "
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    "MERGE INTO sq t USING sq_view s ON t.k = s.k "
    "WHEN MATCHED AND s.x > 100 THEN UPDATE SET x = s.x "
    "WHEN MATCHED THEN DELETE "
    "WHEN NOT MATCHED BY SOURCE AND t.k > 25 THEN UPDATE SET s = 'gone' "
    "WHEN NOT MATCHED BY SOURCE AND t.k = 0 THEN DELETE",
    "ALTER TABLE sq SET TBLPROPERTIES "
    "('smetl.dml.mode'='mor', 'owner'='ops')",
    "DELETE FROM sq WHERE k = 7",
    "UPDATE sq SET x = x + 100 WHERE k = 8",
    "ALTER TABLE sq UNSET TBLPROPERTIES ('owner', 'ghost')",
    "SHOW TBLPROPERTIES sq",
    "ALTER TABLE sq ADD COLUMN note STRING",
    "ALTER TABLE sq RENAME COLUMN note TO remark",
    "ALTER TABLE sq ADD COLUMN cnt INT",
    "ALTER TABLE sq ALTER COLUMN cnt TYPE BIGINT",
    "ALTER TABLE sq DROP COLUMN remark",
    "ALTER TABLE sq ADD CONSTRAINT k_small CHECK (k < 100000)",
    "ALTER TABLE sq DROP CONSTRAINT k_small",
    "ALTER TABLE sq CLEAR PARTITIONING",
    "ALTER TABLE sq SET PARTITIONED BY (p)",
    "ANALYZE TABLE sq COMPUTE STATISTICS FOR COLUMNS k, x",
    "ANALYZE TABLE sq COMPUTE STATISTICS FOR COLUMNS s BLOOM (p)",
    "OPTIMIZE sq WHERE k BETWEEN 0 AND 10",
    "OPTIMIZE sq ZORDER BY (k, x)",
    "SELECT count(*) AS n, sum(x) AS sx FROM sq",
    "SELECT k, s FROM sq VERSION AS OF 2",
    "SELECT count(*) AS n FROM table_changes('sq', 1, 3)",
    "DESCRIBE HISTORY sq",
    "DESCRIBE DETAIL sq",
    "SHOW CREATE TABLE sq",
    "RESTORE TABLE sq TO VERSION AS OF 3",
    "RESTORE TABLE sq TO TIMESTAMP AS OF '2999-01-01 00:00:00'",
    "VACUUM sq RETAIN 100 VERSIONS DRY RUN",
    "VACUUM sq",
    "COPY INTO sq_src FROM '{root}/sq_landing' FILEFORMAT = PARQUET "
    "PATTERN = '*.parquet'",
    "CREATE TABLE sq_clone SHALLOW CLONE sq VERSION AS OF 2 "
    "LOCATION '{root}/sq_clone'",
    "CREATE TABLE sq_deep DEEP CLONE sq LOCATION '{root}/sq_deep'",
    "CREATE TABLE sq_ctas USING versioned LOCATION '{root}/sq_ctas' "
    "AS SELECT k, x FROM sq WHERE k < 10",
    "INSERT OVERWRITE sq_ctas SELECT k, x FROM sq WHERE k >= 10",
    "CREATE OR REPLACE TABLE sq_ctas (k BIGINT, y DOUBLE) USING versioned "
    "LOCATION '{root}/sq_ctas' TBLPROPERTIES ('v'='2')",
    "CREATE TABLE sq_id (id BIGINT GENERATED ALWAYS AS IDENTITY "
    "(START WITH 100 INCREMENT BY 5), name STRING) USING versioned "
    "LOCATION '{root}/sq_id'",
    "INSERT INTO sq_id VALUES ('a'), ('b')",
    "INSERT INTO sq_id (name) SELECT 'c'",
    "DROP TABLE sq_deep",
    "DROP TABLE IF EXISTS sq_not_registered",
    "UPDATE sq WHERE k = 1",
    "MERGE INTO sq t USING sq_src s ON t.k > s.k WHEN MATCHED THEN DELETE",
    "DELETE FROM sq_not_registered WHERE k = 1",
    "CREATE TABLE sq_bad (k BIGINT) USING versioned",
    "ALTER TABLE sq FROBNICATE",
    # -- statements a text-level SQL front end gets wrong (quotes,
    # -- comments and alias-like text inside literals), on table sq_fix
    "CREATE TABLE sq_fix (k BIGINT, s STRING, x INT) USING versioned "
    "LOCATION '{root}/sq_fix'",
    "INSERT INTO sq_fix VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)",
    'UPDATE sq_fix SET s = "a, b" WHERE k = 1',
    'UPDATE sq_fix SET s = "x WHERE y" WHERE k = 2',
    "UPDATE sq_fix SET `s` = 'q' WHERE k = 3",
    "DELETE FROM sq_fix -- a comment\nWHERE k = 2",
    "MERGE INTO sq_fix AS o USING sq_src AS s ON (o.k = s.k) "
    "WHEN MATCHED THEN UPDATE SET s = 'o.x' "
    "WHEN NOT MATCHED THEN INSERT (k, s, x) VALUES (s.k, 'o.new', s.x)",
    'SELECT "sq_fix VERSION AS OF 0" AS s',
    "SELECT \"table_changes('sq_fix', 0)\" AS s",
    "INSERT INTO sq_fix (k, s) REPLACE WHERE k = 1 SELECT 1, 'z'",
    "ALTER TABLE sq_fix ADD COLUMN nn INT NOT NULL",
    "ALTER TABLE sq_fix SET TBLPROPERTIES ()",
    # -- CREATE OR REPLACE builds the table definition as CREATE does:
    # -- fresh field ids (a rename of a new column works) and the
    # -- reserved-name refusal
    "CREATE OR REPLACE TABLE sq_fix (k BIGINT, s STRING, x INT, w INT) "
    "USING versioned LOCATION '{root}/sq_fix'",
    "ALTER TABLE sq_fix RENAME COLUMN w TO w2",
    "CREATE OR REPLACE TABLE sq_fix (k BIGINT, __s_hit BOOLEAN) "
    "USING versioned LOCATION '{root}/sq_fix'",
]
SQL_FIXED_FROM = SQL_SEQUENCE.index(
    next(s for s in SQL_SEQUENCE if s.startswith("CREATE TABLE sq_fix"))
)
SQL_TABLES = ("sq", "sq_src", "sq_clone", "sq_deep", "sq_ctas", "sq_id", "sq_rt", "sq_fix")


def _result(df) -> dict:
    """Columns and sorted rows of a statement's result frame; commit
    timestamps (``*_ts_ms`` columns) masked."""
    cols = df.columns
    rows = []
    for r in df.collect():
        row = ["<ts>" if c.endswith("_ts_ms") else v for c, v in zip(cols, r)]
        rows.append(json.dumps(row, default=str))
    return {"columns": cols, "rows": sorted(rows)}


def run_sql_sequence(spark, root: str) -> tuple[dict[str, str], list[dict]]:
    """Run ``SQL_SEQUENCE`` under ``root``; returns table name -> path
    and one record per statement. After ``SHOW CREATE TABLE`` the
    emitted DDL is run again as table ``sq_rt``, its round trip."""
    from social_media_etl_spark.operators import timetravel as tt

    spark.createDataFrame(
        [(1, "v1", "odd", 150), (9, "v9", "odd", 5), (50, "v50", "even", 1)],
        SCHEMA,
    ).createOrReplaceTempView("sq_view")
    land = os.path.join(root, "sq_landing")
    spark.createDataFrame(_rows(60, 63, "l"), SCHEMA).coalesce(1).write.parquet(
        os.path.join(land, "batch")
    )
    for f in os.listdir(os.path.join(land, "batch")):
        if f.endswith(".parquet"):
            os.replace(os.path.join(land, "batch", f), os.path.join(land, "l0.parquet"))

    def run(stmt: str) -> dict:
        rec = {"stmt": stmt}
        try:
            rec.update(_result(tt.sql(spark, stmt)))
        except Exception as e:  # noqa: BLE001 - the error class is the record
            rec["error"] = type(e).__name__
        return rec

    records = []
    for stmt in SQL_SEQUENCE:
        records.append(run(stmt.replace("{root}", root)))
        if stmt.startswith("SHOW CREATE TABLE") and "rows" in records[-1]:
            ddl = json.loads(records[-1]["rows"][0])[0].split(";")[0]
            ddl = ddl.replace("TABLE sq ", "TABLE sq_rt ")
            records.append(run(ddl.replace(f"{root}/sq'", f"{root}/sq_rt'")))
    paths = {n: os.path.join(root, n) for n in SQL_TABLES}
    return {n: p for n, p in paths.items() if os.path.isdir(p)}, records


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
    from social_media_etl_spark.session import get_spark

    # the shuffle-partition count decides how many part files a
    # shuffled write leaves (read_where_in's input files in
    # prune_digest); get_spark takes it from SPARK_GRAFT_CPUS, so pin it
    # to the master's two cores and dumps compare across environments
    spark = get_spark(
        "commit-pointers",
        master="local[2]",
        extra_conf={"spark.sql.shuffle.partitions": "2"},
    )
    root = os.path.realpath(tempfile.mkdtemp(prefix="smetl_pointers_"))
    paths, record = run_sequence(spark, root)
    sql_paths, statements = run_sql_sequence(spark, root)
    paths.update(sql_paths)
    record.update(
        (f"sql/{i:02d}", _mask(rec, root)) for i, rec in enumerate(statements)
    )
    _dump_tables(spark, paths, root, "", record)
    # the same op sequence on file:// URIs: the tables' non-POSIX path
    froot = os.path.realpath(tempfile.mkdtemp(prefix="smetl_pointers_"))
    fpaths, foutcomes = run_sequence(spark, froot, "file://")
    record.update((f"file:{k}", v) for k, v in foutcomes.items())
    _dump_tables(spark, fpaths, froot, "file:", record)
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(f"{len(record)} pointers and statement records -> {out}")
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(froot, ignore_errors=True)


def _dump_tables(spark, paths: dict, root: str, prefix: str, record: dict) -> None:
    """Add each table's pointers and digests to ``record``, keyed
    ``<prefix><table>/vNN``; ``root`` is the scratch root the paths
    sit under, with or without a ``file://`` scheme."""
    from social_media_etl_spark.operators.manifest import VersionedTable

    for name, path in paths.items():
        t = VersionedTable(spark, path)
        mdir = os.path.join(path.removeprefix("file://"), "_manifests")
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
            record[f"{prefix}{name}/{fname[:-5]}"] = ptr


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
