"""ALTER TABLE surface (r12): ADD COLUMN as a metadata-only commit
(completing the evolution family add/rename/drop/widen — 'add' was
previously only implicit via additive appends) and ADD/DROP
CONSTRAINT (the Delta CHECK-constraint commands: add validates the
existing head first; both are metadata-only)."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    VersionedTable,
)


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


def _files(t, v=None):
    return set(t._read_manifest(t.head_version() if v is None else v)["files"])


# ------------------------------------------------------------ add_column


def test_add_column_is_metadata_only_and_null_fills(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    v = t.add_column("score", "double")
    assert v == 1
    assert _files(t, 1) == _files(t, 0)  # zero files moved
    got = {r["k"]: r["score"] for r in t.read().collect()}
    assert got == {1: None, 2: None}
    # time travel below the commit has no such column
    assert "score" not in t.read(0).columns
    # the new field minted a fresh id
    ids = t._read_pointer(1)["field_ids"]
    assert ids["score"] == max(ids.values())


def test_add_column_then_update_and_append(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.add_column("score", "double")
    t.update("k = 1", {"score": "9.5"})
    t.append(
        spark.createDataFrame([(3, "c", 1.0)], "k long, v string, score double")
    )
    got = {r["k"]: r["score"] for r in t.read().collect()}
    assert got == {1: 9.5, 2: None, 3: 1.0}


def test_add_column_refusals(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")])
    )
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("v", "string")
    with pytest.raises(ValueError, match="cannot parse type"):
        t.add_column("x", "not_a_type")
    t.rename_column("v", "w")
    with pytest.raises(ValueError, match="collides with a physical name"):
        t.add_column("v", "string")  # pre-rename alias still in footers
    t2 = VersionedTable.create(
        spark, str(tmp_path / "t2"), _df(spark, [(1, "a")])
    )
    t2.drop_column("v")
    with pytest.raises(ValueError, match="collides with a physical name"):
        t2.add_column("v", "string")  # tombstoned physical name


def test_add_column_skipped_by_change_feed(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")])
    )
    t.add_column("score", "double")
    v = t.append(
        spark.createDataFrame([(2, "b", 3.0)], "k long, v string, score double")
    )
    feed = t.read_change_feed(0, v).collect()
    assert [(r["_change_type"], r["k"]) for r in feed] == [("insert", 2)]
    # read_changes' append-only diff also survives the metadata commit
    assert sorted(
        r["k"] for r in t.read_changes(0, v).collect()
    ) == [2]


# --------------------------------------------------------- constraints


NESTED = (
    "struct<a:int,`b c`:array<map<string,decimal(10,2)>>,"
    "d:struct<`x.y`:timestamp,z:binary>>"
)


@pytest.mark.parametrize(
    "ddl",
    ["bigint", "decimal(38,6)", "timestamp_ntz", "date", "array<double>",
     "map<string,array<bigint>>", NESTED],
)
def test_null_fill_type_text_round_trips(spark, ddl):
    """The NULL-fill of a mixed projection is SQL text: its type text
    must parse back to the column's type, nested fields included."""
    from pyspark.sql import types as T

    from social_media_etl_spark.operators.manifest import _type_sql

    t = T._parse_datatype_string(ddl)
    got = spark.range(1).selectExpr(f"CAST(NULL AS {_type_sql(t)}) AS c")
    assert got.schema["c"].dataType == t


def test_change_feed_null_fills_a_column_added_after_the_range(
    spark, tmp_path
):
    """A struct column added after every commit of a feed range is
    NULL under its full nested type."""
    from pyspark.sql import types as T

    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")]),
        change_data_feed=True,
    )
    t.append(_df(spark, [(2, "b")]))
    t.add_column("meta", NESTED)
    feed = t.read_change_feed(0)
    assert feed.schema["meta"].dataType == T._parse_datatype_string(NESTED)
    assert [(r["k"], r["meta"]) for r in feed.collect()] == [(2, None)]


def test_add_constraint_validates_existing_head(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (-5, "b")])
    )
    with pytest.raises(Exception, match="k_pos"):
        t.add_constraint("k_pos", "k > 0")
    assert t.head_version() == 0  # nothing committed
    t.delete("k < 0")
    v = t.add_constraint("k_pos", "k > 0")
    assert t.constraints() == {"k_pos": "k > 0"}
    assert _files(t, v) == _files(t, v - 1)  # metadata-only


def test_added_constraint_enforced_by_later_commits(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")])
    )
    t.add_constraint("k_pos", "k > 0")
    with pytest.raises(VersionedTable.ConstraintViolation):
        t.append(_df(spark, [(-1, "x")]))
    with pytest.raises(VersionedTable.ConstraintViolation):
        t.update("k = 1", {"k": "-9"})
    # NULL passes, SQL CHECK semantics
    t.append(_df(spark, [(None, "n")]))
    assert t.read().count() == 2


def test_add_constraint_records_feature_and_dv_applied(spark, tmp_path):
    """Vector-hidden rows must not count as violations — the check
    reads DV-applied."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (-5, "b")])
    )
    t.delete("k < 0", mode="mor")  # -5 hidden by a vector, not gone
    v = t.add_constraint("k_pos", "k > 0")
    assert "constraints" in (t._read_pointer(v).get("features") or [])


def test_drop_constraint_stops_enforcement(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")])
    )
    t.add_constraint("k_pos", "k > 0")
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("typo")
    t.drop_constraint("k_pos")
    assert t.constraints() == {}
    t.append(_df(spark, [(-1, "x")]))  # no longer refused
    assert t.read().count() == 2


def test_alter_ops_stale_racing_dml(spark, tmp_path):
    """A predicate DML racing an add_constraint must raise, not
    rebase — the new CHECK changes what a valid commit means."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(i, "x") for i in range(8)]),
    )
    t2 = VersionedTable(spark, t.path)
    real_commit = t._try_commit

    def racing(m, v):
        if m.get("op") == "delete" and not getattr(racing, "raced", False):
            racing.raced = True
            t2.add_constraint("k_small", "k < 1000")
        return real_commit(m, v)

    t._try_commit = racing
    try:
        with pytest.raises(ConcurrentWriteError):
            t.delete("k = 3")
    finally:
        t._try_commit = real_commit


def test_reserved_internal_names_refused_everywhere(spark, tmp_path):
    """ADVICE r12: '__smetl_dv_file', '__smetl_dv_pos', 'smetl_pt*'
    and '__s_hit' used to commit fine via add_column/rename and only
    fail confusingly on a LATER MoR read / partitioned write / merge.
    The guard now refuses at DDL time, shared by create too."""
    import pytest

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    for bad in ("__smetl_dv_file", "__smetl_dv_pos", "smetl_pt",
                "smetl_pt3", "__s_hit"):
        with pytest.raises(ValueError, match="reserved"):
            t.add_column(bad, "string")
        with pytest.raises(ValueError, match="reserved"):
            t.rename_column("v", bad)
    # create refuses the same names up front
    bad_df = spark.createDataFrame(
        [(1, "x")], "k long, __smetl_dv_pos string"
    )
    with pytest.raises(ValueError, match="reserved"):
        VersionedTable.create(spark, str(tmp_path / "t2"), bad_df)
    # and so does every ingest that would add one as a new column
    for bad in ("__smetl_dv_file", "__s_hit"):
        wide = spark.createDataFrame([(2, "b", "z")], f"k long, v string, {bad} string")
        with pytest.raises(ValueError, match="reserved"):
            t.append(wide)
        with pytest.raises(ValueError, match="reserved"):
            t.upsert(wide, ["k"], ["v"])
        with pytest.raises(ValueError, match="reserved"):
            t.overwrite_where(wide, "k = 2")
    # table unchanged: head still commits normally after the refusals
    assert t.add_column("fresh", "string") == 1
    # a later MoR delete still reads the table
    t.delete("k = 1", mode="mor")
    assert t.read().count() == 0


def test_append_added_column_gets_a_field_id_and_renames(spark, tmp_path):
    """A column an append adds mints a field id, as add_column does, so
    a later rename of it works."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")])
    )
    t.append(spark.createDataFrame([(2, "b", 7)], "k long, v string, x int"))
    ids = t._read_pointer(1)["field_ids"]
    assert ids["x"] == max(ids.values()) == 3
    t.rename_column("x", "y")
    assert t._read_pointer(2)["field_ids"]["y"] == 3
    assert sorted((r["k"], r["y"]) for r in t.read().collect()) == [
        (1, None), (2, 7)
    ]


def test_column_references_skip_string_literals(spark, tmp_path):
    """A CHECK constraint that mentions a column name only inside a
    string literal does not reference it: drop and rename go through.
    A real reference still refuses both."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, "a", 1, 2)], "k long, s string, old int, o2 int"),
        constraints={"words": "s <> 'old' AND s <> 'k'", "o2_pos": "o2 > 0"},
    )
    t.drop_column("old")
    t.rename_column("k", "key")
    assert t.read().columns == ["key", "s", "o2"]
    with pytest.raises(ValueError, match="CHECK constraint 'o2_pos'"):
        t.drop_column("o2")
    with pytest.raises(ValueError, match="CHECK constraint 'o2_pos'"):
        t.rename_column("o2", "o3")


def test_overwrite_where_rebase_keeps_a_raced_added_column(spark, tmp_path):
    """overwrite_where re-checks its schema on the head it rebases onto:
    a racing append that added column z is never undone by the
    rebased commit."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(4)])
    )
    t2 = VersionedTable(spark, t.path)
    real_commit = t._try_commit

    def racing(m, v):
        if m.get("op") == "replace_where" and not getattr(racing, "raced", False):
            racing.raced = True
            t2.append(spark.createDataFrame([(9, "w", 1)], "k long, v string, z int"))
        return real_commit(m, v)

    t._try_commit = racing
    try:
        with pytest.raises(ValueError, match="drops column 'z'"):
            t.overwrite_where(_df(spark, [(1, "y")]), "k = 1")
    finally:
        t._try_commit = real_commit
    assert t._read_pointer(t.head_version())["op"] == "append"
    assert "z" in t.read().columns
