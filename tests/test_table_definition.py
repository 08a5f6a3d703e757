"""One table definition: ``VersionedTable.create`` and REPLACE
(``overwrite(replace_schema=True)``, the primitive behind SQL ``CREATE OR
REPLACE TABLE``) check and build a definition in one place, so they refuse
the same bad definitions with the same message and build the same fields."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from social_media_etl_spark.operators.manifest import VersionedTable

BASE = ("k long, s string", [(1, "a")])

#: case -> (frame, kwargs the table is created with, kwargs of the
#: definition under test, phrase of the refusal); REPLACE creates its
#: base table with the first kwargs and passes the second to overwrite,
#: create takes both at once
CASES = {
    "reserved_name": (("k long, __s_hit boolean", [(1, True)]), {}, {}, "reserved"),
    "non_bigint_identity": (("id int, x string", []), {}, {"identity": {"id": {}}}, "BIGINT"),
    "circular_generated": (
        BASE,
        {},
        {"generated": {"a": "b + 1", "b": "k * 2"}},
        "generated column",
    ),
    "partition_with_bucket": (BASE, {"bucket_by": ("k", 2)}, {"partition_by": "s"}, "does not compose"),
}


def _frame(spark, frame):
    schema, rows = frame
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("entry", ["create", "replace"])
def test_create_and_replace_refuse_the_same_definitions(spark, tmp_path, entry, case):
    frame, table_kw, define_kw, phrase = CASES[case]
    df = _frame(spark, frame)
    path = str(tmp_path / "t")
    if entry == "create":
        with pytest.raises(ValueError, match=phrase):
            VersionedTable.create(spark, path, df, **table_kw, **define_kw)
        assert not VersionedTable(spark, path).versions()
        return
    t = VersionedTable.create(spark, path, _frame(spark, BASE), **table_kw)
    with pytest.raises(ValueError, match=phrase):
        t.overwrite(df, replace_schema=True, **define_kw)
    assert t.head_version() == 0


def test_create_refuses_an_unknown_bloom_column(spark, tmp_path):
    """REPLACE declares no bloom index (it carries the old one's live
    columns), so only create can name an unknown one."""
    with pytest.raises(ValueError, match="not in the table schema"):
        VersionedTable.create(spark, str(tmp_path / "t"), _frame(spark, BASE), bloom_cols=["nope"])


@pytest.mark.parametrize("evolve", ["rename", "drop"])
def test_analyze_after_a_bloom_column_moved(spark, tmp_path, evolve):
    """The bloom config keeps a renamed or dropped column's old name;
    analyze checks only the columns it adds, so it still indexes."""
    df = spark.createDataFrame([(1, "a", 10)], "k long, s string, y long")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df, bloom_cols=["y"])
    if evolve == "rename":
        t.rename_column("y", "z")
    else:
        t.drop_column("y")
    assert t.analyze(stats_cols=["k"]) == 2
    ptr = t._read_pointer(2)
    assert ptr["stats_cols"] == ["k"]
    assert ptr["bloom"]["cols"] == ["y"]


def test_replace_mints_fresh_field_ids_so_new_columns_rename(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), spark.createDataFrame([(1,)], "k long"))
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, y string"), replace_schema=True)
    assert t._read_pointer(1)["field_ids"] == {"k": 1, "y": 2}
    t.rename_column("y", "z")
    assert [tuple(r) for r in t.read().collect()] == [(2, "b")]
    assert t.read().columns == ["k", "z"]
    assert t._read_pointer(2)["field_ids"] == {"k": 1, "z": 2}


def test_replace_with_identity_keeps_the_table_appendable(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), spark.createDataFrame([(1,)], "k long"))
    t.overwrite(
        spark.createDataFrame([], "id bigint, x string"),
        replace_schema=True,
        identity={"id": {"start": 10, "step": 1}},
    )
    t.append(spark.createDataFrame([("a",), ("b",)], "x string").coalesce(1))
    got = sorted(tuple(r) for r in t.read().select("id", "x").collect())
    assert got == [(10, "a"), (11, "b")]
    assert t.read().schema["id"].dataType.simpleString() == "bigint"


def test_replace_builds_what_create_builds(spark, tmp_path):
    """The same definition built by create and by REPLACE records the
    same definition fields."""
    df = _frame(spark, BASE).withColumn("n", F.lit(None).cast("bigint"))
    kw = {
        "partition_by": "s",
        "generated": {"k2": "k * 2"},
        "constraints": {"k_pos": "k > 0"},
        "identity": {"id": {"start": 5, "step": 2}},
    }
    made = VersionedTable.create(spark, str(tmp_path / "c"), df, **kw)
    t = VersionedTable.create(spark, str(tmp_path / "r"), spark.createDataFrame([(1,)], "k long"))
    t.overwrite(df, replace_schema=True, **kw)
    keys = ("schema", "mixed", "partition_by", "generated", "constraints", "identity", "field_ids", "features")
    a, b = made._read_pointer(0), t._read_pointer(1)
    assert {k: a.get(k) for k in keys} == {k: b.get(k) for k in keys}


def test_replace_starts_a_fresh_column_mapping(spark, tmp_path):
    """A REPLACE that reuses a renamed column's old name gets a column of
    its own: no alias chain of the old table reads it into another one."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), spark.createDataFrame([(1, "a")], "k long, y string"))
    t.rename_column("y", "z")  # z's alias chain holds y
    t.overwrite(
        spark.createDataFrame([(1, "zv", "yv"), (2, None, "y2")], "k long, z string, y string"),
        replace_schema=True,
    )
    assert not t._read_pointer(2).get("aliases")
    t.rename_column("k", "kk")  # a rename makes the read footer-merged
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == [(1, "zv", "yv"), (2, None, "y2")]


def test_replace_keeps_the_feed_mapping_of_a_renamed_column(spark, tmp_path):
    """A REPLACE that redeclares a renamed column keeps its alias chain,
    so the change feed still shows the rows committed before the rename
    under the new name."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([(1, "a")], "k long, y string"), change_data_feed=True
    )
    t.rename_column("y", "z")
    t.overwrite(spark.createDataFrame([(2, "b")], "k long, z string"), replace_schema=True)
    assert t._read_pointer(2)["aliases"] == {"z": ["y"]}
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["z"])
        for r in t.read_change_feed(-1).collect()
    )
    assert got == [(0, "insert", 1, "a"), (2, "delete", 1, "a"), (2, "insert", 2, "b")]
