"""GENERATED columns (r13 — Delta's GENERATED ALWAYS AS): declared at
create, computed when an ingest omits the column, validated in-plan
when one is supplied, refused as a DML assignment target (directly or
via their input columns), computed for MERGE inserts, and protocol-
gated behind the 'generated' table feature."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators.manifest import (
    UnsupportedTableFeatureError,
    VersionedTable,
)

GEN = {"v2": "v * 2", "tag": "concat(g, '-', cast(k as string))"}


def _mk(spark, tmp_path, with_cols=False, **kw):
    df = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(6)],
        "k long, g string, v double",
    )
    if with_cols:
        df = df.selectExpr("*", "v * 2 AS v2", "concat(g, '-', k) AS tag")
    return VersionedTable.create(
        spark, str(tmp_path / "t"), df, generated=GEN, **kw
    )


def test_create_computes_missing_generated(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rows = {r["k"]: r for r in t.read().collect()}
    assert rows[3]["v2"] == 6.0 and rows[3]["tag"] == "g1-3"
    assert t.generated_columns() == GEN
    assert "generated" in t._read_pointer(0)["features"]


def test_create_validates_supplied_generated(spark, tmp_path):
    t = _mk(spark, tmp_path, with_cols=True)  # correct values pass
    assert t.read().count() == 6
    bad = spark.createDataFrame(
        [(9, "x", 1.0, 999.0, "wrong")],
        "k long, g string, v double, v2 double, tag string",
    )
    with pytest.raises(Exception, match="generated column"):
        t.append(bad)
    assert t.head_version() == 0  # nothing committed


def test_append_upsert_overwrite_compute(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(10, "a", 5.0)], "k long, g string, v double"))
    assert {r["v2"] for r in t.read().filter("k = 10").collect()} == {10.0}
    t.upsert(
        spark.createDataFrame([(10, "a", 7.0)], "k long, g string, v double"),
        key_cols=["k"],
        order_cols=["v"],
    )
    assert {r["v2"] for r in t.read().filter("k = 10").collect()} == {14.0}
    t.overwrite(
        spark.createDataFrame([(1, "z", 3.0)], "k long, g string, v double")
    )
    assert [(r["v2"], r["tag"]) for r in t.read().collect()] == [(6.0, "z-1")]


def test_update_refuses_generated_and_inputs(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="GENERATED"):
        t.update("k = 0", {"v2": "0.0"})
    # v feeds v2; g and k feed tag — all refused
    for col in ("v", "g", "k"):
        with pytest.raises(ValueError, match="feed"):
            t.update("k = 0", {col: "NULL"})
    with pytest.raises(ValueError, match="GENERATED"):
        t.update("k = 0", {"v2": "0.0"}, mode="mor")
    assert t.head_version() == 0


def test_merge_insert_computes_generated(spark, tmp_path):
    t = _mk(spark, tmp_path)
    src = spark.createDataFrame(
        [(100, "m", 4.0)], "k long, g string, v double"
    )
    # dict-form insert: generated columns omitted, computed
    t.merge(
        src,
        on=["k"],
        when_not_matched_insert={"k": "s.k", "g": "s.g", "v": "s.v"},
    )
    got = t.read().filter("k = 100").collect()[0]
    assert got["v2"] == 8.0 and got["tag"] == "m-100"
    # star-form with the generated col supplied CORRECTLY passes
    src2 = spark.createDataFrame(
        [(200, "n", 3.0, 6.0, "n-200")],
        "k long, g string, v double, v2 double, tag string",
    )
    t.merge(src2, on=["k"], when_not_matched_insert="*")
    got = t.read().filter("k = 200").collect()[0]
    assert got["v2"] == 6.0
    # naming a generated column in the dict refuses
    with pytest.raises(ValueError, match="GENERATED|computed"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_insert={"k": "s.k", "v2": "1.0"},
        )
    # assigning an input column in matched-update refuses
    with pytest.raises(ValueError, match="feed"):
        t.merge(src, on=["k"], when_matched_update={"v": "s.v"})


def test_generated_delete_ok_and_feature_gate(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete("k = 0")  # deletes never diverge a generated column
    assert t.read().count() == 5
    # circular generation refused at create
    with pytest.raises(ValueError, match="generated"):
        VersionedTable.create(
            spark,
            str(tmp_path / "t2"),
            spark.createDataFrame([(1.0,)], "v double"),
            generated={"a": "v + 1", "b": "a * 2"},
        )
    # feature gating: a build without 'generated' support must refuse
    # (the gate reads the commit log's feature set)
    import social_media_etl_spark.operators.table_log as m

    old = m.SUPPORTED_FEATURES
    m.SUPPORTED_FEATURES = frozenset(old - {"generated"})
    try:
        with pytest.raises(UnsupportedTableFeatureError, match="generated"):
            VersionedTable(spark, t.path).read().collect()
    finally:
        m.SUPPORTED_FEATURES = old


def test_replace_schema_overwrite_drops_generation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.overwrite(
        spark.createDataFrame([(1,)], "other long"), replace_schema=True
    )
    assert t.generated_columns() == {}
    t.append(spark.createDataFrame([(2,)], "other long"))  # no enforcement
    assert t.read().count() == 2


def test_drop_generated_column_removes_generation(spark, tmp_path):
    """ADVICE r13 #3: dropping a generated column must also drop its
    map entry — a stale entry would resurrect the column (schema
    mismatch) on the very next ingest."""
    t = _mk(spark, tmp_path)
    t.drop_column("tag")
    assert "tag" not in t.generated_columns()
    assert t.read().columns == ["k", "g", "v", "v2"]
    # the ingest path stays alive: v2 still computes, tag is gone
    t.append(
        spark.createDataFrame([(20, "b", 4.0)], "k long, g string, v double")
    )
    row = t.read().filter("k = 20").collect()[0]
    assert row["v2"] == 8.0 and "tag" not in row.asDict()


def test_drop_column_feeding_generation_refused(spark, tmp_path):
    """Dropping a column a generation expression reads would break
    every later ingest (F.expr over a missing name) — refuse with the
    generated column named."""
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="generated column 'v2'"):
        t.drop_column("v")
    assert t.head_version() == 0


def test_rename_column_feeding_generation_refused(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="generated column 'tag'"):
        t.rename_column("g", "grp")
    assert t.head_version() == 0


def test_rename_generated_column_moves_map_key(spark, tmp_path):
    """Renaming the generated column itself moves the map key; later
    ingests compute under the NEW name and old footers resolve
    through the alias chain."""
    t = _mk(spark, tmp_path)
    t.rename_column("v2", "v_double")
    gen = t.generated_columns()
    assert "v2" not in gen and gen["v_double"] == "v * 2"
    t.append(
        spark.createDataFrame([(30, "c", 6.0)], "k long, g string, v double")
    )
    got = {r["k"]: r["v_double"] for r in t.read().collect()}
    assert got[30] == 12.0 and got[3] == 6.0  # new ingest + pre-rename file
