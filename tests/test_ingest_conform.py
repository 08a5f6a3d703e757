"""One ingest path: every data-adding ``VersionedTable`` commit brings its
rows to the table definition in one place (``_conform``), so ``append``,
``upsert``, ``overwrite`` and ``overwrite_where`` answer a drifted frame
the same way, and ``create`` / REPLACE allocate identity ids before they
compute generated columns, as the ingest ops do."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators.manifest import VersionedTable

TABLE = "k bigint, v bigint"

#: op -> how it ingests a frame holding the row k = 3
INGEST = {
    "append": lambda t, df: t.append(df),
    "upsert": lambda t, df: t.upsert(df, ["k"], ["k"]),
    "overwrite": lambda t, df: t.overwrite(df),
    "overwrite_where": lambda t, df: t.overwrite_where(df, "k = 3"),
}

#: case -> (frame schema, its row, refusal phrase)
REFUSED = {
    "type_drift": ("k bigint, v string", (3, "x"), "type drift bigint → string"),
    "missing_column": ("k bigint", (3,), "drops column 'v'"),
}


def _table(spark, tmp_path):
    return VersionedTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([(1, 10), (2, 20)], TABLE)
    )


@pytest.mark.parametrize("case", sorted(REFUSED))
@pytest.mark.parametrize("op", sorted(INGEST))
def test_every_ingest_op_refuses_the_same_frames(spark, tmp_path, op, case):
    schema, row, phrase = REFUSED[case]
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError, match=phrase):
        INGEST[op](t, spark.createDataFrame([row], schema))
    assert t.head_version() == 0
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, 10), (2, 20)]
    # the table still takes a conforming frame
    t.append(spark.createDataFrame([(4, 40)], TABLE))
    assert t.read().count() == 3


@pytest.mark.parametrize("op", sorted(INGEST))
def test_every_ingest_op_adds_a_new_column_as_nullable(spark, tmp_path, op):
    t = _table(spark, tmp_path)
    INGEST[op](t, spark.createDataFrame([(3, 30, "n")], "k bigint, v bigint, w string"))
    assert t.read().schema.simpleString() == "struct<k:bigint,v:bigint,w:string>"
    kept = [] if op == "overwrite" else [(1, 10, None), (2, 20, None)]
    assert sorted(tuple(r) for r in t.read().collect()) == kept + [(3, 30, "n")]


@pytest.mark.parametrize("entry", ["create", "replace"])
def test_generated_column_may_read_an_identity_column(spark, tmp_path, entry):
    df = spark.createDataFrame([("a",), ("b",)], "x string").coalesce(1)
    kw = {"generated": {"g": "id * 10"}, "identity": {"id": {}}}
    path = str(tmp_path / "t")
    if entry == "create":
        t = VersionedTable.create(spark, path, df, **kw)
    else:
        t = VersionedTable.create(spark, path, spark.createDataFrame([(1,)], "k long"))
        t.overwrite(df, replace_schema=True, **kw)
    got = sorted((r["x"], r["id"], r["g"]) for r in t.read().collect())
    assert got == [("a", 1, 10), ("b", 2, 20)]
    assert t.identity_columns()["id"]["high"] == 2
    # the ingest ops compute the same definition
    t.append(spark.createDataFrame([("c",)], "x string"))
    assert all(r["g"] == r["id"] * 10 for r in t.read().collect())
