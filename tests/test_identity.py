"""GENERATED ALWAYS AS IDENTITY columns (r15, VERDICT r14 #7 — the
Delta identity-column contract): engine-owned monotonic BIGINT
sequences declared at CREATE, allocated per-partition-range (no
global shuffle) by every ingesting commit, watermarked in the
manifest, refused on explicit writes, and round-tripped by SHOW
CREATE TABLE."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators import timetravel as tt
from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    VersionedTable,
)


def _mk_identity(spark, tmp_path, start=1, step=1):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    return VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([], schema),
        identity={"id": {"start": start, "step": step}},
    )


def _vals(spark, *names):
    return spark.createDataFrame([(n,) for n in names], "v string")


def test_identity_unique_and_monotonic_across_appends(spark, tmp_path):
    t = _mk_identity(spark, tmp_path, start=10, step=2)
    assert t.identity_columns() == {
        "id": {"start": 10, "step": 2, "high": 8}
    }
    t.append(_vals(spark, "a", "b", "c"))
    first = {r["v"]: r["id"] for r in t.read().collect()}
    assert all(i >= 10 and i % 2 == 0 for i in first.values())
    assert len(set(first.values())) == 3
    wm1 = t.identity_columns()["id"]["high"]
    assert wm1 == max(first.values())
    t.append(_vals(spark, "d", "e"))
    rows = {r["v"]: r["id"] for r in t.read().collect()}
    assert len(set(rows.values())) == 5  # unique across commits
    # strictly monotonic across commits: every batch-2 id beyond wm1
    assert all(rows[v] > wm1 for v in ("d", "e"))
    assert t.identity_columns()["id"]["high"] == max(rows.values())


def test_identity_descending_step(spark, tmp_path):
    t = _mk_identity(spark, tmp_path, start=0, step=-1)
    t.append(_vals(spark, "a", "b"))
    ids1 = sorted(r["id"] for r in t.read().collect())
    assert all(i <= 0 for i in ids1)
    wm = t.identity_columns()["id"]["high"]
    assert wm == min(ids1)
    t.append(_vals(spark, "c"))
    ids2 = [
        r["id"] for r in t.read().collect() if r["v"] == "c"
    ]
    assert ids2[0] < wm


def test_identity_explicit_write_refused(spark, tmp_path):
    t = _mk_identity(spark, tmp_path)
    with pytest.raises(ValueError, match="IDENTITY"):
        t.append(
            spark.createDataFrame([(5, "x")], "id long, v string")
        )
    with pytest.raises(ValueError, match="IDENTITY"):
        t.update("v = 'a'", {"id": "1"})
    with pytest.raises(ValueError, match="IDENTITY"):
        # an INSERT * source CARRYING the identity column refuses
        t.merge(
            spark.createDataFrame([(5, "x")], "id long, v string"),
            on=["v"],
            when_not_matched_insert="*",
        )
    with pytest.raises(ValueError, match="IDENTITY"):
        t.upsert(
            spark.createDataFrame([(1, "x")], "id long, v string"),
            ["id"],
            ["id"],
        )


def test_identity_merge_insert_allocates(spark, tmp_path):
    """MERGE inserts allocate ids like append (Delta's identity +
    MERGE contract): unique, beyond the pre-merge watermark, and the
    watermark advances; matched updates leave existing ids alone."""
    t = _mk_identity(spark, tmp_path)
    t.append(_vals(spark, "a", "b"))
    wm = t.identity_columns()["id"]["high"]
    ids_before = {r["v"]: r["id"] for r in t.read().collect()}
    src = spark.createDataFrame(
        [("a", "A"), ("z", "Z")], "v string, tag string"
    )
    t.merge(
        src.select("v"),
        on=["v"],
        when_matched_update={"v": "concat(t.v, '!')"},
        when_not_matched_insert="*",
    )
    rows = {r["v"]: r["id"] for r in t.read().collect()}
    assert set(rows) == {"a!", "b", "z"}
    assert rows["a!"] == ids_before["a"]  # update kept the id
    assert rows["b"] == ids_before["b"]
    assert rows["z"] > wm  # insert allocated beyond the watermark
    assert len(set(rows.values())) == 3
    assert t.identity_columns()["id"]["high"] == max(rows.values())


def test_identity_merge_key_refusals(spark, tmp_path):
    """Merging ON the identity column with an insert clause is
    contradictory and refuses; an update-only merge keyed on the
    identity column is the standard surrogate-key update and works."""
    t = _mk_identity(spark, tmp_path)
    t.append(_vals(spark, "a", "b"))
    ids = {r["v"]: r["id"] for r in t.read().collect()}
    with pytest.raises(ValueError, match="contradictory"):
        t.merge(
            spark.createDataFrame([(ids["a"],)], "id long"),
            on=["id"],
            when_not_matched_insert="*",
        )
    v = t.merge(
        spark.createDataFrame(
            [(ids["a"], "a2")], "id long, v2 string"
        ),
        on=["id"],
        when_matched_update={"v": "s.v2"},
    )
    assert v == t.head_version()
    assert sorted(r["v"] for r in t.read().collect()) == ["a2", "b"]


def test_identity_validation_refusals(spark, tmp_path):
    from pyspark.sql import types as T

    with pytest.raises(ValueError, match="INCREMENT BY 0"):
        _mk_identity(spark, tmp_path, step=0)
    with pytest.raises(ValueError, match="BIGINT"):
        VersionedTable.create(
            spark,
            str(tmp_path / "t2"),
            spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType()),
                    ]
                ),
            ),
            identity={"id": {"start": 1, "step": 1}},
        )
    with pytest.raises(ValueError, match="both"):
        VersionedTable.create(
            spark,
            str(tmp_path / "t3"),
            spark.createDataFrame([("a",)], "v string"),
            generated={"id": "length(v)"},
            identity={"id": {"start": 1, "step": 1}},
        )


def test_identity_overwrite_continues_sequence(spark, tmp_path):
    """A truncate-and-load keeps the watermark — ids are never
    reused across a full refresh (Delta's contract)."""
    t = _mk_identity(spark, tmp_path)
    t.append(_vals(spark, "a", "b"))
    wm = t.identity_columns()["id"]["high"]
    t.overwrite(_vals(spark, "c", "d"))
    ids = [r["id"] for r in t.read().collect()]
    assert all(i > wm for i in ids)


def test_identity_rebase_race_refuses(spark, tmp_path):
    """A concurrent append that advanced the watermark makes the
    loser's staged ids stale — the rebase refuses so a re-run
    reallocates (uniqueness survives the race). The refusal lives in
    the commit path, so it fires for every op that allocates ids:
    append, INSERT ... REPLACE WHERE and a MERGE insert clause."""
    losers = {
        "append": lambda t, df: t.append(df),
        "replace_where": lambda t, df: t.overwrite_where(df, "v = 'loser'"),
        "merge": lambda t, df: t.merge(df, on=["v"], when_not_matched_insert="*"),
    }
    orig = VersionedTable._try_commit
    for op, ingest in losers.items():
        t = _mk_identity(spark, tmp_path / op)
        t.append(_vals(spark, "a"))
        state = {"fired": False}

        def inject(self, man, ver, t=t, op=op, state=state):
            if not state["fired"] and man.get("op") == op:
                state["fired"] = True
                # the winner lands first, advancing the watermark
                other = VersionedTable(spark, t.path)
                other.append(_vals(spark, "winner"))
                return False
            return orig(self, man, ver)

        VersionedTable._try_commit = inject
        try:
            with pytest.raises(ConcurrentWriteError, match="identity"):
                ingest(t, _vals(spark, "loser"))
        finally:
            VersionedTable._try_commit = orig
        assert state["fired"], op
        # winner's ids are intact and unique; a re-run then succeeds
        ingest(t, _vals(spark, "loser"))
        ids = [r["id"] for r in t.read().collect()]
        assert len(set(ids)) == len(ids) == 3, op


def test_identity_rename_drop_maintain_map(spark, tmp_path):
    t = _mk_identity(spark, tmp_path)
    t.append(_vals(spark, "a"))
    t.rename_column("id", "rid")
    assert "rid" in t.identity_columns()
    wm = t.identity_columns()["rid"]["high"]
    t.append(_vals(spark, "b"))
    ids = [r["rid"] for r in t.read().collect()]
    assert len(set(ids)) == 2 and max(ids) > wm
    t.drop_column("rid")
    assert t.identity_columns() == {}
    t.append(_vals(spark, "c"))  # plain append again
    assert t.read().columns == ["v"]


def test_identity_feature_gates_old_writers(spark, tmp_path):
    """The 'identity' protocol feature is recorded at create — a
    build without it must refuse rather than ingest unallocated
    rows."""
    t = _mk_identity(spark, tmp_path)
    feats = t._read_pointer(0).get("features") or []
    assert "identity" in feats


def test_sql_identity_roundtrip(spark, tmp_path):
    """SQL CREATE with IDENTITY: INSERTs allocate, named/positional
    supply refuses, SHOW CREATE TABLE emits re-executable DDL that
    recreates the same contract."""
    tt.sql(
        spark,
        f"""
        CREATE TABLE idrt (
            id BIGINT GENERATED ALWAYS AS IDENTITY
                (START WITH 100 INCREMENT BY 5),
            name STRING,
            score DOUBLE
        ) USING versioned LOCATION '{tmp_path / "t"}'
        """,
    )
    t = VersionedTable(spark, str(tmp_path / "t"))
    assert t.identity_columns() == {
        "id": {"start": 100, "step": 5, "high": 95}
    }
    tt.sql(spark, "INSERT INTO idrt VALUES ('a', 1.0), ('b', 2.0)")
    tt.sql(spark, "INSERT INTO idrt (name, score) SELECT 'c', 3.0")
    ids = [r["id"] for r in t.read().collect()]
    assert len(set(ids)) == 3
    assert all(i >= 100 and (i - 100) % 5 == 0 for i in ids)
    with pytest.raises(ValueError, match="GENERATED"):
        tt.sql(spark, "INSERT INTO idrt (id, name) VALUES (1, 'x')")
    show = tt.sql(spark, "SHOW CREATE TABLE idrt").collect()[0][
        "createtab_stmt"
    ]
    assert (
        "GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 5)"
        in show
    )
    # the emitted DDL is re-executable and recreates the contract
    stmt = show.split(";")[0].replace("idrt", "idrt2").replace(
        str(tmp_path / "t"), str(tmp_path / "t2")
    )
    tt.sql(spark, stmt)
    t2 = VersionedTable(spark, str(tmp_path / "t2"))
    assert t2.identity_columns() == {
        "id": {"start": 100, "step": 5, "high": 95}
    }


def test_sql_identity_ctas_via_python_create(spark, tmp_path):
    """identity on a non-empty seed frame (the Python CTAS path):
    every row gets an id at create time and the watermark records."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _vals(spark, "p", "q", "r"),
        identity={"rid": {"start": 1, "step": 1}},
    )
    ids = [r["rid"] for r in t.read().collect()]
    assert len(set(ids)) == 3 and all(i >= 1 for i in ids)
    assert t.identity_columns()["rid"]["high"] == max(ids)
