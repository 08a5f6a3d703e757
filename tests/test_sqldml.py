"""SQL DML surface (VERDICT r12 #2): MERGE INTO / UPDATE / DELETE
FROM / OPTIMIZE / VACUUM / RESTORE as SQL text, routed through
``timetravel.sql`` into the manifest layer's transactional ops.
Parity contract: every statement must leave the table in EXACTLY the
state the equivalent Python API call would — the SQL layer is a
parser front, never a second implementation."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators import timetravel as tt
from social_media_etl_spark.operators.manifest import VersionedTable


def _mk(spark, tmp_path, name, rows=20):
    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(rows)],
        "k long, g string, v double",
    )
    t = VersionedTable.create(spark, str(tmp_path / name), df)
    tt.register_table(spark, name, t.path)
    return t


def _state(t):
    return sorted((r["k"], r["g"], r["v"]) for r in t.read().collect())


# -- UPDATE / DELETE ----------------------------------------------------------


def test_sql_update_where(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_u")
    out = tt.sql(
        spark, "UPDATE sdml_u SET v = v * 2, g = concat(g, '!') WHERE k < 5"
    ).collect()
    assert out[0]["op"] == "update" and out[0]["version"] == 1
    assert _state(t) == sorted(
        (i, f"g{i % 3}" + ("!" if i < 5 else ""), float(i) * (2 if i < 5 else 1))
        for i in range(20)
    )


def test_sql_update_without_where_touches_all(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_u2")
    tt.sql(spark, "UPDATE sdml_u2 SET v = v + 1")
    assert all(r[2] == r[0] + 1 for r in _state(t))


def test_sql_delete_where(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_d")
    out = tt.sql(spark, "DELETE FROM sdml_d WHERE k % 2 = 0").collect()
    assert out[0]["op"] == "delete"
    assert [r[0] for r in _state(t)] == [i for i in range(20) if i % 2]


def test_sql_dml_mor_mode_writes_vector_not_rewrite(spark, tmp_path):
    """dml_mode='mor' reaches the deletion-vector path: zero data
    files rewritten, head content identical to the COW twin."""
    t = _mk(spark, tmp_path, "sdml_mor")
    files0 = set(t._read_manifest(0)["files"])
    tt.sql(spark, "DELETE FROM sdml_mor WHERE k = 3", dml_mode="mor")
    files1 = set(t._read_manifest(1)["files"])
    assert files0 <= files1 or files0 == files1  # nothing rewritten away
    assert t._read_pointer(1).get("delete_vectors")
    assert [r[0] for r in _state(t)] == [i for i in range(20) if i != 3]


def test_sql_dml_refreshes_plain_view(spark, tmp_path):
    """After SQL DML, a PLAIN spark.sql reader of the registered name
    sees the new head (the view refresh is part of the write)."""
    _mk(spark, tmp_path, "sdml_view")
    tt.sql(spark, "DELETE FROM sdml_view WHERE k >= 10")
    assert spark.sql("SELECT count(*) c FROM sdml_view").collect()[0]["c"] == 10


# -- MERGE --------------------------------------------------------------------


def test_sql_merge_update_insert_matches_python_api(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_m1")
    t2 = VersionedTable.create(
        spark,
        str(tmp_path / "twin"),
        spark.createDataFrame(
            [(i, f"g{i % 3}", float(i)) for i in range(20)],
            "k long, g string, v double",
        ),
    )
    src = spark.createDataFrame(
        [(3, "gX", 100.0), (4, "gY", 200.0), (77, "gZ", 300.0)],
        "k long, g string, v double",
    )
    src.createOrReplaceTempView("sdml_m1_src")
    out = tt.sql(
        spark,
        """
        MERGE INTO sdml_m1 AS tgt USING sdml_m1_src AS upd
        ON tgt.k = upd.k
        WHEN MATCHED THEN UPDATE SET v = upd.v, g = upd.g
        WHEN NOT MATCHED THEN INSERT *
        """,
    ).collect()
    assert out[0]["op"] == "merge" and out[0]["version"] == 1
    t2.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v", "g": "s.g"},
        when_not_matched_insert="*",
    )
    assert _state(t) == _state(t2)


def test_sql_merge_delete_clause_and_subquery_source(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_m2")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_m2 t USING (
            SELECT explode(sequence(0, 9)) AS k
        ) s ON t.k = s.k
        WHEN MATCHED AND t.v < 5 THEN DELETE
        """,
    )
    # matched keys 0..9, of those v<5 (k<5) deleted
    assert [r[0] for r in _state(t)] == list(range(5, 20))


def test_sql_merge_by_source_sync(spark, tmp_path):
    """Classic sync-to-source: matched update + insert + by-source
    delete leaves the table equal to the source."""
    t = _mk(spark, tmp_path, "sdml_m3")
    spark.createDataFrame(
        [(2, "a", 1.0), (99, "b", 2.0)], "k long, g string, v double"
    ).createOrReplaceTempView("sdml_m3_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_m3 AS t USING sdml_m3_src AS s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
        WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """,
    )
    assert _state(t) == [(2, "a", 1.0), (99, "b", 2.0)]


def test_sql_merge_mor_zero_rewrite(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_m4", rows=50)
    spark.createDataFrame(
        [(7, 700.0)], "k long, v double"
    ).createOrReplaceTempView("sdml_m4_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_m4 t USING sdml_m4_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        """,
        dml_mode="mor",
    )
    ptr = t._read_pointer(1)
    assert ptr.get("delete_vectors")
    assert set(t._read_manifest(0)["files"]) <= set(
        t._read_manifest(1)["files"]
    )
    assert dict((r[0], r[2]) for r in _state(t))[7] == 700.0


def test_sql_merge_registered_versioned_source(spark, tmp_path):
    """USING a registered VersionedTable reads its head."""
    t = _mk(spark, tmp_path, "sdml_m5")
    s = _mk(spark, tmp_path, "sdml_m5_src", rows=3)
    s.update("k = 1", {"v": "1000.0"})
    tt.sql(
        spark,
        """
        MERGE INTO sdml_m5 t USING sdml_m5_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
        """,
    )
    st = dict((r[0], r[2]) for r in _state(t))
    assert st[1] == 1000.0 and st[2] == 2.0


# -- OPTIMIZE / VACUUM / RESTORE ----------------------------------------------


def test_sql_optimize_zorder(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_o")
    before = _state(t)
    out = tt.sql(
        spark, "OPTIMIZE sdml_o ZORDER BY (k, v)"
    ).collect()
    assert out[0]["op"] == "optimize" and out[0]["version"] == 1
    assert t._read_pointer(1)["op"] == "optimize"
    assert _state(t) == before


def test_sql_optimize_where_scoped(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_ow")
    t.append(
        spark.createDataFrame(
            [(100 + i, "gz", 0.0) for i in range(5)],
            "k long, g string, v double",
        )
    )
    before = _state(t)
    tt.sql(spark, "OPTIMIZE sdml_ow WHERE k BETWEEN 100 AND 200")
    assert _state(t) == before


def test_sql_restore_and_vacuum(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_rv")
    tt.sql(spark, "DELETE FROM sdml_rv WHERE k < 10")
    out = tt.sql(
        spark, "RESTORE TABLE sdml_rv TO VERSION AS OF 0"
    ).collect()
    assert out[0]["op"] == "restore"
    assert len(_state(t)) == 20
    dry = tt.sql(
        spark, "VACUUM sdml_rv RETAIN 1 VERSIONS MIN AGE 0 SECONDS DRY RUN"
    )
    assert dry.columns == ["path"]
    n_listed = dry.count()
    real = tt.sql(
        spark, "VACUUM sdml_rv RETAIN 1 VERSIONS MIN AGE 0 SECONDS"
    ).collect()
    assert real[0]["removed"] == n_listed
    assert len(_state(t)) == 20  # head still reads


# -- refusals -----------------------------------------------------------------


def test_sql_dml_unregistered_table_refused(spark):
    with pytest.raises(ValueError, match="not a registered"):
        tt.sql(spark, "DELETE FROM nope_not_registered WHERE 1=1")


def test_sql_merge_non_equi_on_refused(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_r1")
    spark.range(3).createOrReplaceTempView("sdml_r1_src")
    with pytest.raises(ValueError, match="equi"):
        tt.sql(
            spark,
            """
            MERGE INTO sdml_r1 t USING sdml_r1_src s ON t.k > s.id
            WHEN MATCHED THEN DELETE
            """,
        )


def test_sql_merge_conditional_clauses(spark, tmp_path):
    """Delta's full clause matrix (r13): AND <pred> on matched UPDATE
    and on NOT MATCHED INSERT — rows failing their clause's condition
    carry unchanged / are not inserted."""
    t = _mk(spark, tmp_path, "sdml_r2")
    spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (50, 1.0), (60, 99.0)],
        "k long, v double",
    ).createOrReplaceTempView("sdml_r2_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_r2 t USING sdml_r2_src s ON t.k = s.k
        WHEN MATCHED AND s.v > 150 THEN UPDATE SET v = s.v
        WHEN NOT MATCHED AND s.v > 50 THEN INSERT (k, v)
            VALUES (s.k, s.v)
        """,
    )
    st = dict((r[0], r[2]) for r in _state(t))
    assert st[1] == 1.0  # matched, condition failed -> unchanged
    assert st[2] == 200.0  # matched, condition held -> updated
    assert 50 not in st  # unmatched, insert condition failed
    assert st[60] == 99.0  # unmatched, insert condition held
    # conditional by-source update
    tt.sql(
        spark,
        """
        MERGE INTO sdml_r2 t USING sdml_r2_src s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN UPDATE
            SET g = 'bs'
        """,
    )
    rows = {r[0]: r[1] for r in _state(t)}
    assert rows[0] == "bs" and rows[3] == "bs"
    assert rows[5] == "g2" and rows[19] == "g1"  # condition failed


def test_sql_update_bad_grammar_refused(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_r3")
    with pytest.raises(ValueError, match="UPDATE"):
        tt.sql(spark, "UPDATE sdml_r3 WHERE k = 1")


def test_sql_dml_bad_mode_refused(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_r4")
    with pytest.raises(ValueError, match="mode"):
        tt.sql(spark, "DELETE FROM sdml_r4", dml_mode="zap")


def test_sql_merge_keyword_in_string_literal_safe(spark, tmp_path):
    """'WHEN MATCHED' inside a string literal never parses as a
    clause — the masking contract."""
    t = _mk(spark, tmp_path, "sdml_r5")
    tt.sql(
        spark,
        """
        UPDATE sdml_r5 SET g = 'WHEN MATCHED THEN DELETE' WHERE k = 0
        """,
    )
    assert dict((r[0], r[1]) for r in _state(t))[0] == (
        "WHEN MATCHED THEN DELETE"
    )


def test_sql_describe_history(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_h")
    tt.sql(spark, "DELETE FROM sdml_h WHERE k = 1")
    hist = tt.sql(spark, "DESCRIBE HISTORY sdml_h").collect()
    assert [r["version"] for r in hist] == [0, 1]
    assert hist[1]["op"] == "delete"
    # plain DESCRIBE still flows through Catalyst untouched
    desc = tt.sql(spark, "DESCRIBE sdml_h")
    assert "col_name" in desc.columns


# -- COPY INTO ------------------------------------------------------------------


def test_copy_into_idempotent_file_loading(spark, tmp_path):
    """COPY INTO (r13): files load exactly once across retries; new
    landing-zone files load incrementally; PATTERN filters basenames;
    _-prefixed files are skipped."""
    t = _mk(spark, tmp_path, "sdml_cp", rows=2)
    land = tmp_path / "landing"
    spark.createDataFrame(
        [(100, "x", 1.0)], "k long, g string, v double"
    ).coalesce(1).write.parquet(str(land / "b1"))
    # flatten one level: COPY INTO points at a leaf dir of files
    import shutil

    dest = land / "files"
    dest.mkdir(parents=True)
    n = 0
    for p in (land / "b1").glob("*.parquet"):
        shutil.copy(p, dest / f"part{n}.parquet")
        n += 1
    out = tt.sql(
        spark, f"COPY INTO sdml_cp FROM '{dest}' FILEFORMAT = PARQUET"
    ).collect()
    assert out[0]["op"] == "copy_into" and out[0]["loaded"]
    assert sorted(r[0] for r in _state(t)) == [0, 1, 100]
    # retry: nothing new, head unchanged, loaded=False
    out2 = tt.sql(spark, f"COPY INTO sdml_cp FROM '{dest}'").collect()
    assert not out2[0]["loaded"]
    assert out2[0]["version"] == out[0]["version"]
    assert sorted(r[0] for r in _state(t)) == [0, 1, 100]
    # a new file lands; only IT loads
    spark.createDataFrame(
        [(200, "y", 2.0)], "k long, g string, v double"
    ).coalesce(1).write.parquet(str(land / "b2"))
    for p in (land / "b2").glob("*.parquet"):
        shutil.copy(p, dest / "late.parquet")
    (dest / "_SUCCESS").write_text("")  # always skipped
    out3 = tt.sql(spark, f"COPY INTO sdml_cp FROM '{dest}'").collect()
    assert out3[0]["loaded"]
    assert sorted(r[0] for r in _state(t)) == [0, 1, 100, 200]


def test_copy_into_pattern_and_python_api(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(0, "a", 0.0)], "k long, g string, v double"),
    )
    land = tmp_path / "zone"
    land.mkdir()
    import shutil

    for i, tag in enumerate(("keep", "skip")):
        d = tmp_path / f"gen{i}"
        spark.createDataFrame(
            [(10 + i, tag, float(i))], "k long, g string, v double"
        ).coalesce(1).write.parquet(str(d))
        for p in d.glob("*.parquet"):
            shutil.copy(p, land / f"{tag}-0.parquet")
    v = t.copy_into(str(land), pattern="keep-*.parquet")
    assert v == 1
    assert sorted(r["g"] for r in t.read().collect()) == ["a", "keep"]
    # schema drift refuses through the append path
    bad = tmp_path / "bad"
    spark.createDataFrame([(1,)], "zzz long").coalesce(1).write.parquet(
        str(bad)
    )
    flat = tmp_path / "badflat"
    flat.mkdir()
    for p in bad.glob("*.parquet"):
        shutil.copy(p, flat / "b.parquet")
    with pytest.raises(Exception):
        t.copy_into(str(flat))
    with pytest.raises(ValueError, match="does not exist"):
        t.copy_into(str(tmp_path / "nope"))


def test_sql_shallow_clone(spark, tmp_path):
    """CREATE TABLE <name> SHALLOW CLONE <src> [VERSION AS OF n]
    LOCATION '<path>' — the SQL form of clone(); the new name is
    registered and immediately queryable/writable."""
    t = _mk(spark, tmp_path, "sdml_cl")
    tt.sql(spark, "DELETE FROM sdml_cl WHERE k >= 10")
    out = tt.sql(
        spark,
        "CREATE TABLE sdml_cl2 SHALLOW CLONE sdml_cl VERSION AS OF 0 "
        f"LOCATION '{tmp_path / 'c2'}'",
    ).collect()
    assert out[0]["op"] == "clone"
    # the clone pinned v0 (pre-delete) and is queryable by SQL name
    n = tt.sql(spark, "SELECT count(*) AS n FROM sdml_cl2").collect()
    assert n[0]["n"] == 20
    # and writable through the DML surface, independent of the source
    tt.sql(spark, "DELETE FROM sdml_cl2 WHERE k < 19")
    assert tt.sql(
        spark, "SELECT count(*) AS n FROM sdml_cl2"
    ).collect()[0]["n"] == 1
    assert len(_state(t)) == 10  # source untouched
    # plain CREATE still flows to Catalyst
    tt.sql(spark, "CREATE TEMPORARY VIEW sdml_cl_v AS SELECT 1 AS one")
    assert spark.table("sdml_cl_v").collect()[0]["one"] == 1
    # LOCATION is mandatory
    with pytest.raises(ValueError, match="LOCATION"):
        tt.sql(spark, "CREATE TABLE x1 SHALLOW CLONE sdml_cl")


# -- TBLPROPERTIES --------------------------------------------------------------


def test_tblproperties_roundtrip_and_mode_resolution(spark, tmp_path):
    """ALTER TABLE SET/UNSET TBLPROPERTIES are metadata-only commits;
    the smetl.dml.mode property makes every SQL writer of the table
    use deletion vectors unless the per-call argument says otherwise;
    without either, DML is COW."""
    t = _mk(spark, tmp_path, "sdml_p")
    out = tt.sql(
        spark,
        "ALTER TABLE sdml_p SET TBLPROPERTIES "
        "('smetl.dml.mode'='mor', 'owner'='data-eng')",
    ).collect()
    assert out[0]["op"] == "set_properties" and out[0]["version"] == 1
    props = {
        r["key"]: r["value"]
        for r in tt.sql(spark, "SHOW TBLPROPERTIES sdml_p").collect()
    }
    assert props == {"smetl.dml.mode": "mor", "owner": "data-eng"}
    # metadata-only: zero files moved
    assert set(t._read_manifest(0)["files"]) == set(
        t._read_manifest(1)["files"]
    )
    # the property drives the strategy: a plain SQL DELETE vectors
    tt.sql(spark, "DELETE FROM sdml_p WHERE k = 0")
    assert t._read_pointer(2).get("delete_vectors")
    # the per-call argument still outranks the property
    tt.sql(spark, "DELETE FROM sdml_p WHERE k = 1", dml_mode="cow")
    assert t._read_pointer(3)["op"] == "delete"
    assert not [
        d
        for d in (t._read_pointer(3).get("delete_vectors") or [])
        if d not in (t._read_pointer(2).get("delete_vectors") or [])
    ]
    # UNSET removes; absent keys are ignored
    tt.sql(
        spark,
        "ALTER TABLE sdml_p UNSET TBLPROPERTIES ('owner', 'ghost')",
    )
    assert t.properties() == {"smetl.dml.mode": "mor"}
    # validation: bad mode refuses at SET time
    with pytest.raises(ValueError, match="smetl.dml.mode"):
        t.set_properties({"smetl.dml.mode": "zap"})


def test_tblproperties_survive_dml_and_skip_feeds(spark, tmp_path):
    """Properties carry through every commit op, and the
    set_properties commit is skipped by the change feed like any
    metadata-only op."""
    from social_media_etl_spark.operators import manifest as m

    assert "set_properties" in m.METADATA_ONLY_OPS
    t = _mk(spark, tmp_path, "sdml_p2", rows=5)
    t.set_properties({"a": "1"})
    t.append(
        spark.createDataFrame(
            [(50, "z", 0.0)], "k long, g string, v double"
        )
    )
    t.delete("k = 0", mode="mor")  # feed-recoverable on non-CDF tables
    t.optimize()
    assert t.properties() == {"a": "1"}
    feed = t.read_change_feed(0).collect()
    assert {r["_change_type"] for r in feed} == {"insert", "delete"}


# -- ALTER TABLE DDL ------------------------------------------------------------


def test_alter_table_column_ddl(spark, tmp_path):
    """The metadata DDL matrix as SQL (r13): ADD/RENAME/DROP COLUMN,
    ALTER COLUMN TYPE (widen), ADD/DROP CONSTRAINT — each a
    metadata-only commit through the existing manifest ops."""
    t = _mk(spark, tmp_path, "sdml_ddl")
    out = tt.sql(
        spark, "ALTER TABLE sdml_ddl ADD COLUMN note string"
    ).collect()
    assert out[0]["op"] == "add_column" and out[0]["version"] == 1
    assert "note" in spark.table("sdml_ddl").columns  # view refreshed
    tt.sql(spark, "ALTER TABLE sdml_ddl RENAME COLUMN note TO remark")
    assert "remark" in t.read().columns
    tt.sql(spark, "ALTER TABLE sdml_ddl ADD COLUMN cnt int")
    out = tt.sql(
        spark, "ALTER TABLE sdml_ddl ALTER COLUMN cnt TYPE bigint"
    ).collect()
    assert out[0]["op"] == "widen"
    assert t.read().schema["cnt"].dataType.simpleString() == "bigint"
    tt.sql(spark, "ALTER TABLE sdml_ddl DROP COLUMN remark")
    assert "remark" not in t.read().columns
    out = tt.sql(
        spark,
        "ALTER TABLE sdml_ddl ADD CONSTRAINT v_nonneg CHECK (v >= 0)",
    ).collect()
    assert out[0]["op"] == "add_constraint"
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    import pytest as _pt

    with _pt.raises(Exception, match="v_nonneg"):
        t.append(
            spark.createDataFrame(
                [(99, "x", -5.0, 1)],
                "k long, g string, v double, cnt bigint",
            )
        )
    tt.sql(spark, "ALTER TABLE sdml_ddl DROP CONSTRAINT v_nonneg")
    assert t.constraints() == {}
    # zero data files moved across the whole DDL chain
    assert set(t._read_manifest(0)["files"]) == set(
        t._read_manifest(t.head_version())["files"]
    )


def test_alter_table_unregistered_passes_through(spark, tmp_path):
    """ALTER TABLE on a non-registered name flows to Catalyst — valid
    for catalog tables, and Catalyst owns the error otherwise."""
    import pytest as _pt
    from pyspark.sql.utils import AnalysisException

    with _pt.raises(AnalysisException):
        tt.sql(spark, "ALTER TABLE not_reg_xyz ADD COLUMN a string")


def test_alter_table_bad_form_on_registered_refuses(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_ddl2")
    import pytest as _pt

    with _pt.raises(ValueError, match="supported forms"):
        tt.sql(spark, "ALTER TABLE sdml_ddl2 FROBNICATE")


# -- INSERT INTO / OVERWRITE ----------------------------------------------------


def test_insert_into_values_and_select(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_ins", rows=3)
    out = tt.sql(
        spark,
        "INSERT INTO sdml_ins VALUES (10, 'x', 1.5), (11, 'y', 2.5)",
    ).collect()
    assert out[0]["op"] == "insert" and out[0]["version"] == 1
    assert [r[0] for r in _state(t)] == [0, 1, 2, 10, 11]
    # SELECT form + column list: unlisted column NULL-fills
    tt.sql(
        spark,
        "INSERT INTO sdml_ins (k, v) SELECT 20, CAST(9.0 AS DOUBLE)",
    )
    got = {r["k"]: (r["g"], r["v"]) for r in t.read().collect()}
    assert got[20] == (None, 9.0)
    # plain spark.sql view readers see the inserts (refresh contract)
    assert spark.sql("SELECT count(*) c FROM sdml_ins").collect()[0]["c"] == 6


def test_insert_overwrite_replaces(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_insov", rows=5)
    out = tt.sql(
        spark,
        "INSERT OVERWRITE sdml_insov VALUES (100, 'z', 0.5)",
    ).collect()
    assert out[0]["op"] == "insert_overwrite"
    assert _state(t) == [(100, "z", 0.5)]
    assert t.read(0).count() == 5  # time travel intact


def test_insert_strict_types_and_arity(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_insbad", rows=1)
    with pytest.raises(Exception, match="does not fit|cannot be cast"):
        tt.sql(
            spark, "INSERT INTO sdml_insbad VALUES (1, 'a', 'not-a-num')"
        )
    with pytest.raises(ValueError, match="column"):
        tt.sql(spark, "INSERT INTO sdml_insbad VALUES (1, 'a')")
    with pytest.raises(ValueError, match="not in table"):
        tt.sql(spark, "INSERT INTO sdml_insbad (zzz) VALUES (1)")


def test_insert_computes_generated_columns(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable

    t = VersionedTable.create(
        spark,
        str(tmp_path / "g"),
        spark.createDataFrame([(1, 2.0)], "k long, v double"),
        generated={"v2": "v * 2"},
    )
    tt.register_table(spark, "sdml_insgen", t.path)
    # positional arity matches the NON-generated subset; v2 computed
    tt.sql(spark, "INSERT INTO sdml_insgen VALUES (5, CAST(3.0 AS DOUBLE))")
    got = {r["k"]: r["v2"] for r in t.read().collect()}
    assert got[5] == 6.0
    with pytest.raises(ValueError, match="GENERATED"):
        tt.sql(spark, "INSERT INTO sdml_insgen (k, v2) VALUES (9, 1.0)")


def test_insert_unregistered_passes_through_to_catalyst(spark):
    import pytest as _pt
    from pyspark.sql.utils import AnalysisException

    with _pt.raises(AnalysisException):
        tt.sql(spark, "INSERT INTO definitely_not_reg VALUES (1)")


# -- clause order / alias-rewrite fixes (ADVICE r13) --------------------------


def test_sql_merge_update_before_delete_first_clause_wins(spark, tmp_path):
    """Delta's canonical two-clause form — 'WHEN MATCHED AND c THEN
    UPDATE ... WHEN MATCHED THEN DELETE' — is first-clause-wins in
    STATEMENT order (ADVICE r13 #1): rows satisfying c UPDATE, only
    the remaining matched rows DELETE. The manifest evaluates
    delete-before-update, so the parser must encode the textual
    order into the delete predicate."""
    t = _mk(spark, tmp_path, "sdml_ord1")
    spark.createDataFrame(
        [(i,) for i in range(8)], "k long"
    ).createOrReplaceTempView("sdml_ord1_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_ord1 t USING sdml_ord1_src s ON t.k = s.k
        WHEN MATCHED AND t.k < 3 THEN UPDATE SET v = t.v + 100
        WHEN MATCHED THEN DELETE
        """,
    )
    state = _state(t)
    # k 0..2 updated (NOT deleted), k 3..7 deleted, k 8..19 untouched
    assert [r[0] for r in state] == [0, 1, 2] + list(range(8, 20))
    assert [r[2] for r in state[:3]] == [100.0, 101.0, 102.0]


def test_sql_merge_delete_before_update_first_clause_wins(spark, tmp_path):
    """The mirrored order — conditional DELETE first — pins the
    manifest's native delete-before-update as first-clause-wins."""
    t = _mk(spark, tmp_path, "sdml_ord2")
    spark.createDataFrame(
        [(i,) for i in range(8)], "k long"
    ).createOrReplaceTempView("sdml_ord2_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_ord2 t USING sdml_ord2_src s ON t.k = s.k
        WHEN MATCHED AND t.k < 3 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = t.v + 100
        """,
    )
    state = _state(t)
    assert [r[0] for r in state] == list(range(3, 20))
    assert [r[2] for r in state[:5]] == [103.0, 104.0, 105.0, 106.0, 107.0]


def test_sql_merge_unconditional_first_matched_clause_refused(spark, tmp_path):
    """Delta's rule: with two WHEN MATCHED clauses, the FIRST must
    carry AND <cond> — an unconditional first clause makes the second
    unreachable. Both orders refuse rather than silently mis-execute."""
    _mk(spark, tmp_path, "sdml_ord3")
    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView(
        "sdml_ord3_src"
    )
    with pytest.raises(ValueError, match="only the last MATCHED clause"):
        tt.sql(
            spark,
            """
            MERGE INTO sdml_ord3 t USING sdml_ord3_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = t.v + 1
            WHEN MATCHED THEN DELETE
            """,
        )
    with pytest.raises(ValueError, match="only the last MATCHED clause"):
        tt.sql(
            spark,
            """
            MERGE INTO sdml_ord3 t USING sdml_ord3_src s ON t.k = s.k
            WHEN MATCHED THEN DELETE
            WHEN MATCHED AND s.k > 0 THEN UPDATE SET v = t.v + 1
            """,
        )


def test_sql_merge_by_source_clause_order(spark, tmp_path):
    """The same statement-order encoding covers the NOT MATCHED BY
    SOURCE pair: UPDATE-first with a condition keeps its rows away
    from the trailing unconditional DELETE."""
    t = _mk(spark, tmp_path, "sdml_ord4")
    spark.createDataFrame(
        [(i,) for i in range(15)], "k long"
    ).createOrReplaceTempView("sdml_ord4_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_ord4 t USING sdml_ord4_src s ON t.k = s.k
        WHEN NOT MATCHED BY SOURCE AND t.k < 17 THEN UPDATE SET g = 'kept'
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        """,
    )
    state = _state(t)
    # unmatched = 15..19; 15,16 updated to 'kept'; 17..19 deleted
    assert [r[0] for r in state] == list(range(17))
    assert [r[1] for r in state if r[0] >= 15] == ["kept", "kept"]


def test_sql_merge_source_alias_t_rewrites_correctly(spark, tmp_path):
    """ADVICE r13 #2: 'MERGE INTO x AS o USING src AS t' — the old
    two-pass rewrite turned o. into t. and then clobbered EVERY t.
    into s.; the single-pass alternation keeps target and source
    references distinct."""
    t = _mk(spark, tmp_path, "sdml_alias1")
    spark.createDataFrame(
        [(2, 1000.0), (3, 2000.0)], "k long, v double"
    ).createOrReplaceTempView("sdml_alias1_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_alias1 AS o USING sdml_alias1_src AS t
        ON o.k = t.k
        WHEN MATCHED THEN UPDATE SET v = o.v + t.v
        """,
    )
    got = {r[0]: r[2] for r in _state(t)}
    # target value + source value, NOT source + source
    assert got[2] == 1002.0 and got[3] == 2003.0


def test_sql_merge_crossed_aliases_t_s(spark, tmp_path):
    """Crossed aliases — target AS s, source AS t — swap in one pass."""
    t = _mk(spark, tmp_path, "sdml_alias2")
    spark.createDataFrame(
        [(4, 1000.0)], "k long, v double"
    ).createOrReplaceTempView("sdml_alias2_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_alias2 AS s USING sdml_alias2_src AS t
        ON s.k = t.k
        WHEN MATCHED THEN UPDATE SET v = s.v * 10 + t.v
        """,
    )
    got = {r[0]: r[2] for r in _state(t)}
    assert got[4] == 1040.0


def test_show_tblproperties_unregistered_passes_through(spark):
    """ADVICE r13 #4: SHOW TBLPROPERTIES on a non-registered name is
    valid Spark SQL for catalog tables — Catalyst owns it (and emits
    its own error for unresolvable names), mirroring ALTER/INSERT."""
    from pyspark.sql.utils import AnalysisException

    with pytest.raises(AnalysisException):
        tt.sql(spark, "SHOW TBLPROPERTIES definitely_not_registered")


# -- CREATE TABLE ... USING versioned (r14 — VERDICT r13 #2) ------------------


def test_create_table_empty_with_generated_partition_props(spark, tmp_path):
    """The full DDL form: schema-only create with a GENERATED column,
    a partition spec, and TBLPROPERTIES — then the first INSERT
    computes the generated column and lands under the partition
    layout. Closes the last Python-only lifecycle step."""
    out = tt.sql(
        spark,
        f"""
        CREATE TABLE sdml_ct1 (
            k BIGINT,
            g STRING,
            v DOUBLE,
            band BIGINT GENERATED ALWAYS AS (CAST(floor(v / 10) AS BIGINT))
        ) USING versioned LOCATION '{tmp_path}/ct1'
        PARTITIONED BY (g)
        TBLPROPERTIES ('owner'='r14')
        """,
    ).collect()
    assert out[0]["op"] == "create"
    t = VersionedTable(spark, f"{tmp_path}/ct1")
    assert t.read().schema.simpleString() == (
        "struct<k:bigint,g:string,v:double,band:bigint>"
    )
    assert t.read().count() == 0
    assert t.generated_columns() == {
        "band": "CAST(floor(v / 10) AS BIGINT)"
    }
    assert t.properties() == {"owner": "r14"}
    assert t._read_pointer(0)["partition_by"] == ["g"]
    tt.sql(spark, "INSERT INTO sdml_ct1 VALUES (1, 'a', 25.0), (2, 'b', 7.0)")
    assert sorted(
        (r["k"], r["g"], r["v"], r["band"]) for r in t.read().collect()
    ) == [(1, "a", 25.0, 2), (2, "b", 7.0, 0)]
    # naming the generated column in an INSERT list is refused —
    # its values only ever come from the expression
    with pytest.raises(ValueError, match="GENERATED"):
        tt.sql(
            spark,
            "INSERT INTO sdml_ct1 (k, g, v, band) VALUES (3, 'c', 1.0, 9)",
        )


def test_create_table_as_select(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_ctas_src", rows=10)
    out = tt.sql(
        spark,
        f"""
        CREATE TABLE sdml_ctas USING versioned
        LOCATION '{tmp_path}/ctas'
        AS SELECT k, v * 2 AS v2 FROM sdml_ctas_src WHERE k < 4
        """,
    ).collect()
    assert out[0]["op"] == "create" and out[0]["version"] == 0
    t = VersionedTable(spark, f"{tmp_path}/ctas")
    assert sorted((r["k"], r["v2"]) for r in t.read().collect()) == [
        (0, 0.0), (1, 2.0), (2, 4.0), (3, 6.0)
    ]
    # the new name is SQL-addressable immediately (registered)
    assert spark.sql("SELECT count(*) AS n FROM sdml_ctas").collect()[0][
        "n"
    ] == 4


def test_create_table_refusals(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_ctref")
    cases = [
        (
            f"CREATE TABLE sdml_ctref (x INT) USING versioned "
            f"LOCATION '{tmp_path}/dup'",
            "already a registered",
        ),
        ("CREATE TABLE sdml_ctr2 (x INT) USING versioned", "LOCATION"),
        (
            f"CREATE TABLE sdml_ctr3 (x INT) USING versioned "
            f"LOCATION '{tmp_path}/r3' AS SELECT 1",
            "Schema may not be specified",
        ),
        (
            f"CREATE TABLE sdml_ctr4 (x INT, b INT GENERATED ALWAYS AS "
            f"(x * 1.5)) USING versioned LOCATION '{tmp_path}/r4'",
            "declares type int",
        ),
        (
            f"CREATE TABLE sdml_ctr5 (x INT) USING versioned "
            f"LOCATION '{tmp_path}/r5' PARTITIONED BY (nope)",
            "PARTITIONED BY",
        ),
        (
            f"CREATE TABLE sdml_ctr6 (x INT) USING versioned "
            f"LOCATION '{tmp_path}/r6' WOBBLE",
            "extra input 'WOBBLE'",
        ),
        (
            f"CREATE TABLE sdml_ctr7 (b INT GENERATED ALWAYS AS (1)) "
            f"USING versioned LOCATION '{tmp_path}/r7'",
            "at least one regular column",
        ),
    ]
    for q, msg in cases:
        with pytest.raises(ValueError, match=msg):
            tt.sql(spark, q)


def test_create_table_plain_flows_to_catalyst(spark):
    """Non-versioned CREATEs — including ones mentioning 'USING
    versioned' inside a string literal — stay Catalyst's."""
    spark.sql("DROP TABLE IF EXISTS sdml_plainct")
    tt.sql(
        spark,
        "CREATE TABLE sdml_plainct (x INT) USING parquet "
        "COMMENT 'USING versioned'",
    )
    assert spark.table("sdml_plainct").columns == ["x"]
    spark.sql("DROP TABLE sdml_plainct")


# -- DROP TABLE (r14 — completes the SQL lifecycle) ---------------------------


def test_drop_table_unregisters_external_semantics(spark, tmp_path):
    """DROP TABLE on a registered VersionedTable unregisters the name
    and drops the head view; the manifest and data files STAY on disk
    (external-table semantics — the honest contract for a
    path-addressed engine), so re-registering resurrects the table
    and the freed name is immediately CREATE-able again."""
    t = _mk(spark, tmp_path, "sdml_drop1")
    out = tt.sql(spark, "DROP TABLE sdml_drop1").collect()
    assert out[0]["op"] == "drop_table"
    assert "sdml_drop1" not in tt.registered_tables(spark)
    # further DML on the freed name refuses (nothing registered)
    with pytest.raises(ValueError, match="not a registered"):
        tt.sql(spark, "DESCRIBE HISTORY sdml_drop1")
    # data survived: re-registering resurrects the table fully
    tt.register_table(spark, "sdml_drop1b", t.path)
    assert tt.sql(spark, "SELECT count(*) AS n FROM sdml_drop1b").collect()[
        0
    ]["n"] == 20
    # and the freed name is CREATE-able again
    tt.sql(
        spark,
        f"CREATE TABLE sdml_drop1 (x INT) USING versioned "
        f"LOCATION '{tmp_path}/fresh'",
    )
    assert "sdml_drop1" in tt.registered_tables(spark)
    tt.sql(spark, "DROP TABLE sdml_drop1")
    tt.sql(spark, "DROP TABLE sdml_drop1b")


def test_drop_table_unregistered_passes_through(spark):
    """DROP TABLE on a non-registered name is Catalyst's: IF EXISTS
    no-ops, a bare unknown name raises Catalyst's own error."""
    from pyspark.sql.utils import AnalysisException

    tt.sql(spark, "DROP TABLE IF EXISTS definitely_not_registered_drop")
    with pytest.raises(AnalysisException):
        tt.sql(spark, "DROP TABLE definitely_not_registered_drop")


def test_sql_merge_update_set_star(spark, tmp_path):
    """UPDATE SET * expands to every non-key target column from the
    source — exact parity with the explicit-dict Python twin."""
    t = _mk(spark, tmp_path, "sdml_star")
    t2 = VersionedTable.create(
        spark,
        str(tmp_path / "star_twin"),
        spark.createDataFrame(
            [(i, f"g{i % 3}", float(i)) for i in range(20)],
            "k long, g string, v double",
        ),
    )
    src = spark.createDataFrame(
        [(5, "ZZ", 500.0), (6, "YY", 600.0)], "k long, g string, v double"
    )
    src.createOrReplaceTempView("sdml_star_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_star t USING sdml_star_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        """,
    )
    t2.merge(
        src, on=["k"], when_matched_update={"g": "s.g", "v": "s.v"}
    )
    assert _state(t) == _state(t2)


def test_sql_merge_update_set_star_missing_source_column_refused(
    spark, tmp_path
):
    _mk(spark, tmp_path, "sdml_star2")
    spark.createDataFrame(
        [(5, "ZZ")], "k long, g string"
    ).createOrReplaceTempView("sdml_star2_src")
    with pytest.raises(ValueError, match=r"missing \['v'\]"):
        tt.sql(
            spark,
            """
            MERGE INTO sdml_star2 t USING sdml_star2_src s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET *
            """,
        )


def test_create_table_not_null_constraint(spark, tmp_path):
    """'col type NOT NULL' records as the CHECK constraint
    <col>_not_null, enforced by every data-adding commit."""
    tt.sql(
        spark,
        f"""
        CREATE TABLE sdml_ctnn (
            k BIGINT NOT NULL,
            v DOUBLE
        ) USING versioned LOCATION '{tmp_path}/nn'
        """,
    )
    t = VersionedTable(spark, f"{tmp_path}/nn")
    assert t._read_pointer(0)["constraints"] == {
        "k_not_null": "k IS NOT NULL"
    }
    tt.sql(spark, "INSERT INTO sdml_ctnn VALUES (1, 2.0)")
    with pytest.raises(Exception, match="k_not_null"):
        tt.sql(spark, "INSERT INTO sdml_ctnn VALUES (NULL, 3.0)")
    assert t.read().count() == 1
    tt.sql(spark, "DROP TABLE sdml_ctnn")


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL: a one-row head snapshot (driver-side pointer
    reads only) — location, version, file count, partition columns,
    properties, protocol features."""
    tt.sql(
        spark,
        f"""
        CREATE TABLE sdml_dd (k BIGINT, g STRING) USING versioned
        LOCATION '{tmp_path}/dd' PARTITIONED BY (g)
        TBLPROPERTIES ('owner'='ops')
        """,
    )
    tt.sql(spark, "INSERT INTO sdml_dd VALUES (1, 'a'), (2, 'b')")
    row = tt.sql(spark, "DESCRIBE DETAIL sdml_dd").collect()[0]
    assert row["format"] == "versioned"
    assert row["location"].endswith("/dd")
    assert row["version"] == 2  # create, set_properties, append
    assert row["num_files"] >= 1
    assert row["partition_columns"] == "g"
    assert '"owner": "ops"' in row["properties"]
    assert "segments" in row["features"]
    with pytest.raises(ValueError, match="not a registered"):
        tt.sql(spark, "DESCRIBE DETAIL nope_not_there")
    tt.sql(spark, "DROP TABLE sdml_dd")


def test_analyze_table_backfills_pruning_index(spark, tmp_path):
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS / BLOOM routes
    to analyze(): the pruning index backfills across existing files
    as a metadata commit, and read_where skips on the new stats."""
    t = _mk(spark, tmp_path, "sdml_an", rows=40)
    assert not t._read_pointer(0).get("stats_cols")
    out = tt.sql(
        spark,
        "ANALYZE TABLE sdml_an COMPUTE STATISTICS FOR COLUMNS k "
        "BLOOM (g)",
    ).collect()
    assert out[0]["op"] == "analyze" and out[0]["version"] == 1
    ptr = t._read_pointer(1)
    assert ptr["stats_cols"] == ["k"]
    assert ptr["bloom"] and ptr["bloom"]["cols"] == ["g"]
    # the backfilled index actually serves reads
    assert sorted(r["k"] for r in t.read_where("k", 3, 5).collect()) == [
        3, 4, 5
    ]
    with pytest.raises(ValueError, match="name the index"):
        tt.sql(spark, "ANALYZE TABLE sdml_an COMPUTE STATISTICS")
    tt.sql(spark, "DROP TABLE sdml_an")


def test_analyze_table_unregistered_passes_through(spark):
    spark.sql("DROP TABLE IF EXISTS sdml_an_cat")
    spark.sql("CREATE TABLE sdml_an_cat (x INT) USING parquet")
    # Spark-native ANALYZE on a catalog table flows to Catalyst
    tt.sql(spark, "ANALYZE TABLE sdml_an_cat COMPUTE STATISTICS NOSCAN")
    spark.sql("DROP TABLE sdml_an_cat")


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE ... TO TIMESTAMP AS OF resolves like the read clause:
    highest version committed at or before the instant."""
    import time

    t = _mk(spark, tmp_path, "sdml_rts")
    # the SQL literal has SECOND resolution: sleep past the second
    # boundary so the truncated literal cannot round below v0's
    # millisecond commit time, then again so v1 lands strictly after
    time.sleep(1.1)
    ts_between = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime())
    time.sleep(1.1)
    tt.sql(spark, "DELETE FROM sdml_rts WHERE k >= 10")
    assert spark.table("sdml_rts").count() == 10
    out = tt.sql(
        spark,
        f"RESTORE TABLE sdml_rts TO TIMESTAMP AS OF '{ts_between}'",
    ).collect()
    assert out[0]["op"] == "restore"
    assert spark.table("sdml_rts").count() == 20
    tt.sql(spark, "DROP TABLE sdml_rts")


def test_show_create_table_roundtrip(spark, tmp_path):
    """SHOW CREATE TABLE emits DDL that re-creates the table: the
    statement is fed back through tt.sql at a fresh location and the
    clone's schema/generated/partition/property metadata matches."""
    tt.sql(
        spark,
        f"""
        CREATE TABLE sdml_sct (
            k BIGINT NOT NULL,
            g STRING,
            v DOUBLE,
            band BIGINT GENERATED ALWAYS AS (CAST(floor(v / 10) AS BIGINT))
        ) USING versioned LOCATION '{tmp_path}/sct'
        PARTITIONED BY (g) TBLPROPERTIES ('owner'='ops')
        """,
    )
    stmt = tt.sql(spark, "SHOW CREATE TABLE sdml_sct").collect()[0][
        "createtab_stmt"
    ]
    assert "GENERATED ALWAYS AS" in stmt and "NOT NULL" in stmt
    # re-create at a new location under a new name
    stmt2 = stmt.replace("sdml_sct", "sdml_sct2").replace(
        f"{tmp_path}/sct", f"{tmp_path}/sct2"
    )
    tt.sql(spark, stmt2)
    a = VersionedTable(spark, f"{tmp_path}/sct")
    b = VersionedTable(spark, f"{tmp_path}/sct2")
    assert a.read().schema == b.read().schema
    assert a.generated_columns() == b.generated_columns()
    assert a.properties() == b.properties()
    assert (
        a._read_pointer(0)["partition_by"]
        == b._read_pointer(0)["partition_by"]
    )
    assert (
        a._read_pointer(0)["constraints"]
        == b._read_pointer(0)["constraints"]
    )
    tt.sql(spark, "DROP TABLE sdml_sct")
    tt.sql(spark, "DROP TABLE sdml_sct2")


def test_create_or_replace_table_redefines(spark, tmp_path):
    """CREATE OR REPLACE TABLE fully redefines an existing table in
    one data commit — new schema, new partition spec, new generation
    map, constraints and properties RESET — while history stays
    time-travelable."""
    tt.sql(
        spark,
        f"""
        CREATE TABLE sdml_cor (
            k BIGINT NOT NULL, g STRING, v DOUBLE
        ) USING versioned LOCATION '{tmp_path}/cor'
        PARTITIONED BY (g) TBLPROPERTIES ('owner'='old', 'keep'='no')
        """,
    )
    tt.sql(spark, "INSERT INTO sdml_cor VALUES (1, 'a', 2.0)")
    out = tt.sql(
        spark,
        f"""
        CREATE OR REPLACE TABLE sdml_cor (
            id BIGINT,
            score DOUBLE,
            band BIGINT GENERATED ALWAYS AS (CAST(floor(score) AS BIGINT))
        ) USING versioned LOCATION '{tmp_path}/cor'
        TBLPROPERTIES ('owner'='new')
        """,
    ).collect()
    assert out[0]["op"] == "replace"
    t = VersionedTable(spark, f"{tmp_path}/cor")
    assert t.read().columns == ["id", "score", "band"]
    assert t.generated_columns() == {
        "band": "CAST(floor(score) AS BIGINT)"
    }
    assert t.properties() == {"owner": "new"}  # old props reset
    head = t._read_pointer(t.head_version())
    assert head.get("partition_by") is None  # spec redefined away
    assert head["constraints"] == {}  # NOT NULL reset with the schema
    # history preserved: the pre-replace snapshot still reads
    pre = t.read(2)
    assert pre.columns == ["k", "g", "v"] and pre.count() == 1
    # the new generation map is live
    tt.sql(spark, "INSERT INTO sdml_cor VALUES (7, 3.9)")
    assert {
        (r["id"], r["band"]) for r in spark.table("sdml_cor").collect()
    } == {(7, 3)}
    tt.sql(spark, "DROP TABLE sdml_cor")


def test_create_or_replace_as_select_and_location_guard(spark, tmp_path):
    _mk(spark, tmp_path, "sdml_cor2")
    # replacing at a DIFFERENT location is ambiguous — refuse
    with pytest.raises(ValueError, match="different\\s+location"):
        tt.sql(
            spark,
            f"CREATE OR REPLACE TABLE sdml_cor2 (x INT) USING "
            f"versioned LOCATION '{tmp_path}/elsewhere'",
        )
    # CTAS REPLACE at the registered location
    tt.sql(
        spark,
        f"""
        CREATE OR REPLACE TABLE sdml_cor2 USING versioned
        LOCATION '{tmp_path}/sdml_cor2'
        AS SELECT k, v * 10 AS v10 FROM sdml_cor2 WHERE k < 3
        """,
    )
    assert sorted(
        (r["k"], r["v10"])
        for r in spark.table("sdml_cor2").collect()
    ) == [(0, 0.0), (1, 10.0), (2, 20.0)]
    # OR REPLACE on a fresh name/location degrades to plain create
    out = tt.sql(
        spark,
        f"CREATE OR REPLACE TABLE sdml_cor3 (x INT) USING versioned "
        f"LOCATION '{tmp_path}/cor3'",
    ).collect()
    assert out[0]["op"] == "create"
    tt.sql(spark, "DROP TABLE sdml_cor2")
    tt.sql(spark, "DROP TABLE sdml_cor3")


# -- r15: atomic REPLACE properties, crisp CREATE refusals, ---------------
# -- CREATE OR REPLACE ... SHALLOW CLONE ----------------------------------


def test_replace_resets_properties_in_one_commit(spark, tmp_path):
    """ADVICE r14 #1: CREATE OR REPLACE TABLE lands the declared
    property set inside the SAME data commit — no follow-up
    set/unset commits, so no window where the new definition carries
    the old table's behavior-affecting properties."""
    loc = str(tmp_path / "rp")
    tt.sql(
        spark,
        f"CREATE TABLE sdml_rp (k BIGINT, v STRING) USING versioned "
        f"LOCATION '{loc}' TBLPROPERTIES ('smetl.dml.mode'='mor', "
        "'team'='etl')",
    )
    t = VersionedTable(spark, loc)
    assert t.properties() == {"smetl.dml.mode": "mor", "team": "etl"}
    head0 = t.head_version()
    tt.sql(
        spark,
        f"CREATE OR REPLACE TABLE sdml_rp (k BIGINT, v STRING, w DOUBLE) "
        f"USING versioned LOCATION '{loc}' TBLPROPERTIES ('team'='ml')",
    )
    # exactly ONE commit past the old head, op 'overwrite', and the
    # property map is already the declared set
    assert t.head_version() == head0 + 1
    assert t._read_pointer(t.head_version())["op"] == "overwrite"
    assert t.properties() == {"team": "ml"}
    # REPLACE with no TBLPROPERTIES clears the map, same single commit
    tt.sql(
        spark,
        f"CREATE OR REPLACE TABLE sdml_rp (k BIGINT) USING versioned "
        f"LOCATION '{loc}'",
    )
    assert t.head_version() == head0 + 2
    assert t.properties() == {}


def test_overwrite_properties_requires_replace_schema(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_rp2")
    with pytest.raises(ValueError, match="replace_schema"):
        t.overwrite(t.read(), properties={"a": "b"})
    # and the engine-consulted keys validate at declaration time
    with pytest.raises(ValueError, match="smetl.dml.mode"):
        t.overwrite(
            t.read(), replace_schema=True, properties={"smetl.dml.mode": "x"}
        )


def test_create_at_initialized_location_refuses_crisply(spark, tmp_path):
    """ADVICE r14 #3: plain CREATE TABLE at a LOCATION already holding
    an initialized table refuses with the module's ValueError style
    (suggesting CREATE OR REPLACE), not a raw IOError."""
    t = _mk(spark, tmp_path, "sdml_cr")
    with pytest.raises(ValueError, match="CREATE OR REPLACE"):
        tt.sql(
            spark,
            f"CREATE TABLE sdml_cr_other (k BIGINT) USING versioned "
            f"LOCATION '{t.path}'",
        )


def test_create_or_replace_shallow_clone(spark, tmp_path):
    """CREATE OR REPLACE TABLE ... SHALLOW CLONE (ADVICE r14 #3): on
    an existing destination the clone lands as a zero-copy
    replace_clone commit; destination history stays time-travelable;
    on a fresh destination it degrades to the plain create-clone."""
    src = _mk(spark, tmp_path, "sdml_rc_src")
    dest = _mk(spark, tmp_path, "sdml_rc_dest", rows=5)
    head0 = dest.head_version()
    out = tt.sql(
        spark,
        "CREATE OR REPLACE TABLE sdml_rc_dest SHALLOW CLONE "
        f"sdml_rc_src LOCATION '{dest.path}'",
    ).collect()
    assert out[0]["op"] == "replace_clone"
    assert dest.head_version() == head0 + 1
    # head now reads the source snapshot, zero-copy
    assert len(_state(dest)) == 20
    # pre-replace destination history still time travels
    assert len(
        sorted((r["k"]) for r in dest.read(head0).collect())
    ) == 5
    # and the replace-clone registered at the source: source vacuum
    # keeps the shared snapshot alive (the r12 back-pointer contract)
    # fresh destination: OR REPLACE degrades to a create-clone
    out2 = tt.sql(
        spark,
        "CREATE OR REPLACE TABLE sdml_rc_new SHALLOW CLONE "
        f"sdml_rc_src LOCATION '{tmp_path / 'rc_new'}'",
    ).collect()
    assert out2[0]["op"] == "clone" and out2[0]["version"] == 0
    # mismatched registered location still refuses
    with pytest.raises(ValueError, match="different location"):
        tt.sql(
            spark,
            "CREATE OR REPLACE TABLE sdml_rc_dest SHALLOW CLONE "
            f"sdml_rc_src LOCATION '{tmp_path / 'elsewhere'}'",
        )


# -- r15: partition-spec evolution as SQL ---------------------------------


def test_sql_set_partitioned_by(spark, tmp_path):
    """ALTER TABLE ... SET PARTITIONED BY (VERDICT r14 #3): the
    metadata-only spec change routed to set_partition_spec — zero
    files move, later inserts lay out (and prune) under the new
    spec, and the spec roundtrips through SHOW CREATE TABLE."""
    t = _mk(spark, tmp_path, "sdml_pb")
    files0 = t._read_manifest(0)["files"]
    out = tt.sql(
        spark, "ALTER TABLE sdml_pb SET PARTITIONED BY (g)"
    ).collect()
    assert out[0]["op"] == "set_partition_spec" and out[0]["version"] == 1
    assert t._read_manifest(1)["files"] == files0  # zero data IO
    tt.sql(
        spark,
        "INSERT INTO sdml_pb VALUES (100, 'g0', 100.0), "
        "(101, 'g1', 101.0), (102, 'g2', 102.0)",
    )
    kept, total = t.pruned_file_count("g", "g1", "g1")
    assert kept < total  # new generation prunes
    assert sorted(
        r["k"] for r in t.read_where("g", "g1", "g1").collect()
    ) == [i for i in range(20) if i % 3 == 1] + [101]
    assert "PARTITIONED BY (g)" in tt.sql(
        spark, "SHOW CREATE TABLE sdml_pb"
    ).collect()[0]["createtab_stmt"]
    # CLEAR PARTITIONING drops the spec for commits from here
    out2 = tt.sql(spark, "ALTER TABLE sdml_pb CLEAR PARTITIONING").collect()
    assert out2[0]["op"] == "set_partition_spec"
    assert t._read_pointer(t.head_version()).get("partition_by") is None


def test_sql_set_partitioned_by_refusals(spark, tmp_path):
    t = _mk(spark, tmp_path, "sdml_pbr")
    with pytest.raises(ValueError, match="unknown"):
        tt.sql(spark, "ALTER TABLE sdml_pbr SET PARTITIONED BY (zzz)")
    with pytest.raises(ValueError, match="empty column list"):
        tt.sql(spark, "ALTER TABLE sdml_pbr SET PARTITIONED BY ()")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    tb = VersionedTable.create(
        spark, str(tmp_path / "pbrb"), df, bucket_by=("k", 2)
    )
    tt.register_table(spark, "sdml_pbrb", tb.path)
    with pytest.raises(ValueError, match="compose"):
        tt.sql(spark, "ALTER TABLE sdml_pbrb SET PARTITIONED BY (v)")


def test_sql_deep_clone(spark, tmp_path):
    """CREATE TABLE <n> DEEP CLONE <src> [VERSION AS OF n] LOCATION —
    independent file copies, fresh history; OR REPLACE refuses (a
    deep clone initializes a fresh location by definition)."""
    t = _mk(spark, tmp_path, "sdml_dcl")
    tt.sql(spark, "DELETE FROM sdml_dcl WHERE k >= 10")
    out = tt.sql(
        spark,
        "CREATE TABLE sdml_dcl2 DEEP CLONE sdml_dcl VERSION AS OF 0 "
        f"LOCATION '{tmp_path / 'd2'}'",
    ).collect()
    assert out[0]["op"] == "deep_clone" and out[0]["version"] == 0
    assert tt.sql(
        spark, "SELECT count(*) AS n FROM sdml_dcl2"
    ).collect()[0]["n"] == 20
    # independent: source DML never shows through
    tt.sql(spark, "DELETE FROM sdml_dcl WHERE k < 5")
    assert tt.sql(
        spark, "SELECT count(*) AS n FROM sdml_dcl2"
    ).collect()[0]["n"] == 20
    with pytest.raises(ValueError, match="DEEP CLONE is not supported"):
        tt.sql(
            spark,
            "CREATE OR REPLACE TABLE sdml_dcl2 DEEP CLONE sdml_dcl "
            f"LOCATION '{tmp_path / 'd2'}'",
        )


# -- one SQL front end: Spark's own parser reads every statement --------------


def test_sql_merge_alias_never_rewritten_inside_literal(spark, tmp_path):
    """Target/source aliases are re-qualified on the PARSED attribute
    references only: alias-like text inside a string literal ('o.x')
    is stored verbatim, while the real references still resolve."""
    t = _mk(spark, tmp_path, "sdml_lit", rows=3)
    spark.createDataFrame(
        [(1, "n")], "k long, g string"
    ).createOrReplaceTempView("sdml_lit_src")
    tt.sql(
        spark,
        """
        MERGE INTO sdml_lit AS o USING sdml_lit_src AS s ON o.k = s.k
        WHEN MATCHED THEN UPDATE SET g = 'o.x', v = o.v + 10
        """,
    )
    assert _state(t)[1] == (1, "o.x", 11.0)
    tt.sql(
        spark,
        """
        MERGE INTO sdml_lit AS o USING sdml_lit_src AS s ON o.k = s.k
        WHEN MATCHED THEN UPDATE SET g = concat(s.g, ' s.g o.g')
        """,
    )
    assert _state(t)[1] == (1, "n s.g o.g", 11.0)


@pytest.mark.parametrize(
    "stmt, changed",
    [
        ('UPDATE {t} SET g = "a, b" WHERE k = 1', {1: (1, "a, b", 1.0)}),
        (
            'UPDATE {t} SET g = "x WHERE y" WHERE k = 1',
            {1: (1, "x WHERE y", 1.0)},
        ),
        ("DELETE FROM {t} -- c\nWHERE k = 1", {1: None}),
        ("UPDATE {t} SET `g` = 'q' WHERE k = 2", {2: (2, "q", 2.0)}),
        (
            "MERGE INTO {t} AS t USING {t}_src AS s ON (t.k = s.k) "
            "WHEN MATCHED THEN UPDATE SET v = s.v",
            {3: (3, "g0", 30.0)},
        ),
    ],
    ids=[
        "update-dq-comma",
        "update-dq-where",
        "delete-line-comment",
        "update-quoted-column",
        "merge-parenthesized-on",
    ],
)
def test_sql_valid_statements_accepted(spark, tmp_path, stmt, changed):
    """Valid statements the old masked-regex grammar refused or
    mis-split: double-quoted literals holding ',' or 'WHERE', a line
    comment before WHERE, a backquoted column, a parenthesized ON.
    Each leaves exactly the rows its Spark reading says."""
    t = _mk(spark, tmp_path, "sdml_valid", rows=5)
    spark.createDataFrame(
        [(3, 30.0)], "k long, v double"
    ).createOrReplaceTempView("sdml_valid_src")
    tt.sql(spark, stmt.format(t="sdml_valid"))
    want = {i: (i, f"g{i % 3}", float(i)) for i in range(5)}
    for k, row in changed.items():
        if row is None:
            del want[k]
        else:
            want[k] = row
    assert _state(t) == sorted(want.values())


@pytest.mark.parametrize(
    "kind, stmt",
    [
        (
            "MERGE",
            "MERGE INTO {t} t USING {t} s ON t.k = s.k WHEN MATCHED THEN",
        ),
        ("UPDATE", "UPDATE {t} SET g = WHERE k = 1"),
        (
            "CREATE TABLE",
            "CREATE TABLE {t}_new (k BIGINT,) USING versioned "
            "LOCATION '{loc}'",
        ),
    ],
    ids=["merge", "update", "create-versioned"],
)
def test_sql_malformed_statement_refused_with_position(
    spark, tmp_path, kind, stmt
):
    """A statement Spark cannot parse refuses as a ValueError naming
    the statement kind and carrying Spark's parse position."""
    t = _mk(spark, tmp_path, "sdml_bad", rows=2)
    before = t.head_version()
    with pytest.raises(
        ValueError, match=rf"^{kind}: (?s:.*)\(line 1, pos \d+\)"
    ):
        tt.sql(spark, stmt.format(t="sdml_bad", loc=tmp_path / "new"))
    assert t.head_version() == before


def test_sql_delete_bare_exists_never_reads_as_no_where(spark, tmp_path):
    """Spark builds a bare EXISTS without an origin of its own (it
    carries the statement's span, like the TRUE literal of a DELETE
    with no WHERE): the DELETE refuses instead of deleting every row."""
    t = _mk(spark, tmp_path, "sdml_exists", rows=4)
    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView(
        "sdml_exists_src"
    )
    with pytest.raises(ValueError, match="cannot locate"):
        tt.sql(
            spark,
            "DELETE FROM sdml_exists WHERE EXISTS "
            "(SELECT 1 FROM sdml_exists_src WHERE sdml_exists_src.k = 9)",
        )
    assert len(_state(t)) == 4
