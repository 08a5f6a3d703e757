"""MERGE INTO on VersionedTable (VERDICT r8 #6 — Delta MERGE
semantics as one copy-on-write commit): matched update / matched
delete / not-matched insert in a single atomic snapshot swap, with
first-committer-wins CAS, COW file (and segment) reuse, ambiguity
refusal, and strict-cast clause typing."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, amt double")


def test_merge_update_insert_delete_in_one_commit(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]),
    )
    src = _df(spark, [(2, "b2", 200.0), (3, None, 0.0), (4, "d", 40.0)])
    v = t.merge(
        src,
        on=["k"],
        when_matched_delete="s.amt = 0.0",      # takes k=3
        when_matched_update={"v": "s.v", "amt": "t.amt + s.amt"},  # k=2
        when_not_matched_insert="*",             # k=4
    )
    assert v == 1
    got = sorted((r["k"], r["v"], r["amt"]) for r in t.read().collect())
    assert got == [(1, "a", 10.0), (2, "b2", 220.0), (4, "d", 40.0)]
    # one atomic commit; time travel sees the pre-merge state
    assert t.head_version() == 1
    assert sorted(r["k"] for r in t.read(0).collect()) == [1, 2, 3]


def test_merge_delete_clause_wins_over_update(spark, tmp_path):
    """Delta clause order: a matched row satisfying the delete
    condition is removed even when an update clause also exists."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    t.merge(
        _df(spark, [(1, "z", 9.0)]),
        on=["k"],
        when_matched_delete="true",
        when_matched_update={"v": "s.v"},
    )
    assert t.read().count() == 0


def test_merge_insert_only_acts_like_filtered_append(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    v = t.merge(
        _df(spark, [(1, "dup", 0.0), (2, "b", 2.0)]),
        on=["k"],
        when_not_matched_insert="*",
    )
    assert v == 1
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b")]  # matched row untouched


def test_merge_reuses_untouched_files_and_segments(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 80).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.lit(1.0).alias("amt")
    )
    clustered = df.repartitionByRange(8, "k").sortWithinPartitions("k")
    t = VersionedTable.create(spark, str(tmp_path / "t"), clustered)
    ptr0 = t._read_pointer(0)
    v0_files = set(t._read_manifest(0)["files"])
    src = _df(spark, [(5, "upd", 9.0)])  # one key → one touched file
    v = t.merge(src, on=["k"], when_matched_update={"v": "s.v"})
    m1 = t._read_manifest(v)
    reused = set(m1["files"]) & v0_files
    assert reused and set(m1["files"]) != v0_files
    # segmented metadata reuse: the rewritten segment changed name,
    # untouched content stayed in segments carried by name
    assert set(t._read_pointer(v)["segments"]) & set(ptr0["segments"]) == set()
    # ^ create wrote ONE segment holding all 8 files; it lost a file so
    # it was rewritten — but only ONE new data file was written:
    assert len(set(m1["files"]) - v0_files) <= 2
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == "upd" and got[6] == "x" and len(got) == 80


def test_merge_ambiguous_source_raises(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    dup_src = _df(spark, [(1, "x", 1.0), (1, "y", 2.0)])
    with pytest.raises(ValueError, match="multiple source rows"):
        t.merge(dup_src, on=["k"], when_matched_update={"v": "s.v"})
    # duplicate UNMATCHED keys are also a caller bug only when a clause
    # consumes them; with no target hit and no insert clause it's a noop
    assert t.head_version() == 0
    # on a table with deletion vectors the probe sees the DV-applied
    # rows: a duplicate key refuses when it matches a visible row, and
    # merges when its only target row is hidden
    t = VersionedTable.create(
        spark,
        str(tmp_path / "d"),
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
    )
    t.delete("k = 2", mode="mor")  # v1: DV hides k=2
    with pytest.raises(ValueError, match="multiple source rows"):
        t.merge(
            _df(spark, [(1, "x", 1.0), (1, "y", 2.0)]),
            on=["k"],
            when_matched_update={"v": "s.v"},
        )
    assert t.head_version() == 1
    v = t.merge(
        _df(spark, [(2, "x", 1.0), (2, "y", 2.0)]),
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert="*",
    )
    assert v == 2
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"),
        (2, "x"),
        (2, "y"),
    ]
    # with schema evolution pending, the refusal still comes first
    src = spark.createDataFrame(
        [(1, "x", 1.0, "t1"), (1, "y", 2.0, "t2")],
        "k long, v string, amt double, tag string",
    )
    with pytest.raises(ValueError, match="multiple source rows"):
        t.merge(
            src,
            on=["k"],
            when_matched_update={"v": "s.v"},
            when_not_matched_insert="*",
            schema_evolution=True,
        )
    assert t.head_version() == 2
    assert "tag" not in t.read().columns


def test_merge_strict_cast_raises_on_misfit_update(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    with pytest.raises(Exception) as ei:
        t.merge(
            _df(spark, [(1, "zzz", 2.0)]),
            on=["k"],
            when_matched_update={"k": "s.v"},  # string into long
        )
    assert "does not fit type" in str(ei.value)
    assert t.head_version() == 0


def test_merge_noop_returns_current_version(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    v = t.merge(
        _df(spark, [(9, "z", 9.0)]),
        on=["k"],
        when_matched_update={"v": "s.v"},  # no insert clause, no match
    )
    assert v == 0 and t.head_version() == 0


def test_merge_race_commutes_with_disjoint_append_else_raises(
    spark, tmp_path
):
    """The r11 conflict rule, merge form: a lost CAS against a blind
    append REBASES when no appended row joins the source on the merge
    keys; an appended row the source WOULD have matched raises — the
    computed change set mis-classified it as absent."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    orig = VersionedTable._try_commit

    def steal(rows):
        def _steal(self, m, v):
            VersionedTable._try_commit = orig
            t.append(_df(spark, rows))
            return False

        return _steal

    # disjoint append (k=2 not in the source): merge rebases + commits
    VersionedTable._try_commit = steal([(2, "b", 2.0)])
    victim = VersionedTable(spark, str(tmp_path / "t"))
    try:
        v = victim.merge(
            _df(spark, [(1, "z", 0.0)]),
            on=["k"],
            when_matched_update={"v": "s.v"},
        )
    finally:
        VersionedTable._try_commit = orig
    assert victim._read_manifest(v)["parent"] == 1
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "z"), (2, "b")]
    # matching append (k=7 IS a source key): real conflict
    VersionedTable._try_commit = steal([(7, "late", 9.0)])
    try:
        with pytest.raises(
            ConcurrentWriteError, match="match the source keys"
        ):
            victim.merge(
                _df(spark, [(7, "s7", 0.0)]),
                on=["k"],
                when_matched_update={"v": "s.v"},
                when_not_matched_insert="*",
            )
    finally:
        VersionedTable._try_commit = orig
    # the winner's commit is intact; the merge never half-applied
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "z"), (2, "b"), (7, "late")]


def test_merge_txn_recorded_for_idempotent_replay(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    t.merge(
        _df(spark, [(2, "b", 2.0)]),
        on=["k"],
        when_not_matched_insert="*",
        txn="batch-7",
    )
    assert "batch-7" in t.committed_txns()
    # the replay guard is the caller's skip, Delta txnAppId-style
    if "batch-7" not in t.committed_txns():
        raise AssertionError("unreachable")
    assert t.head_version() == 1


def test_merge_read_changes_refuses_crossing_range(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    t.merge(
        _df(spark, [(1, "z", 5.0)]),
        on=["k"],
        when_matched_update={"v": "s.v"},
    )
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)


def test_merge_insert_dict_with_defaults_and_nulls(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    src = spark.createDataFrame([(5, 50.0)], "k long, amount double")
    t.merge(
        src,
        on=["k"],
        when_not_matched_insert={"k": "s.k", "amt": "s.amount * 2"},
    )
    got = sorted(
        (r["k"], r["v"], r["amt"]) for r in t.read().collect()
    )
    assert got == [(1, "a", 1.0), (5, None, 100.0)]


def test_merge_respects_check_constraints(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1.0)]),
        constraints={"amt_pos": "amt >= 0"},
    )
    with pytest.raises(VersionedTable.ConstraintViolation):
        t.merge(
            _df(spark, [(2, "b", -5.0)]),
            on=["k"],
            when_not_matched_insert="*",
        )
    assert t.head_version() == 0


def test_merge_null_keys_never_match(spark, tmp_path):
    """SQL MERGE semantics: NULL join keys match NOTHING — a
    NULL-keyed source row takes the not-matched (insert) path and a
    NULL-keyed target row survives untouched (r9 self-review: an
    eqNullSafe rewrite join silently violated both)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(None, "t-null", 1.0), (2, "b", 2.0)]),
    )
    src = _df(spark, [(None, "s-null", 9.0), (2, "b2", 0.0)])
    t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v", "amt": "s.amt"},
        when_not_matched_insert="*",
    )
    got = sorted(
        ((r["k"] if r["k"] is not None else -1), r["v"], r["amt"])
        for r in t.read().collect()
    )
    # target NULL row untouched; source NULL row inserted; k=2 updated
    assert got == [
        (-1, "s-null", 9.0),
        (-1, "t-null", 1.0),
        (2, "b2", 0.0),
    ]


@pytest.mark.slow
def test_merge_on_mor_table_does_not_resurrect(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]).coalesce(1),
    )
    t.delete("k = 1", mode="mor")
    t.merge(
        _df(spark, [(2, "b2", 0.0)]),
        on=["k"],
        when_matched_update={"v": "s.v"},
    )
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(2, "b2")]


def test_merge_records_classified_cdc_on_cdf_tables(spark, tmp_path):
    """On a change-data-feed table, MERGE records its row-level
    changes classified at commit time — delete preimages, update
    pre/postimage pairs, inserts — completing the CDF DML matrix; the
    feed replays them typed."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 950.0)]),
        change_data_feed=True,
    )
    src = _df(spark, [(2, "B", 30.0), (3, "C", 1.0), (9, "i", 7.0)])
    t.merge(
        src,
        on=["k"],
        when_matched_delete="t.amt > 900.0",
        when_matched_update={"v": "s.v", "amt": "s.amt"},
        when_not_matched_insert="*",
    )
    feed = t.read_change_feed(0)
    got = sorted(
        (r["_change_type"], r["k"], r["v"], r["amt"])
        for r in feed.collect()
    )
    assert got == [
        ("delete", 3, "c", 950.0),
        ("insert", 9, "i", 7.0),
        ("update_postimage", 2, "B", 30.0),
        ("update_preimage", 2, "b", 20.0),
    ]
    # replica replay reproduces the head
    state = {
        r["k"]: (r["v"], r["amt"]) for r in t.read(0).collect()
    }
    for kind, k, v, amt in got:
        if kind in ("insert", "update_postimage"):
            state[k] = (v, amt)
        elif kind == "delete":
            state.pop(k)
    assert state == {
        r["k"]: (r["v"], r["amt"]) for r in t.read().collect()
    }


def test_merge_with_zero_row_changes_is_feed_transparent(spark, tmp_path):
    """An insert-only merge whose source keys all matched rewrites
    files but changes no rows — the feed must cross it silently (no
    unreadable empty CDC dir, no refusal)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        change_data_feed=True,
    )
    t.merge(
        _df(spark, [(1, "x", 9.0)]),
        on=["k"],
        when_not_matched_insert="*",
    )
    assert t.head_version() == 1
    assert t.read_change_feed(0).count() == 0
    t.append(_df(spark, [(5, "e", 5.0)]))
    got = sorted(
        (r["_change_type"], r["k"]) for r in t.read_change_feed(0).collect()
    )
    assert got == [("insert", 5)]


# -- WHEN NOT MATCHED BY SOURCE (r11) -----------------------------------------


def test_merge_by_source_sync_to_source(spark, tmp_path):
    """Unconditional by-source delete + matched update + insert = the
    classic sync: after the commit the table IS the source."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]),
    )
    src = _df(spark, [(2, "B", 200.0), (4, "d", 40.0)])
    t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v", "amt": "s.amt"},
        when_not_matched_insert="*",
        when_not_matched_by_source_delete="true",
    )
    got = sorted(map(tuple, t.read().collect()))
    assert got == [(2, "B", 200.0), (4, "d", 40.0)]


def test_merge_by_source_conditional_delete_is_cow_granular(spark, tmp_path):
    """A CONDITIONAL by-source delete rewrites only the files where
    the condition fires among unmatched rows; other files carry
    byte-identical."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0)]).coalesce(1),
    )
    t.append(_df(spark, [(5, "stale", -5.0)]).coalesce(1))  # second file
    v0_files = set(t._read_manifest(1)["files"])
    src = _df(spark, [(9, "zz", 9.0)])  # matches nothing
    v = t.merge(
        src,
        on=["k"],
        when_not_matched_by_source_delete="t.amt < 0",
    )
    m = t._read_manifest(v)
    # only the file holding the negative row was rewritten
    assert len(v0_files & set(m["files"])) == 1
    # no insert clause: the unmatched source row was NOT inserted,
    # and only the t.amt<0 row was deleted
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_merge_by_source_update_and_clause_order(spark, tmp_path):
    """By-source update marks unmatched survivors; the by-source
    delete clause evaluates first (Delta clause order)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 10.0), (2, "b", -2.0), (3, "c", 30.0)]),
    )
    src = _df(spark, [(1, "A", 100.0)])
    t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_by_source_delete="t.amt < 0",
        when_not_matched_by_source_update={"v": "concat(t.v, '-stale')"},
    )
    got = sorted(map(tuple, t.read().collect()))
    assert got == [(1, "A", 10.0), (3, "c-stale", 30.0)]


def test_merge_by_source_refusals(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    src = _df(spark, [(2, "b", 2.0)])
    with pytest.raises(ValueError, match="has no source row"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_by_source_update={"v": "s.v"},
        )
    with pytest.raises(ValueError, match="unknown column"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_by_source_update={"nope": "'x'"},
        )


def test_merge_by_source_records_cdc(spark, tmp_path):
    """On a CDF table the by-source deletes and update pairs land in
    the change feed like their matched twins."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a", 10.0), (2, "b", 20.0)]),
        change_data_feed=True,
    )
    src = _df(spark, [(1, "A", 100.0), (9, "i", 9.0)])
    v = t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert="*",
        when_not_matched_by_source_delete="true",
    )
    feed = sorted(
        (r["_change_type"], r["k"])
        for r in t.read_change_feed(0, v).collect()
    )
    assert feed == [
        ("delete", 2),  # by-source
        ("insert", 9),
        ("update_postimage", 1),
        ("update_preimage", 1),
    ]
    # replay: {1,2} -> update 1, delete 2, insert 9
    assert sorted(r["k"] for r in t.read().collect()) == [1, 9]


def test_merge_by_source_race_always_raises_on_added_rows(spark, tmp_path):
    """A by-source merge classifies EVERY row, so ANY concurrently
    appended row stales it — even one matching no source key."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)]))
    orig = t._try_commit

    def racing(manifest, version):
        w2 = VersionedTable(spark, t.path)
        w2.append(_df(spark, [(50, "late", 5.0)]))
        t._try_commit = orig
        return orig(manifest, version)

    t._try_commit = racing
    with pytest.raises(ConcurrentWriteError, match="classifies every"):
        t.merge(
            _df(spark, [(1, "A", 1.0)]),
            on=["k"],
            when_matched_update={"v": "s.v"},
            when_not_matched_by_source_delete="true",
        )


def test_merge_conditional_update_clause(spark, tmp_path):
    """r13: when_matched_update_condition — Delta's WHEN MATCHED AND
    <cond> THEN UPDATE. A matched row failing the condition carries
    unchanged and, on CDF tables, produces NO update images."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, v double"
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, change_data_feed=True
    )
    src = spark.createDataFrame(
        [(1, 100.0), (2, 200.0)], "k long, v double"
    )
    v = t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_matched_update_condition="s.v > 150",
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[1] == 1.0 and got[2] == 200.0
    changes = t.read_change_feed(0, v).collect()
    touched = {(r["k"], r["_change_type"]) for r in changes}
    assert (2, "update_preimage") in touched
    assert (2, "update_postimage") in touched
    assert not [r for r in changes if r["k"] == 1]


def test_merge_conditional_insert_clause(spark, tmp_path):
    df = spark.createDataFrame([(0, 0.0)], "k long, v double")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    src = spark.createDataFrame(
        [(5, 5.0), (6, 60.0)], "k long, v double"
    )
    t.merge(
        src,
        on=["k"],
        when_not_matched_insert="*",
        when_not_matched_insert_condition="s.v > 10",
    )
    assert sorted(r["k"] for r in t.read().collect()) == [0, 6]


def test_merge_conditional_by_source_update(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "k long, v double"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    src = spark.createDataFrame([(0, 0.0)], "k long, v double")
    t.merge(
        src,
        on=["k"],
        when_not_matched_by_source_update={"v": "-1.0"},
        when_not_matched_by_source_update_condition="t.k >= 4",
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: -1.0, 5: -1.0}


def test_merge_conditional_mor_vectors_only_taken_rows(spark, tmp_path):
    """MoR + update condition: rows failing the condition are NOT
    vectored and NOT rewritten — the O(taken rows) contract."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double"
    )
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    src = spark.createDataFrame(
        [(1, 100.0), (2, 200.0), (3, 300.0)], "k long, v double"
    )
    t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_matched_update_condition="s.v >= 200",
        mode="mor",
    )
    dv_dirs = t._read_pointer(1).get("delete_vectors")
    assert dv_dirs
    n_vectored = spark.read.parquet(*dv_dirs).count()
    assert n_vectored == 2  # only k=2 and k=3 taken
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[1] == 1.0 and got[2] == 200.0 and got[3] == 300.0


def test_merge_condition_refusals(spark, tmp_path):
    df = spark.createDataFrame([(0, 0.0)], "k long, v double")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    src = spark.createDataFrame([(1, 1.0)], "k long, v double")
    with pytest.raises(ValueError, match="without its"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_insert="*",
            when_matched_update_condition="s.v > 0",
        )
    with pytest.raises(ValueError, match="'t.'"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_insert="*",
            when_not_matched_insert_condition="t.v > 0",
        )
    with pytest.raises(ValueError, match="'s.'"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_by_source_update={"v": "0.0"},
            when_not_matched_by_source_update_condition="s.v > 0",
        )


# -- schema evolution (r14 — Delta autoMerge, VERDICT r13 #4) -----------------


def test_merge_insert_star_extra_columns_refused_by_default(spark, tmp_path):
    """Without the opt-in, INSERT * with extra source columns refuses
    (naming the flag) instead of silently dropping the data."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    src = spark.createDataFrame(
        [(2, "b", 2.0, "extra")], "k long, v string, amt double, tag string"
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        t.merge(src, on=["k"], when_not_matched_insert="*")
    assert t.head_version() == 0


def test_merge_schema_evolution_new_column(spark, tmp_path):
    """With the flag, a new source column is added to the target in the
    merge's own commit; pre-evolution rows NULL-fill."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    files0 = set(t._read_manifest(0)["files"])
    src = spark.createDataFrame(
        [(2, "b", 2.0, "t2")], "k long, v string, amt double, tag string"
    )
    v = t.merge(
        src, on=["k"], when_not_matched_insert="*", schema_evolution=True
    )
    assert [t._read_pointer(i)["op"] for i in range(v + 1)] == [
        "create", "merge"
    ]
    # the merge kept the old file and evolved the schema in one commit
    assert files0 <= set(t._read_manifest(1)["files"])
    assert t.read(0).columns == ["k", "v", "amt"]
    assert t.read().columns == ["k", "v", "amt", "tag"]
    assert "tag" in t._read_pointer(1)["field_ids"]
    got = sorted(
        (r["k"], r["v"], r["amt"], r["tag"]) for r in t.read().collect()
    )
    assert got == [(1, "a", 1.0, None), (2, "b", 2.0, "t2")]


def test_merge_schema_evolution_widens_type(spark, tmp_path):
    """A source column typed as a lossless widening of the target's
    (int→bigint here) widens in the merge's own commit; both pre- and
    post-widen rows read back under the wider type."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10)], "k long, n int"),
    )
    src = spark.createDataFrame(
        [(1, 2**40), (2, 20)], "k long, n bigint"
    )
    v = t.merge(
        src,
        on=["k"],
        when_matched_update={"n": "s.n"},
        when_not_matched_insert="*",
        schema_evolution=True,
    )
    assert [t._read_pointer(i)["op"] for i in range(v + 1)] == [
        "create", "merge"
    ]
    assert t.read(0).schema["n"].dataType.simpleString() == "int"
    assert t.read().schema["n"].dataType.simpleString() == "bigint"
    assert sorted((r["k"], r["n"]) for r in t.read().collect()) == [
        (1, 2**40), (2, 20)
    ]


def test_merge_schema_evolution_table_property(spark, tmp_path):
    """smetl.merge.schemaEvolution='true' opts the whole table in —
    every SQL writer inherits it, Delta's property contract; 'yes'
    and friends are refused at SET time."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    with pytest.raises(ValueError, match="schemaEvolution"):
        t.set_properties({"smetl.merge.schemaEvolution": "yes"})
    t.set_properties({"smetl.merge.schemaEvolution": "true"})
    src = spark.createDataFrame(
        [(2, "b", 2.0, 7)], "k long, v string, amt double, extra int"
    )
    t.merge(src, on=["k"], when_not_matched_insert="*")
    assert "extra" in t.read().columns
    # the per-call flag can still force-refuse on an opted-in table
    src2 = spark.createDataFrame(
        [(3, "c", 3.0, "x")], "k long, v string, amt double, other string"
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        t.merge(
            src2,
            on=["k"],
            when_not_matched_insert="*",
            schema_evolution=False,
        )


def test_merge_dict_insert_never_evolves(spark, tmp_path):
    """Dict-form inserts keep refusing unknown columns even with the
    flag — evolution is an INSERT * contract (Delta's too)."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    src = spark.createDataFrame([(2, "z")], "k long, newcol string")
    with pytest.raises(ValueError, match="unknown"):
        t.merge(
            src,
            on=["k"],
            when_not_matched_insert={"k": "s.k", "newcol": "s.newcol"},
            schema_evolution=True,
        )


def test_merge_refused_leaves_schema_unevolved(spark, tmp_path):
    """ADVICE r14 #2: evolution commits are DEFERRED past the
    pre-commit validations — a merge refused for duplicate-key
    ambiguity (or an unknown assigned column) must not leave
    add_column/widen commits behind on the target."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    # duplicate source keys that MATCH a target row -> ambiguity
    src = spark.createDataFrame(
        [(1, "x", 1.0, "t1"), (1, "y", 2.0, "t2")],
        "k long, v string, amt double, tag string",
    )
    with pytest.raises(ValueError, match="multiple source rows"):
        t.merge(
            src,
            on=["k"],
            when_matched_update={"v": "s.v"},
            when_not_matched_insert="*",
            schema_evolution=True,
        )
    assert t.head_version() == 0
    assert "tag" not in t.read().columns
    # an unknown UPDATE assignment refuses without evolving either
    src2 = spark.createDataFrame(
        [(2, "b", 2.0, "t2")], "k long, v string, amt double, tag string"
    )
    with pytest.raises(ValueError, match="unknown"):
        t.merge(
            src2,
            on=["k"],
            when_matched_update={"nope": "s.v"},
            when_not_matched_insert="*",
            schema_evolution=True,
        )
    assert t.head_version() == 0
    assert "tag" not in t.read().columns


def test_merge_evolution_still_lands_after_deferral(spark, tmp_path):
    """A valid evolving merge commits its column change with its rows,
    in one commit, and an evolved column may be assigned by the update
    clause."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    src = spark.createDataFrame(
        [(1, "a2", 1.5, "t1"), (2, "b", 2.0, "t2")],
        "k long, v string, amt double, tag string",
    )
    v = t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v", "tag": "s.tag"},
        when_not_matched_insert="*",
        schema_evolution=True,
    )
    assert [t._read_pointer(i)["op"] for i in range(v + 1)] == [
        "create", "merge"
    ]
    assert "tag" not in t.read(0).columns
    assert "tag" in t.read().columns
    got = sorted(
        (r["k"], r["v"], r["tag"]) for r in t.read().collect()
    )
    assert got == [(1, "a2", "t1"), (2, "b", "t2")]


def test_merge_evolution_on_new_key_column(spark, tmp_path):
    """Merging ON a column the target does not have yet (the
    evolution adds it): no target row can match (NULL keys match
    nothing), so every source row inserts — and the ambiguity probe
    skips rather than reading a nonexistent column."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a", 1.0)])
    )
    src = spark.createDataFrame(
        [(10, "n1"), (11, "n2")], "nk long, v2 string"
    )
    v = t.merge(
        src, on=["nk"], when_not_matched_insert="*", schema_evolution=True
    )
    assert t.head_version() == v
    assert t.read().count() == 3
    assert sorted(
        r["nk"] for r in t.read().where("nk IS NOT NULL").collect()
    ) == [10, 11]


def test_evolving_merge_is_one_commit_with_one_key_find(spark, tmp_path):
    """An evolving merge runs its key find once and commits its column
    change in its own data commit: a merge that loses its final CAS
    leaves the schema unevolved, and a rebase onto a head that already
    added an evolved column refuses naming it."""
    from social_media_etl_spark.operators.manifest import ConcurrentWriteError

    t = VersionedTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([(1, "a", 1)], "k long, v string, n int"),
    )
    src = spark.createDataFrame(
        [(1, "a2", 2**40, "t1"), (2, "b", 5, "t2")],
        "k long, v string, n bigint, tag string",
    )
    finds = []
    real_find = t._key_matched_files
    t._key_matched_files = lambda *a: finds.append(1) or real_find(*a)
    t2 = VersionedTable(spark, t.path)
    real_commit = t._try_commit

    def race_with(winner):
        def racing(m, v):
            if m.get("op") == "merge" and not racing.raced:
                racing.raced = True
                winner()
            return real_commit(m, v)

        racing.raced = False
        return racing

    def merge():
        return t.merge(
            src,
            on=["k"],
            when_matched_update={"v": "s.v"},
            when_not_matched_insert="*",
            schema_evolution=True,
        )

    # a non-rebasable winner: the merge raises, and nothing evolved
    t._try_commit = race_with(lambda: t2.set_properties({"p": "1"}))
    with pytest.raises(ConcurrentWriteError):
        merge()
    head = t.head_version()
    assert [t._read_pointer(i)["op"] for i in range(head + 1)] == [
        "create", "set_properties"
    ]
    assert "tag" not in t.read().columns
    assert len(finds) == 1
    # a rebasable winner that added an evolved column: refused by name
    t._try_commit = race_with(
        lambda: t2.append(
            spark.createDataFrame([(7, "w", 7, "x")], "k long, v string, n int, tag string")
        )
    )
    with pytest.raises(ConcurrentWriteError, match="'tag'"):
        merge()
    assert t._read_pointer(t.head_version())["op"] == "append"
    # unraced: one commit, one key find
    t._try_commit = real_commit
    finds.clear()
    v = merge()
    assert t._read_pointer(v)["op"] == "merge" and v == t.head_version()
    assert len(finds) == 1
    assert t.read().schema["n"].dataType.simpleString() == "bigint"
    assert sorted((r["k"], r["v"], r["n"], r["tag"]) for r in t.read().collect()) == [
        (1, "a2", 1, None), (2, "b", 5, "t2"), (7, "w", 7, "x")
    ]
