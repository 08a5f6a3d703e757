"""MoR UPDATE and MERGE via deletion vectors (VERDICT r11 #3: update
and merge write a vector plus new-rows-only files instead of
COW-rewriting touched files, through the same
``VersionedTable._apply_row_changes`` path as delete), the COW≡MoR
equivalence of every row-level op on a change-feed table, plus the
keyed find-scan pruning (VERDICT r11 #6): a point-keyed MERGE on a
bloom/stats-indexed key opens O(files-holding-keys)."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    VersionedTable,
)


def _df(spark, rows, schema="k long, v string, n long"):
    return spark.createDataFrame(rows, schema)


def _files(t, v=None):
    return set(t._read_manifest(t.head_version() if v is None else v)["files"])


def _rows(t, v=None):
    return sorted(
        (r["k"], r["v"], r["n"]) for r in t.read(v).collect()
    )


def _base_rows(n=8):
    return [(i, "x", i * 10) for i in range(n)]


# ---------------------------------------------------------------- update


def test_mor_update_rewrites_zero_files(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows())
    )
    before = _files(t, 0)
    v = t.update("k IN (2, 5)", {"v": "'upd'", "n": "n + 1"}, mode="mor")
    assert v == 1
    # THE contract: every v0 file survives BY NAME; post-images are new
    assert before < _files(t, 1)
    assert t._read_pointer(1).get("delete_vectors")
    assert t._read_pointer(1)["op"] == "update"
    assert t._read_pointer(1)["mode"] == "mor"
    got = _rows(t)
    assert got == sorted(
        [(i, "x", i * 10) for i in range(8) if i not in (2, 5)]
        + [(2, "upd", 21), (5, "upd", 51)]
    )
    # time travel below the commit reads the originals
    assert _rows(t, 0) == sorted(_base_rows())
    # the feature gate records DV reliance
    assert "dv" in (t._read_pointer(1).get("features") or [])


def test_mor_update_segmented_carries_segments_by_name(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, _base_rows()).repartition(4),
    )
    segs0 = list(t._read_pointer(0)["segments"])
    t.update("k = 3", {"n": "0"}, mode="mor")
    segs1 = t._read_pointer(1)["segments"]
    # zero metadata rewrite: every parent segment name carried
    assert segs1[: len(segs0)] == segs0
    assert len(segs1) == len(segs0) + 1


def test_mor_update_no_match_is_noop(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(4))
    )
    assert t.update("k = 99", {"n": "0"}, mode="mor") == 0
    assert t.head_version() == 0


def test_mor_update_strict_cast_raises_in_plan(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(4))
    )
    with pytest.raises(Exception, match="does not fit type"):
        t.update("k = 1", {"n": "'not-a-number'"}, mode="mor")
    # the failed job must not have committed
    assert t.head_version() == 0


def test_mor_update_twice_sees_post_images(spark, tmp_path):
    """The second update's DV-applied scan reads the FIRST update's
    post-images (they live in new files), so increments compose."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(4))
    )
    t.update("k = 1", {"n": "n + 1"}, mode="mor")
    t.update("k = 1", {"n": "n + 1"}, mode="mor")
    assert (1, "x", 12) in _rows(t)
    assert len(t._read_pointer(2)["delete_vectors"]) == 2


def test_optimize_folds_update_vectors(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows())
    )
    t.update("k < 3", {"v": "'u'"}, mode="mor")
    before = _rows(t)
    v = t.optimize(target_files=2)
    assert not t._read_pointer(v).get("delete_vectors")
    assert _rows(t, v) == before


def test_mor_update_cdc_pre_and_post_images(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, _base_rows(4)),
        change_data_feed=True,
    )
    v = t.update("k = 2", {"n": "n * 2"}, mode="mor")
    feed = t.read_change_feed(0, v).collect()
    typed = {(r["_change_type"], r["k"], r["n"]) for r in feed}
    assert typed == {
        ("update_preimage", 2, 20),
        ("update_postimage", 2, 40),
    }


def test_mor_update_conflict_rules(spark, tmp_path):
    """A racing DISJOINT append commutes; a racing rewrite of a
    vectored file raises — the delete(mor) rules verbatim."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, _base_rows()).repartitionByRange(4, "k"),
        stats_cols=["k"],
    )
    t2 = VersionedTable(spark, t.path)

    # hold a stale head in t, let t2 append NON-matching rows
    real_commit = t._try_commit

    def racing_commit(m, v):
        if m.get("op") == "update" and not getattr(
            racing_commit, "raced", False
        ):
            racing_commit.raced = True
            t2.append(_df(spark, [(100, "z", 0)]))
        return real_commit(m, v)

    t._try_commit = racing_commit
    v = t.update("k = 1", {"n": "-1"}, mode="mor", prune=[("k", 1, 1)])
    t._try_commit = real_commit
    assert v == t.head_version()
    got = _rows(t)
    assert (1, "x", -1) in got and (100, "z", 0) in got

    # now race a rewrite of the file the vector names: must raise
    def racing_rewrite(m, v):
        if m.get("op") == "update" and not getattr(
            racing_rewrite, "raced", False
        ):
            racing_rewrite.raced = True
            t2.delete("k = 2")  # COW-rewrites the file holding k=2
        return real_commit(m, v)

    t._try_commit = racing_rewrite
    try:
        with pytest.raises(ConcurrentWriteError):
            t.update("k = 3", {"n": "-3"}, mode="mor", prune=[("k", 2, 3)])
    finally:
        t._try_commit = real_commit


def test_update_unknown_mode_raises(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(2))
    )
    with pytest.raises(ValueError, match="unknown mode"):
        t.update("k = 1", {"n": "0"}, mode="hybrid")


# ----------------------------------------------------------------- merge


def test_mor_merge_update_and_insert_zero_rewrites(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows())
    )
    before = _files(t, 0)
    src = _df(spark, [(1, "s", 111), (2, "s", 222), (100, "s", 1000)])
    v = t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v", "n": "s.n"},
        when_not_matched_insert="*",
        mode="mor",
    )
    assert v == 1
    # zero base files rewritten; vector + new files carry the change
    assert before < _files(t, 1)
    ptr = t._read_pointer(1)
    assert ptr["op"] == "merge" and ptr["mode"] == "mor"
    assert ptr.get("delete_vectors")
    assert "dv" in (ptr.get("features") or [])
    got = _rows(t)
    assert got == sorted(
        [(i, "x", i * 10) for i in range(8) if i not in (1, 2)]
        + [(1, "s", 111), (2, "s", 222), (100, "s", 1000)]
    )
    assert _rows(t, 0) == sorted(_base_rows())


def test_mor_merge_delete_only_writes_vector_no_files(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows())
    )
    before = _files(t, 0)
    src = spark.createDataFrame([(3,), (6,)], "k long")
    v = t.merge(src, on=["k"], when_matched_delete="true", mode="mor")
    assert v == 1
    assert _files(t, 1) == before  # not even new files
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 2, 4, 5, 7]


def test_mor_merge_matches_cow_result(spark, tmp_path):
    """The MoR plan is a physical strategy, not a semantic: the same
    clause set must produce the same table as the COW twin."""
    rows = _base_rows(12)
    src = _df(
        spark,
        [(2, "u", -2), (5, "u", -5), (40, "i", 400), (41, "i", 410)],
    )
    tc = VersionedTable.create(spark, str(tmp_path / "cow"), _df(spark, rows))
    tm = VersionedTable.create(spark, str(tmp_path / "mor"), _df(spark, rows))
    kwargs = dict(
        on=["k"],
        when_matched_update={"n": "s.n"},
        when_matched_delete="s.k = 5",
        when_not_matched_insert="*",
    )
    tc.merge(src, **kwargs)
    tm.merge(src, mode="mor", **kwargs)
    assert _rows(tc) == _rows(tm)


def test_mor_merge_by_source_matches_cow(spark, tmp_path):
    rows = _base_rows(6)
    src = _df(spark, [(0, "s", 0), (1, "s", 1), (2, "s", 2)])
    kwargs = dict(
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_by_source_delete="t.k >= 5",
        when_not_matched_by_source_update={"v": "'stale'"},
    )
    tc = VersionedTable.create(spark, str(tmp_path / "cow"), _df(spark, rows))
    tm = VersionedTable.create(spark, str(tmp_path / "mor"), _df(spark, rows))
    tc.merge(src, **kwargs)
    tm.merge(src, mode="mor", **kwargs)
    assert _rows(tc) == _rows(tm)
    # by-source MoR still rewrites zero data files
    assert _files(tm, 0) < _files(tm, 1) or _files(tm, 0) == set(
        f for f in _files(tm, 1) if f in _files(tm, 0)
    )
    assert _files(tm, 0) <= _files(tm, 1)


def test_mor_merge_cdc_classification(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, _base_rows(4)),
        change_data_feed=True,
    )
    src = _df(spark, [(1, "u", -1), (2, "u", -2), (50, "i", 500)])
    v = t.merge(
        src,
        on=["k"],
        when_matched_update={"n": "s.n"},
        when_matched_delete="s.k = 2",
        when_not_matched_insert="*",
        mode="mor",
    )
    feed = t.read_change_feed(0, v).collect()
    typed = sorted((r["_change_type"], r["k"], r["n"]) for r in feed)
    assert typed == [
        ("delete", 2, 20),
        ("insert", 50, 500),
        ("update_postimage", 1, -1),
        ("update_preimage", 1, 10),
    ]


def test_optimize_folds_merge_vectors(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows())
    )
    t.merge(
        _df(spark, [(1, "u", -1)]),
        on=["k"],
        when_matched_update={"n": "s.n"},
        mode="mor",
    )
    before = _rows(t)
    v = t.optimize(target_files=2)
    assert not t._read_pointer(v).get("delete_vectors")
    assert _rows(t, v) == before


def test_mor_merge_idempotent_txn_replay(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(4))
    )
    src = _df(spark, [(1, "u", -1)])
    t.merge(
        src, on=["k"], when_matched_update={"n": "s.n"},
        mode="mor", txn="b1",
    )
    assert "b1" in t.committed_txns()


def test_merge_unknown_mode_raises(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(2))
    )
    with pytest.raises(ValueError, match="unknown mode"):
        t.merge(
            _df(spark, [(1, "u", 0)]),
            on=["k"],
            when_matched_update={"n": "s.n"},
            mode="hybrid",
        )


# --------------------------------------------- keyed find-scan pruning


def _clustered_table(spark, path, n=400, files=8, bloom=False):
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(n)], "k long, v string, n long"
    ).repartitionByRange(files, "k").sortWithinPartitions("k")
    kw = dict(stats_cols=["k"])
    if bloom:
        kw.update(bloom_cols=["k"])
    return VersionedTable.create(spark, path, df, **kw)


def test_merge_scan_file_count_prunes_on_stats(spark, tmp_path):
    t = _clustered_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([(3,), (7,)], "k long")
    kept, total = t.merge_scan_file_count(src, ["k"])
    assert total == 8 and kept <= 2


def test_merge_scan_falls_back_without_metadata(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, _base_rows()).repartition(4),
    )
    src = spark.createDataFrame([(1,)], "k long")
    kept, total = t.merge_scan_file_count(src, ["k"])
    assert kept == total


def test_merge_scan_bloom_beats_range_stats(spark, tmp_path):
    """Needle keys on an UNCLUSTERED bloom-indexed column: range stats
    keep every file (each spans the domain), the bloom keeps only the
    files actually holding the keys."""
    import pyspark.sql.functions as F

    df = (
        spark.range(0, 2000)
        .select(
            (F.col("id") * 997 % 2000).alias("k"),
            F.lit("x").alias("v"),
            F.col("id").alias("n"),
        )
        .repartition(16)  # hash layout: k spans the domain per file
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, stats_cols=["k"], bloom_cols=["k"]
    )
    src = spark.createDataFrame([(17,), (1234,)], "k long")
    kept, total = t.merge_scan_file_count(src, ["k"])
    assert total == 16 and kept < total


def test_pruned_merge_still_correct(spark, tmp_path):
    """Pruning is physical only: a point-keyed MERGE over the pruned
    scan updates/inserts exactly what the unpruned one would."""
    t = _clustered_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(3, "u", -3), (9999, "i", 1)], "k long, v string, n long"
    )
    t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v", "n": "s.n"},
        when_not_matched_insert="*",
        mode="mor",
    )
    got = {r["k"]: (r["v"], r["n"]) for r in t.read().collect()}
    assert got[3] == ("u", -3)
    assert got[9999] == ("i", 1)
    assert len(got) == 401


def test_all_null_source_keys_prune_everything_but_insert(spark, tmp_path):
    """MERGE's plain equality: NULL keys match nothing, so the keyed
    scan keeps zero files and the NULL-keyed row falls through to the
    insert clause."""
    t = _clustered_table(spark, str(tmp_path / "t"), n=40, files=2)
    src = spark.createDataFrame(
        [(None, "ins", 0)], "k long, v string, n long"
    )
    kept, total = t.merge_scan_file_count(src, ["k"])
    assert kept == 0
    t.merge(
        src,
        on=["k"],
        when_matched_update={"n": "s.n"},
        when_not_matched_insert="*",
        mode="mor",
    )
    assert t.read().where("k IS NULL").count() == 1
    assert t.read().count() == 41


def test_mor_rows_per_file_conf_controls_file_count(
    spark, tmp_path, monkeypatch
):
    """VERDICT r12 #4: ``_MOR_ROWS_PER_FILE`` sizes the new-rows-only
    files — the file count of a MoR update's post-image write tracks
    the constant, not AQE's coalescing."""
    df = spark.range(0, 400).selectExpr("id as k", "id * 2 as v")
    t = VersionedTable.create(spark, str(tmp_path / "t"), df)
    monkeypatch.setattr(VersionedTable, "_MOR_ROWS_PER_FILE", 100)
    v = t.update("k < 400", {"v": "v + 1"}, mode="mor")
    ptr = t._read_pointer(v)
    base0 = t._read_pointer(0)
    new_files = set(t._resolve(ptr)["files"]) - set(
        t._resolve(base0)["files"]
    )
    # 400 changed rows / 100 rows-per-file = 4 new files
    assert len(new_files) == 4
    # and the content is right
    assert t.read().agg({"v": "sum"}).collect()[0][0] == sum(
        i * 2 + 1 for i in range(400)
    )


#: one row-level op per case, run once per mode; the source's k=3 row
#: meets a target row the table's existing vector already hides
_MODE_CASES = {
    "delete": lambda t, src, mode: t.delete("k >= 2 AND k < 6", mode=mode),
    "update": lambda t, src, mode: t.update(
        "k >= 2 AND k < 6", {"n": "n + 1", "v": "'u'"}, mode=mode
    ),
    "merge": lambda t, src, mode: t.merge(
        src,
        on=["k"],
        when_matched_delete="s.v = 'del'",
        when_matched_update={"n": "s.n"},
        when_not_matched_insert="*",
        mode=mode,
    ),
    "merge_by_source": lambda t, src, mode: t.merge(
        src,
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_by_source_delete="t.k < 2",
        when_not_matched_by_source_update={"n": "t.n * 2"},
        mode=mode,
    ),
}


@pytest.mark.parametrize("case", sorted(_MODE_CASES))
def test_cow_and_mor_agree_on_rows_and_change_feed(spark, tmp_path, case):
    """COW and MoR are two layouts of one change: on a change-feed
    table that already carries a deletion vector, both leave the same
    head rows and record the same change feed."""
    out = {}
    for mode in ("cow", "mor"):
        t = VersionedTable.create(
            spark,
            str(tmp_path / mode),
            _df(spark, _base_rows()).coalesce(2),
            change_data_feed=True,
        )
        t.delete("k = 3", mode="mor")
        src = _df(
            spark, [(2, "del", 0), (3, "s", 33), (4, "s", 44), (9, "s", 99)]
        )
        _MODE_CASES[case](t, src, mode)
        feed = t.read_change_feed(0).drop("_commit_version")
        out[mode] = (_rows(t), sorted(tuple(r) for r in feed.collect()))
    assert out["cow"] == out["mor"]
    assert out["cow"][1]  # the op changed rows


def test_cow_rewrite_of_every_vectored_file_drops_the_vector(spark, tmp_path):
    """A copy-on-write commit that removes every file a deletion vector
    names drops that vector: the head lists none, and its read plan
    anti-joins nothing."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, _base_rows(4)).coalesce(1)
    )
    t.delete("k = 1", mode="mor")
    assert t._read_pointer(1)["delete_vectors"]
    t.delete("k = 2")
    head = t._read_pointer(t.head_version())
    assert not head.get("delete_vectors")
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan
    assert sorted(r["k"] for r in t.read().collect()) == [0, 3]
