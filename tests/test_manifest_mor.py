"""Merge-on-read DELETE via deletion vectors (VERDICT r8 #5 — the
Delta deletion-vector pattern): a ``delete(mode='mor')`` commits a
parquet (file, row-position) vector instead of rewriting files; reads
anti-join it out; OPTIMIZE and full rewrites compact vectors away."""

from __future__ import annotations

import pytest

from social_media_etl_spark.operators.manifest import VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _files(t, v=None):
    return set(t._read_manifest(t.head_version() if v is None else v)["files"])


def test_mor_delete_rewrites_zero_files(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(8)])
    )
    before = _files(t, 0)
    v = t.delete("k IN (2, 5)", mode="mor")
    assert v == 1
    # THE contract: zero data files rewritten at commit
    assert _files(t, 1) == before
    assert t._read_pointer(1).get("delete_vectors")
    # the read equals the anti-filter
    assert sorted(r["k"] for r in t.read().collect()) == [0, 1, 3, 4, 6, 7]
    # time travel still sees the pre-delete rows
    assert sorted(r["k"] for r in t.read(0).collect()) == list(range(8))


def test_mor_deletes_accumulate(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(6)])
    )
    t.delete("k = 0", mode="mor")
    t.delete("k = 5", mode="mor")
    assert len(t._read_pointer(2)["delete_vectors"]) == 2
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 4]
    # intermediate version applies only the first vector
    assert sorted(r["k"] for r in t.read(1).collect()) == [1, 2, 3, 4, 5]


def test_mor_redelete_same_slice_is_noop(spark, tmp_path):
    """The find-scan is DV-applied: already-deleted rows never match
    again, so a replayed delete returns the current version."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    v = t.delete("k = 1", mode="mor")
    assert t.delete("k = 1", mode="mor") == v
    assert t.head_version() == v


def test_optimize_compacts_vectors_away(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(8)])
    )
    t.delete("k >= 6", mode="mor")
    v = t.optimize(target_files=1)
    ptr = t._read_pointer(v)
    assert not ptr.get("delete_vectors")
    assert sorted(r["k"] for r in t.read().collect()) == list(range(6))
    # deleted rows are physically gone from the compacted layout
    raw = spark.read.parquet(*t._read_manifest(v)["files"])
    assert sorted(r["k"] for r in raw.collect()) == list(range(6))


def test_append_after_mor_keeps_vectors_applied(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.delete("k = 1", mode="mor")
    t.append(_df(spark, [(3, "c")]))
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    assert t._read_pointer(t.head_version()).get("delete_vectors")


@pytest.mark.slow
def test_cow_delete_after_mor_does_not_resurrect(spark, tmp_path):
    """A COW rewrite of a file with live vectors reads DV-applied, so
    the rewritten file drops BOTH delete sets."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(6)]).coalesce(1)
    )
    t.delete("k = 1", mode="mor")
    t.delete("k = 4")  # COW rewrite of the single file
    assert sorted(r["k"] for r in t.read().collect()) == [0, 2, 3, 5]


@pytest.mark.slow
def test_update_after_mor_does_not_resurrect(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(4)]).coalesce(1)
    )
    t.delete("k = 2", mode="mor")
    t.update("k = 3", {"v": "'updated'"})
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(0, "x"), (1, "x"), (3, "updated")]


def test_mor_prune_hint_narrows_and_verify_catches_lies(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    clustered = df.repartitionByRange(4, "k").sortWithinPartitions("k")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), clustered, stats_cols=["k"]
    )
    with pytest.raises(ValueError, match="prune hint does not cover"):
        t.delete(
            "k = 5 OR k = 90",
            prune=[("k", 0, 10)],
            verify_prune=True,
            mode="mor",
        )
    v = t.delete("k BETWEEN 10 AND 19", prune=[("k", 10, 19)], mode="mor")
    assert v == 1
    assert _files(t, 1) == _files(t, 0)  # still zero rewrites
    assert t.read().count() == 90


def test_full_rewrites_clear_vectors(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.delete("k = 1", mode="mor")
    t.overwrite(_df(spark, [(7, "z")]))
    assert not t._read_pointer(t.head_version()).get("delete_vectors")
    assert [r["k"] for r in t.read().collect()] == [7]


def test_read_changes_refuses_ranges_crossing_mor_delete(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.delete("k = 1", mode="mor")
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)
    # pre-delete append-only spans still resolve
    assert [r["k"] for r in t.read_changes(0, 1).collect()] == [2]


def test_vacuum_keeps_live_vectors_sweeps_dead_ones(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(4)])
    )
    t.delete("k = 0", mode="mor")
    t.optimize(target_files=1)  # head no longer references the vector
    t.append(_df(spark, [(9, "y")]))
    removed = t.vacuum(keep_last=2, min_age_seconds=0.0)
    assert removed >= 1
    dv_root = tmp_path / "t" / "dv"
    assert not dv_root.exists() or not any(dv_root.iterdir())
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 9]


def test_mor_delete_unknown_mode_raises(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="unknown mode"):
        t.delete("k = 1", mode="bogus")


def test_mor_on_evolved_mixed_table(spark, tmp_path):
    """DV application composes with mergeSchema reads: pre-evolution
    files NULL-fill added columns AND drop their DV'd rows."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")]))
    t.append(
        spark.createDataFrame([(3, "c", 30)], "k long, v string, extra long")
    )
    t.delete("k = 2", mode="mor")
    got = sorted(
        (r["k"], r["v"], r["extra"]) for r in t.read().collect()
    )
    assert got == [(1, "a", None), (3, "c", 30)]


# -- change data feed (r10) --------------------------------------------------


def test_change_feed_emits_typed_inserts_and_deletes(spark, tmp_path):
    """read_change_feed: appends emit insert rows, a MoR delete emits
    the rows its vector hid as delete rows — full content, tagged with
    the commit version — so a consumer can maintain a replica across
    row-removing commits read_changes must refuse."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    )
    t.append(_df(spark, [(4, "d"), (5, "e")]))  # v1
    t.delete("k IN (2, 4)", mode="mor")  # v2
    t.append(_df(spark, [(6, "f")]))  # v3
    feed = t.read_change_feed(0)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in feed.collect()
    )
    assert got == [
        (1, "insert", 4, "d"),
        (1, "insert", 5, "e"),
        (2, "delete", 2, "b"),
        (2, "delete", 4, "d"),
        (3, "insert", 6, "f"),
    ]
    # a consumer replaying the feed over the v0 snapshot reproduces
    # the head
    state = {r["k"]: r["v"] for r in t.read(0).collect()}
    for _, kind, k, v in got:
        if kind == "insert":
            state[k] = v
        else:
            state.pop(k)
    assert state == {r["k"]: r["v"] for r in t.read().collect()}
    # sub-ranges slice cleanly
    assert sorted(
        (r["_change_type"], r["k"])
        for r in t.read_change_feed(1, 2).collect()
    ) == [("delete", 2), ("delete", 4)]
    # from_version=-1 includes the create as inserts
    assert t.read_change_feed(-1, 0).count() == 3
    # empty range → typed empty frame
    empty = t.read_change_feed(3)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_change_feed_refuses_unrecoverable_rewrites(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.delete("k = 1")  # COW — row diff not recoverable from metadata
    with pytest.raises(ValueError, match="only recoverable"):
        t.read_change_feed(0)
    # but a range that stops before the rewrite still reads
    assert t.read_change_feed(0, 0).count() == 0


def test_change_feed_double_delete_never_duplicates(spark, tmp_path):
    """Two MoR deletes with overlapping predicates: a position deletes
    once (the find-scan is DV-applied), so the feed emits each row's
    delete exactly once, at the commit that actually hid it."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b"), (3, "c")])
    )
    t.delete("k <= 2", mode="mor")  # v1 hides 1, 2
    t.delete("k >= 2", mode="mor")  # v2 hides 3 only (2 already gone)
    got = sorted(
        (r["_commit_version"], r["k"])
        for r in t.read_change_feed(0).collect()
    )
    assert got == [(1, 1), (1, 2), (2, 3)]


def test_change_feed_covers_cow_commits_on_cdf_tables(spark, tmp_path):
    """create(change_data_feed=True): COW DELETE/UPDATE record their
    row-level changes as CDC files at commit time (the Delta
    enableChangeDataFeed contract), so read_change_feed covers them —
    deletes with full content, updates as pre/postimage pairs."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        change_data_feed=True,
    )
    t.delete("k = 2")  # v1: COW — CDC-recorded
    t.update("k = 3", {"v": "upper(v)"})  # v2: CDC pre/post
    t.append(_df(spark, [(4, "d")]))  # v3: plain file-diff insert
    feed = t.read_change_feed(0)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in feed.collect()
    )
    assert got == [
        (1, "delete", 2, "b"),
        (2, "update_postimage", 3, "C"),
        (2, "update_preimage", 3, "c"),
        (3, "insert", 4, "d"),
    ]
    # replica replay: postimage upserts, preimage is informational
    state = {r["k"]: r["v"] for r in t.read(0).collect()}
    for _, kind, k, v in got:
        if kind in ("insert", "update_postimage"):
            state[k] = v
        elif kind == "delete":
            state.pop(k)
    assert state == {r["k"]: r["v"] for r in t.read().collect()}
    # a NON-cdf table's COW delete still refuses
    t2 = VersionedTable.create(
        spark, str(tmp_path / "t2"), _df(spark, [(1, "a")])
    )
    t2.delete("k = 1")
    with pytest.raises(ValueError, match="only recoverable"):
        t2.read_change_feed(0)


def test_vacuum_sweeps_dead_cdc_dirs(spark, tmp_path):
    import os

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]),
        change_data_feed=True,
    )
    t.delete("k = 1")  # v1 cdc
    t.delete("k = 2")  # v2 cdc
    t.delete("k = 3")  # v3 cdc
    croot = str(tmp_path / "t" / "cdc")
    assert len(os.listdir(croot)) == 3
    # retained manifests (v2, v3) keep their CDC dirs; v1's sweeps
    assert t.vacuum(keep_last=2, min_age_seconds=0) >= 1
    live = {
        t._read_pointer(v)["cdc"].rsplit("/", 1)[-1] for v in (2, 3)
    }
    assert set(os.listdir(croot)) == live
    # the retained range still reads its feed
    assert t.read_change_feed(1).count() == 2


def test_cdf_cow_dml_on_fully_dv_hidden_matches_records_no_cdc(
    spark, tmp_path
):
    """The COW find step is DV-applied: a delete/update whose every
    predicate match a vector already hides finds no file, so it
    commits no version and records no CDC, and the feed still holds
    only the MoR delete's typed row."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        change_data_feed=True,
    )
    t.delete("k = 2", mode="mor")  # v1: DV hides k=2
    v = t.delete("k = 2")  # COW — every match already hidden
    assert v == 1 and t.head_version() == 1
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in t.read_change_feed(0).collect()
    )
    assert got == [(1, "delete", 2)]
    assert {r["k"] for r in t.read().collect()} == {1, 3}
    # same guard through UPDATE (fresh table: a COW rewrite drops
    # vector-hidden rows physically, so the scenario needs its own DV)
    u = VersionedTable.create(
        spark,
        str(tmp_path / "u"),
        _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        change_data_feed=True,
    )
    u.delete("k = 3", mode="mor")  # v1: DV hides k=3
    v = u.update("k = 3", {"v": "'zz'"})  # every match hidden
    assert v == 1 and u.head_version() == 1
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in u.read_change_feed(0).collect()
    )
    assert got == [(1, "delete", 3)]
    assert {(r["k"], r["v"]) for r in u.read().collect()} == {
        (1, "a"),
        (2, "b"),
    }


@pytest.mark.parametrize("op", ["update", "delete", "merge", "overwrite_where"])
def test_cow_dml_on_dv_hidden_row_commits_nothing(spark, tmp_path, op):
    """Every copy-on-write op finds its files from DV-applied rows: one
    whose only match a deletion vector hides rewrites no file and
    commits no version (no empty commits)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(i, "x") for i in range(8)]).coalesce(2),
    )
    t.delete("k = 1", mode="mor")  # v1: DV hides k=1
    before = sorted((r["k"], r["v"]) for r in t.read().collect())
    if op == "update":
        v = t.update("k = 1", {"v": "'y'"})
    elif op == "delete":
        v = t.delete("k = 1")
    elif op == "merge":
        v = t.merge(
            _df(spark, [(1, "m")]), on=["k"], when_matched_update={"v": "s.v"}
        )
    else:
        v = t.overwrite_where(_df(spark, []), "k = 1")
    assert v == 1 and t.head_version() == 1
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == before


def test_change_feed_skips_rename_and_optimize_commits(spark, tmp_path):
    """rename is metadata-only and optimize is a content-identical
    rewrite — neither changes a logical row, so the feed (batch) and
    read_changes skip them instead of permanently breaking every
    range that crosses one (ADVICE r10; Delta CDF skips both)."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.append(_df(spark, [(3, "c")]))  # v1
    t.rename_column("v", "tag")  # v2: metadata-only
    t.append(_df(spark, [(4, "d")]).withColumnRenamed("v", "tag"))  # v3
    t.optimize()  # v4: compaction, zero logical changes
    t.append(_df(spark, [(5, "e")]).withColumnRenamed("v", "tag"))  # v5
    feed = t.read_change_feed(0)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in feed.collect()
    )
    assert got == [(1, "insert", 3), (3, "insert", 4), (5, "insert", 5)]
    # read_changes tolerates the rename (zero files moved) but still
    # refuses across the optimize (file diff would double-count)
    assert {r["k"] for r in t.read_changes(0, 3).collect()} == {3, 4}
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0, 5)


def test_cdf_upsert_records_classified_cdc(spark, tmp_path):
    """VERDICT r10 #8: an upsert on a CDF table records its row-level
    changes at commit time — new keys as insert, replaced keys as
    pre/postimage pairs, losing (stale) and tied source rows as
    NOTHING — and both the batch feed and the streaming source read
    across the commit."""

    def _edf(rows):
        return spark.createDataFrame(rows, "k long, v string, ts long")

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _edf([(1, "a", 10), (2, "b", 10), (3, "c", 10)]),
        change_data_feed=True,
    )
    t.upsert(
        _edf(
            [
                (2, "B", 20),  # newer: replaces
                (3, "zzz", 5),  # stale: loses, no change
                (4, "d", 20),  # new key: insert
            ]
        ),
        ["k"],
        ["ts"],
    )
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in t.read_change_feed(0).collect()
    )
    assert got == [
        (1, "insert", 4, "d"),
        (1, "update_postimage", 2, "B"),
        (1, "update_preimage", 2, "b"),
    ]
    # replica replay reproduces the head
    state = {r["k"]: r["v"] for r in t.read(0).collect()}
    for _, kind, k, v in got:
        if kind in ("insert", "update_postimage"):
            state[k] = v
    assert state == {r["k"]: r["v"] for r in t.read().collect()}
    # an upsert whose every source row loses records NO cdc and the
    # feed treats the commit as change-free
    v = t.upsert(_edf([(1, "stale", 1)]), ["k"], ["ts"])
    assert v == 2
    assert not t._read_pointer(2).get("cdc")
    assert t.read_change_feed(1).count() == 0
    # the full range still resolves across both upserts
    assert t.read_change_feed(0).count() == 3


@pytest.mark.slow
def test_cdf_upsert_streams_through_versioned_cdc(spark, tmp_path):
    """The streaming twin: readChangeFeed drains typed rows across an
    upsert commit — the serving-table pattern a CDF consumer sits
    behind (VERDICT r10 #8, streaming half)."""
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)

    def _edf(rows):
        return spark.createDataFrame(rows, "k long, v string, ts long")

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _edf([(1, "a", 10), (2, "b", 10)]),
        change_data_feed=True,
    )
    t.upsert(_edf([(2, "B", 20), (3, "c", 20)]), ["k"], ["ts"])  # v1
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (1, "insert", 3, "c"),
        (1, "update_postimage", 2, "B"),
        (1, "update_preimage", 2, "b"),
    ]


def test_cdf_overwrite_records_full_delete_insert_images(spark, tmp_path):
    """A truncate-and-load on a CDF table records the old snapshot as
    delete rows and the replacement as insert rows (Delta's
    CDF-on-overwrite), so a feed consumer survives a full refresh —
    including a replace_schema swap, where the images NULL-fill
    across the schema change (r11)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a"), (2, "b")]),
        change_data_feed=True,
    )
    t.overwrite(_df(spark, [(2, "B"), (3, "c")]))  # v1
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in t.read_change_feed(0).collect()
    )
    assert got == [
        (1, "delete", 1, "a"),
        (1, "delete", 2, "b"),
        (1, "insert", 2, "B"),
        (1, "insert", 3, "c"),
    ]
    # replica replay reproduces the head
    state = {(r["k"], r["v"]) for r in t.read(0).collect()}
    for _, kind, k, v in got:
        state.discard((k, v)) if kind == "delete" else state.add((k, v))
    assert state == {(r["k"], r["v"]) for r in t.read().collect()}
    # replace_schema: images span both schemas, NULL-filled by name
    new = spark.createDataFrame([(7, 70.0)], "k long, score double")
    t.overwrite(new, replace_schema=True)  # v2
    rows = {
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in t.read_change_feed(1).collect()
    }
    assert rows == {
        (2, "delete", 2),
        (2, "delete", 3),
        (2, "insert", 7),
    }


def test_scoped_optimize_compacts_only_matching_files(spark, tmp_path):
    """OPTIMIZE ... WHERE (r11): range conjuncts scope the compaction
    to overlapping files — cold files carry over byte-identical, rows
    are unchanged, vectors on untouched files survive while vectors on
    scoped files fold in physically. The 100 TB maintenance form:
    yesterday's partition compacts in O(partition)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stats_cols=["k"],
    )
    t.delete("k = 5", mode="mor")  # vector in the scoped region
    t.delete("k = 90", mode="mor")  # vector in the cold region
    before = t._read_manifest(t.head_version())["files"]
    cold_before = [f for f in before]  # full list; diff after
    v = t.optimize(target_files=2, where=[("k", 0, 24)])
    m = t._read_manifest(v)
    # cold files carried byte-identical; scoped ones replaced
    carried = set(before) & set(m["files"])
    assert carried and carried < set(before)
    new_files = sorted(set(m["files"]) - set(cold_before))
    assert 0 < len(new_files) <= 2
    # rows unchanged: both deletes still applied (one folded, one DV'd)
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(100) if k not in (5, 90)
    ]
    # the scoped file physically dropped its folded row...
    raw_new = spark.read.parquet(*new_files)
    ks_new = {r["k"] for r in raw_new.collect()}
    assert 5 not in ks_new and ks_new <= set(range(25))
    # ...while the cold region still needs (and carries) its vector
    assert m.get("delete_vectors")
    # stats pruning still works across both generations
    kept, total = t.pruned_file_count("k", 0, 10)
    assert kept < total
    # zero-match scope: no empty commit
    assert t.optimize(where=[("k", 5000, 6000)]) == v
    # time travel to the fragmented layout still works
    assert sorted(r["k"] for r in t.read(2).collect()) == [
        k for k in range(100) if k not in (5, 90)
    ]


def test_scoped_optimize_zorder_one_region(spark, tmp_path):
    """Z-ORDER a single hot region in place: scoped files re-lay
    bit-interleaved, cold files keep their layout, pruning holds on
    both generations."""
    from pyspark.sql import functions as F

    df = spark.range(0, 200).select(
        (F.col("id") % 50).alias("a"),
        (F.col("id") * 7 % 50).alias("b"),
        F.col("id").alias("k"),
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        stats_cols=["k", "a", "b"],
    )
    before = set(t._read_manifest(0)["files"])
    v = t.optimize(target_files=2, zorder_by=["a", "b"], where=[("k", 0, 99)])
    m = t._read_manifest(v)
    assert set(m["files"]) & before  # cold files carried
    assert t.read().count() == 200
    got = sorted((r["a"], r["b"], r["k"]) for r in t.read().collect())
    want = sorted((r["a"], r["b"], r["k"]) for r in df.collect())
    assert got == want
