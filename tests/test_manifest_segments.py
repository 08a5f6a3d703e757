"""Segmented manifests (VERDICT r8 #3 — the Iceberg manifest-list
pattern): commits write O(changed files) of metadata, readers resolve
pointer + segments to the table's snapshot. These tests pin the
METADATA COST contract, not just the read-back content
(test_manifest.py covers that)."""

from __future__ import annotations

import json

import pytest

from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    UnsupportedTableFeatureError,
    VersionedTable,
)
from social_media_etl_spark.operators.table_log import TableLog


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _pointer(t, v):
    return t._read_pointer(v)


def test_create_writes_pointer_plus_one_segment(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    ptr = _pointer(t, 0)
    assert "segments" in ptr and len(ptr["segments"]) == 1
    # the pointer itself carries NO file list — that is the whole point
    assert "files" not in ptr and "stats" not in ptr and "parts" not in ptr
    assert ptr["n_files"] == len(t._read_manifest(0)["files"])
    assert [r["k"] for r in t.read().collect()] == [1]


def test_append_metadata_is_o_of_appended_files(spark, tmp_path):
    """The long-append-chain contract: every append adds exactly ONE
    segment whose file list is exactly that append's files, reuses the
    parent's segment names verbatim, and the pointer never inlines the
    table's file list — a commit to an N-file table moves O(appended)
    metadata, not O(N)."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    for i in range(3):
        before = _pointer(t, t.head_version())
        v = t.append(_df(spark, [(10 + i, "x")]))
        after = _pointer(t, v)
        assert after["segments"][:-1] == before["segments"]  # reuse by NAME
        new_seg = t._log.read_segment(after["segments"][-1])
        appended = set(t._read_manifest(v)["files"]) - set(
            t._read_manifest(v - 1)["files"]
        )
        assert set(new_seg["files"]) == appended  # O(appended files)
        assert "files" not in after
        assert after["n_files"] == len(t._read_manifest(v)["files"])
    # pointer size is O(segments), not O(files): 4 commits → 4 segments
    assert len(_pointer(t, t.head_version())["segments"]) == 4


def test_delete_rewrites_only_affected_segments(spark, tmp_path):
    """DML at the metadata layer is copy-on-write too: segments that
    lost no files carry forward BY NAME; only the touched segment is
    re-written (filtered), plus one segment for the rewritten rows."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.append(_df(spark, [(100, "z"), (101, "z")]))
    ptr1 = _pointer(t, 1)
    v = t.delete("k = 100")
    ptr2 = _pointer(t, v)
    # the v0 segment (untouched) survives by name
    assert ptr1["segments"][0] in ptr2["segments"]
    # the touched segment's name is GONE (rewritten under a new name)
    assert ptr1["segments"][1] not in ptr2["segments"]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 101]
    # time travel still resolves the old segment set
    assert sorted(r["k"] for r in t.read(1).collect()) == [1, 2, 100, 101]


def test_optimize_consolidates_to_one_segment(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    v = t.optimize(target_files=1)
    ptr = _pointer(t, v)
    assert len(ptr["segments"]) == 1
    assert ptr["n_files"] == 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]


def test_vacuum_sweeps_orphan_segments_only(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    # simulate a lost CAS race: a segment no pointer references
    orphan = t._write_segment(["/nowhere/part-0.parquet"], {}, {})
    removed = t.vacuum(keep_last=1, min_age_seconds=0.0)
    assert removed >= 1
    mdir = tmp_path / "t" / "_manifests"
    names = {p.name for p in mdir.iterdir()}
    assert orphan not in names
    # every referenced segment survives — old versions stay resolvable
    for v in t.versions():
        for s in _pointer(t, v).get("segments") or []:
            assert s in names
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_read_changes_diffs_at_segment_level(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert sorted(r["k"] for r in t.read_changes(0, 2).collect()) == [2, 3]
    assert sorted(r["k"] for r in t.read_changes(1).collect()) == [3]
    assert t.read_changes(2, 2).count() == 0


def test_inline_manifest_refused_by_name(spark, tmp_path):
    """A manifest without a segment list (the retired inline layout,
    file list inside the manifest), or a v0 pointer without
    ``schema_json`` (from before create recorded it), is outside input
    on disk: reads, commits and history refuse it by name instead of
    failing on a missing key."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    files = t._read_manifest(0)["files"]
    inline = {
        "version": 0,
        "parent": None,
        "op": "create",
        "schema": "struct<k:bigint,v:string>",
        "schema_json": _df(spark, []).schema.json(),
        "txns": [],
        "files": files,
        "stats": {},
        "parts": {},
    }
    legacy = {
        k: v for k, v in t._read_pointer(0).items() if k != "schema_json"
    }
    for name, v0, match in (
        ("inline", inline, "inline"),
        ("legacy", legacy, "schema_json"),
    ):
        bad = VersionedTable(spark, str(tmp_path / name))
        assert bad._try_commit(v0, 0)
        for op in (
            lambda: bad.read(),
            lambda: bad.append(_df(spark, [(2, "b")])),
            lambda: bad.history(),
        ):
            with pytest.raises(UnsupportedTableFeatureError, match=match):
                op()
        assert bad.versions() == [0]


def test_segment_cache_serves_repeat_resolution(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    name = _pointer(t, 0)["segments"][0]
    t._read_manifest(0)
    assert (t.path, name) in TableLog._SEG_CACHE
    # cached → a second resolve never re-opens the file (poison the
    # on-disk copy and resolve again)
    (tmp_path / "t" / "_manifests" / name).write_text("NOT JSON")
    assert t._read_manifest(0)["files"]


def test_append_raced_by_partition_spec_change_raises(spark, tmp_path):
    """ADVICE r8: an append whose files were laid out under the OLD
    partition spec must not rebase onto a winner that changed the
    spec — the manifest's partition_by would disagree with the file
    layout."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a")]),
        partition_by="v",
    )
    victim = VersionedTable(spark, str(tmp_path / "t"))
    orig = VersionedTable._try_commit

    def steal_then_fail(self, m, v):
        # the racing writer replaces the schema WITHOUT the partition
        # column, dropping the spec, before the victim's CAS lands
        VersionedTable._try_commit = orig
        t.overwrite(
            spark.createDataFrame([(9,)], "k long"), replace_schema=True
        )
        return False

    VersionedTable._try_commit = steal_then_fail
    try:
        with pytest.raises(ConcurrentWriteError, match="partition/bucket spec"):
            victim.append(_df(spark, [(2, "b")]))
    finally:
        VersionedTable._try_commit = orig


def test_update_strict_cast_raises_instead_of_nulling(spark, tmp_path):
    """ADVICE r8: a mistyped assignment (string expr into a long
    column) raises in-plan instead of silently writing NULLs into
    rewritten rows — same contract as cast_columns(strict=True)."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException, Exception)) as ei:
        t.update("k = 1", {"k": "'not-a-number'"})
    assert "does not fit type" in str(ei.value)
    # nothing committed, nothing corrupted
    assert t.head_version() == 0
    assert [r["k"] for r in t.read().collect()] == [1]


def test_update_valid_assignment_still_commits(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    v = t.update("k = 1", {"v": "upper(v)"})
    assert v == 1
    assert [r["v"] for r in t.read().collect()] == ["A"]


def test_verify_prune_catches_lying_hint(spark, tmp_path):
    """ADVICE r8: prune bounds the predicate does not imply silently
    hide matching rows (documented caller-owns-implication contract);
    verify_prune=True buys the proof back by scanning the pruned-out
    files and raising on the first stray match."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("x").alias("v")
    )
    clustered = df.repartitionByRange(4, "k").sortWithinPartitions("k")
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), clustered, stats_cols=["k"]
    )
    # hint claims the predicate only touches k in [0, 10] — a lie,
    # the predicate also matches k = 90
    with pytest.raises(ValueError, match="prune hint does not cover"):
        t.delete("k = 5 OR k = 90", prune=[("k", 0, 10)], verify_prune=True)
    assert t.head_version() == 0  # refused before any commit
    # a truthful hint passes under verification and deletes exactly
    v = t.delete("k = 5 OR k = 90", prune=[("k", 5, 90)], verify_prune=True)
    assert v == 1
    kept = sorted(r["k"] for r in t.read().collect())
    assert 5 not in kept and 90 not in kept and len(kept) == 98


def test_segment_files_are_valid_json_with_expected_shape(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a")]), stats_cols=["k"]
    )
    name = _pointer(t, 0)["segments"][0]
    seg = json.loads((tmp_path / "t" / "_manifests" / name).read_text())
    assert set(seg) == {"files", "stats", "parts"}
    assert seg["files"] and set(seg["stats"]) <= set(seg["files"])


def test_optimize_zorder_by_tightens_stats_on_every_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER BY (Delta's multi-column clustering on the
    versioned layer): after compaction the manifest's per-file stats
    prune narrow ranges on EITHER clustered column — a single-column
    range layout can only do one."""
    from pyspark.sql import functions as F

    n = 1024
    grid = spark.range(n).select(
        (F.col("id") % 32).alias("x"),
        (F.col("id") / 32).cast("long").alias("y"),
        F.lit("p").alias("v"),
    )
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        grid.repartition(8),
        stats_cols=["x", "y"],
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.optimize(recluster_by="x", zorder_by=["x", "y"])
    v = t.optimize(target_files=16, zorder_by=["x", "y"])
    kept_x, total = t.pruned_file_count("x", 3, 4, version=v)
    kept_y, _ = t.pruned_file_count("y", 3, 4, version=v)
    assert total == 16
    assert kept_x < total and kept_y < total  # BOTH dims skip files
    # content identical
    assert t.read(v).count() == n
    assert t.read(v).agg(F.sum("x"), F.sum("y")).collect() == grid.agg(
        F.sum("x"), F.sum("y")
    ).collect()


@pytest.mark.slow
def test_large_commit_chunks_segments_and_reads_identically(
    spark, tmp_path, monkeypatch
):
    """VERDICT r9 #7: a commit writing more files than _SEG_FILES_MAX
    splits its metadata into multiple segments — driver memory per
    chunk, never per commit — and readers union them exactly as one
    segment. Pruning and appends compose across the chunk boundary."""
    monkeypatch.setattr(VersionedTable, "_SEG_FILES_MAX", 3)
    df = (
        spark.range(80)
        .selectExpr("id AS k", "CAST(id AS double) AS v")
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, stats_cols=["k"]
    )
    ptr = _pointer(t, 0)
    n_files = t._read_manifest(0)["files"]
    assert len(ptr["segments"]) == -(-len(n_files) // 3)  # ceil
    assert ptr["n_files"] == len(n_files)
    assert sorted(r["k"] for r in t.read().collect()) == list(range(80))
    # stats pruning works across chunked segments
    kept, total = t.pruned_file_count("k", 0, 9)
    assert kept < total
    assert sorted(r["k"] for r in t.read_where("k", 0, 9).collect()) == list(
        range(10)
    )
    # an append appends its own (chunked) segments after the others
    t.append(
        spark.range(80, 120).selectExpr("id AS k", "CAST(id AS double) AS v")
    )
    assert t.read().count() == 120
