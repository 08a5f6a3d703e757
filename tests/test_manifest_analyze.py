"""ANALYZE — post-hoc pruning-index backfill (r12): record footer
stats / bloom bitmaps for columns that were not indexed at create,
across every current file, as a metadata-only commit; later commits
index their own files through the extended configs."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from social_media_etl_spark.operators.manifest import (
    ConcurrentWriteError,
    VersionedTable,
)


def _clustered(spark, n=400, files=8):
    return (
        spark.createDataFrame(
            [(i, i * 10, f"u{i % 50}") for i in range(n)],
            "k long, n long, u string",
        )
        .repartitionByRange(files, "k")
        .sortWithinPartitions("k")
    )


def test_analyze_backfills_range_stats(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _clustered(spark))
    # no stats at create: a point read keeps every file
    assert t.pruned_file_count("k", 3, 3) == (8, 8)
    v = t.analyze(stats_cols=["k"])
    assert v == 1
    assert t._read_manifest(v)["files"] == t._read_manifest(0)["files"]
    kept, total = t.pruned_file_count("k", 3, 3)
    assert total == 8 and kept == 1
    # the read through the pruned path returns exactly the row
    assert [r["k"] for r in t.read_where("k", 3, 3).collect()] == [3]


def test_analyze_backfills_bloom_on_unclustered_column(spark, tmp_path):
    df = spark.range(0, 2000).select(
        (F.col("id") * 997 % 2000).alias("k"), F.col("id").alias("n")
    ).repartition(16)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, stats_cols=["k"]
    )
    # hash layout: before the backfill the bloom term adds nothing
    # (range stats may skip the odd file whose min exceeds the needle)
    by_bloom0, by_range0, total0 = t.pruned_file_count_eq("k", 17)
    assert by_bloom0 == by_range0 and total0 == 16
    t.analyze(bloom_cols=["k"])
    by_bloom, by_range, total = t.pruned_file_count_eq("k", 17)
    assert by_range == by_range0 and total == 16
    assert by_bloom < by_range  # the backfilled bitmaps now skip
    assert sorted(r["n"] for r in t.read_where_eq("k", 17).collect()) == [
        r["n"]
        for r in df.where("k = 17").orderBy("n").collect()
    ]


def test_analyze_then_later_commits_index_their_own_files(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _clustered(spark))
    t.analyze(stats_cols=["k"])
    t.append(
        spark.createDataFrame(
            [(10_000 + i, 0, "u0") for i in range(10)],
            "k long, n long, u string",
        )
    )
    kept, total = t.pruned_file_count("k", 10_000, 10_005)
    assert kept < total  # the appended file has stats; old ones excluded
    assert t.read_where("k", 10_000, 10_005).count() == 6


def test_analyze_composes_with_add_column(spark, tmp_path):
    """The r12 composition: add a column, backfill it with data, then
    ANALYZE makes it skippable — no create-time anticipation needed."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _clustered(spark))
    t.add_column("score", "double")
    t.update("k < 50", {"score": "1.5"})
    v = t.analyze(stats_cols=["score"])
    kept, total = t.pruned_file_count_null("score", want_null=False)
    assert kept < total  # IS NOT NULL skips the never-scored files
    assert t.read_where_null("score", want_null=False).count() == 50
    assert v == t.head_version()


def test_analyze_noop_and_refusals(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _clustered(spark),
        stats_cols=["k"],
        bloom_cols=["k"],
        bloom_bits=4096,
        bloom_hashes=4,
    )
    assert t.analyze(stats_cols=["k"], bloom_cols=["k"]) == 0  # no-op
    with pytest.raises(ValueError, match="not in the table schema"):
        t.analyze(stats_cols=["zzz"])
    with pytest.raises(ValueError, match="hash geometry"):
        t.analyze(bloom_cols=["n"], bloom_bits=128)
    # defaults adopt the table's existing geometry
    v = t.analyze(bloom_cols=["u"])
    assert t._read_pointer(v)["bloom"] == {
        "cols": ["k", "u"], "bits": 4096, "k": 4,
    }


def test_analyze_skipped_by_change_feed_and_commutes(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _clustered(spark))
    t.analyze(stats_cols=["k"])
    v = t.append(
        spark.createDataFrame([(9999, 0, "u0")], "k long, n long, u string")
    )
    feed = t.read_change_feed(0, v).collect()
    assert [(r["_change_type"], r["k"]) for r in feed] == [("insert", 9999)]
    # a DML losing its CAS to an analyze winner rebases (analyze
    # changes no files and no rows)
    t2 = VersionedTable(spark, t.path)
    real_commit = t._try_commit

    def racing(m, v):
        if m.get("op") == "delete" and not getattr(racing, "raced", False):
            racing.raced = True
            t2.analyze(stats_cols=["n"])
        return real_commit(m, v)

    t._try_commit = racing
    try:
        out = t.delete("k = 3", prune=[("k", 3, 3)])
    finally:
        t._try_commit = real_commit
    assert out == t.head_version()
    assert t.read().where("k = 3").count() == 0
    # the analyze's stats survived the rebased delete
    assert "n" in t._read_pointer(t.head_version())["stats_cols"]


def test_read_changes_across_analyze_yields_only_appended_rows(
    spark, tmp_path
):
    """analyze writes new segments for unchanged files: read_changes
    over a range that crosses it returns only the appended rows, not
    the re-indexed files' rows."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _clustered(spark))
    t.analyze(stats_cols=["k"])
    v = t.append(
        spark.createDataFrame([(9999, 0, "u0")], "k long, n long, u string")
    )
    assert [r["k"] for r in t.read_changes(0, v).collect()] == [9999]
    assert t.read_changes(0, 1).count() == 0
