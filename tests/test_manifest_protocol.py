"""Reader/writer protocol gating (VERDICT r11 #2 — Delta table
features / Iceberg format-version): manifests RECORD the feature set
a reader must understand (``features``), first-use ops add their
flag, and every resolve path REFUSES unknown features by name instead
of silently misreading (a DV-ignorant reader would resurrect deleted
rows). Feature-less manifests — every pre-r12 table — keep reading as
base protocol."""

from __future__ import annotations

import json

import pytest

from social_media_etl_spark.operators.manifest import (
    SUPPORTED_FEATURES,
    UnsupportedTableFeatureError,
    VersionedTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _feats(t, v=None):
    return set(
        t._read_pointer(t.head_version() if v is None else v).get("features")
        or []
    )


def test_create_records_initial_features(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _df(spark, [(1, "a")]),
        stats_cols=["k"],
        change_data_feed=True,
        bloom_cols=["k"],
        constraints={"k_pos": "k > 0"},
    )
    assert _feats(t, 0) == {"segments", "cdf", "bloom", "constraints"}


def test_plain_create_records_base_features_only(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    assert _feats(t, 0) == {"segments"}


def test_first_use_ops_turn_their_flag_on(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.createDataFrame(
            [(i, "x") for i in range(6)], "k int, v string"
        ),
    )
    t.delete("k = 2", mode="mor")
    assert "dv" in _feats(t)
    t.rename_column("v", "w")
    assert {"dv", "column_mapping"} <= _feats(t)
    t.widen_column("k", "long")
    assert {"dv", "column_mapping", "widen"} <= _feats(t)


def test_features_survive_later_dml(spark, tmp_path):
    """Every commit carries the set (``_commit``'s carry list) — a
    rename's gate must not vanish under the next append, delete or
    optimize."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(4)])
    )
    t.rename_column("v", "w")
    t.append(
        spark.createDataFrame([(9, "y")], "k long, w string")
    )
    assert "column_mapping" in _feats(t)
    t.delete("k = 0")
    assert "column_mapping" in _feats(t)
    t.optimize(target_files=1)
    assert "column_mapping" in _feats(t)


def test_unknown_feature_refused_by_name(spark, tmp_path):
    """Forward-compat fixture: a manifest written by a FUTURE engine
    build records a feature this build lacks — reads and commits must
    refuse with the feature named, never misread."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    ptr = t._read_pointer(0)
    m = dict(ptr)
    m.update(
        {
            "version": 1,
            "parent": 0,
            "op": "future_op",
            "features": sorted(
                set(ptr.get("features") or []) | {"row_lineage_v9"}
            ),
        }
    )
    assert t._try_commit(m, 1)
    with pytest.raises(UnsupportedTableFeatureError, match="row_lineage_v9"):
        t.read()
    with pytest.raises(UnsupportedTableFeatureError, match="row_lineage_v9"):
        t.append(_df(spark, [(3, "c")]))
    with pytest.raises(UnsupportedTableFeatureError, match="row_lineage_v9"):
        t.delete("k = 1")
    # time travel BELOW the gated version still reads: v0's manifest
    # never recorded the future feature
    assert sorted(r["k"] for r in t.read(0).collect()) == [1, 2]


def test_featureless_legacy_manifest_still_reads(spark, tmp_path):
    """Pre-r12 tables have no ``features`` key at all — they are base
    protocol and must read/commit untouched (Delta's legacy-protocol
    rule)."""
    t = VersionedTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
    # strip the key from the committed manifest, simulating an old table
    p = tmp_path / "t" / "_manifests" / "v00000000.json"
    m = json.loads(p.read_text())
    m.pop("features", None)
    p.write_text(json.dumps(m))
    # Hadoop's LocalFileSystem checksums every file it wrote; the
    # out-of-band rewrite above invalidates the sidecar — drop it
    # (a real legacy table simply never had the key)
    crc = p.parent / f".{p.name}.crc"
    if crc.exists():
        crc.unlink()
    assert t.read().count() == 1
    v = t.append(_df(spark, [(2, "b")]))
    assert t.read(v).count() == 2


def test_clone_and_restore_carry_features(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(i, "x") for i in range(6)])
    )
    t.delete("k = 1", mode="mor")
    c = t.clone(str(tmp_path / "c"))
    assert "dv" in _feats(c, 0)
    t.append(_df(spark, [(9, "y")]))
    t.restore(1)
    assert "dv" in _feats(t)


def test_supported_set_is_the_documented_ten(spark):
    # r15 added `identity` (GENERATED ALWAYS AS IDENTITY high-water
    # mark in the manifest) — readers that ignored it would allow
    # explicit writes into the identity column, so it gates.
    assert SUPPORTED_FEATURES == {
        "segments",
        "dv",
        "cdf",
        "bloom",
        "column_mapping",
        "widen",
        "bucket",
        "constraints",
        "generated",
        "identity",
    }


def test_read_plan_memo_does_not_bypass_feature_gate(spark, tmp_path):
    from social_media_etl_spark.operators import table_log as m

    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        spark.range(6).selectExpr("id", "id * 2 AS v"),
        generated={"g": "v + 1"},
    )
    t.read()  # populate the memo
    old = m.SUPPORTED_FEATURES
    m.SUPPORTED_FEATURES = frozenset(old - {"generated"})
    try:
        with pytest.raises(UnsupportedTableFeatureError, match="generated"):
            t.read()
    finally:
        m.SUPPORTED_FEATURES = old
