"""SQL time-travel surface (operators/timetravel.py — VERDICT r8 #8):
VERSION AS OF / TIMESTAMP AS OF resolved against registered
VersionedTables, everything else through the full Catalyst path."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from social_media_etl_spark.operators import timetravel as tt
from social_media_etl_spark.operators.manifest import VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _df(spark, [(1, "a"), (2, "b")])
    )
    t.append(_df(spark, [(3, "c")]))
    tt.register_table(spark, "tt_events", t.path)
    return t


def test_bare_name_reads_current_head(spark, table):
    got = tt.sql(spark, "SELECT count(*) AS n FROM tt_events").collect()
    assert got[0]["n"] == 3


def test_version_as_of_pins_snapshot(spark, table):
    got = tt.sql(
        spark,
        "SELECT k FROM tt_events VERSION AS OF 0 ORDER BY k",
    ).collect()
    assert [r["k"] for r in got] == [1, 2]


def test_timestamp_as_of_resolves_commit_time(spark, table):
    ts0 = (
        table.history().filter("version = 0").collect()[0]["commit_ts_ms"]
    )
    lit = datetime.fromtimestamp((ts0 + 1) / 1000.0, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    got = tt.sql(
        spark,
        f"SELECT count(*) AS n FROM tt_events TIMESTAMP AS OF '{lit}'",
    ).collect()
    assert got[0]["n"] == 2


def test_pinned_and_head_join_in_one_query(spark, table):
    """The whole point of the SQL surface: snapshots compose with
    ordinary SQL — here a head-vs-v0 anti join finds the new rows."""
    got = tt.sql(
        spark,
        """
        SELECT h.k FROM tt_events h
        LEFT ANTI JOIN tt_events VERSION AS OF 0 o ON h.k = o.k
        ORDER BY h.k
        """,
    ).collect()
    assert [r["k"] for r in got] == [3]


def test_quoted_clause_text_is_not_rewritten(spark, table):
    got = tt.sql(
        spark,
        "SELECT 'tt_events VERSION AS OF 0' AS s, count(*) AS n "
        "FROM tt_events",
    ).collect()
    assert got[0]["s"] == "tt_events VERSION AS OF 0"
    assert got[0]["n"] == 3


def test_unregistered_travel_raises(spark, table):
    with pytest.raises(ValueError, match="unregistered"):
        tt.sql(spark, "SELECT * FROM nope VERSION AS OF 1")


def test_head_view_refreshes_after_new_commits(spark, table):
    assert tt.sql(spark, "SELECT count(*) AS n FROM tt_events").collect()[0][
        "n"
    ] == 3
    table.append(_df(spark, [(4, "d")]))
    assert tt.sql(spark, "SELECT count(*) AS n FROM tt_events").collect()[0][
        "n"
    ] == 4


def test_register_rejects_bad_identifier(spark, tmp_path):
    with pytest.raises(ValueError, match="identifier"):
        tt.register_table(spark, "bad-name", str(tmp_path / "x"))


def test_registry_name_never_becomes_regex(spark, tmp_path):
    """VERDICT r12 nit #1: the bare-name head-refresh pattern now
    re.escapes the registered name. register_table still refuses
    non-identifier names up front (regex metachars included), and a
    plain identifier query is behavior-identical."""
    for bad in ("a.b", "a+b", "a(b)", "x[1]"):
        with pytest.raises(ValueError, match="identifier"):
            tt.register_table(spark, bad, str(tmp_path / "x"))


def test_table_changes_sql_surface(spark, tmp_path):
    """Delta's table_changes('t', start [, end]) as SQL (r13):
    inclusive version bounds, typed rows, composable with the rest of
    the query through Catalyst."""
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "k long, v double"
    )
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), df, change_data_feed=True
    )
    t.append(spark.createDataFrame([(10, 10.0)], "k long, v double"))
    t.delete("k = 0")
    tt.register_table(spark, "tc_t", t.path)
    # start=1 end=2: the append's insert + the delete's delete
    got = tt.sql(
        spark,
        """
        SELECT _change_type, count(*) AS n
        FROM table_changes('tc_t', 1, 2)
        GROUP BY _change_type ORDER BY _change_type
        """,
    ).collect()
    assert [(r["_change_type"], r["n"]) for r in got] == [
        ("delete", 1), ("insert", 1),
    ]
    # start=0 includes the create's inserts; end defaults to head
    n_all = tt.sql(
        spark, "SELECT count(*) AS n FROM table_changes('tc_t', 0)"
    ).collect()[0]["n"]
    assert n_all == 6 + 1 + 1
    # bare-identifier name form and join-ability
    joined = tt.sql(
        spark,
        """
        SELECT c.k FROM table_changes(tc_t, 2, 2) c
        JOIN tc_t h ON c.k = h.k WHERE c._change_type = 'delete'
        """,
    ).collect()
    assert joined == []  # deleted row no longer in the head
    # quoted literal containing the call text never rewrites
    lit = tt.sql(
        spark, "SELECT 'table_changes(''tc_t'', 0)' AS s"
    ).collect()[0]["s"]
    assert "table_changes" in lit


def test_table_changes_unregistered_refused(spark):
    with pytest.raises(ValueError, match="unregistered"):
        tt.sql(spark, "SELECT * FROM table_changes('nope_xyz', 0)")


def test_double_quoted_literal_is_not_rewritten(spark, table):
    """Spark reads "..." as a string literal too: neither a travel
    clause nor a table_changes call inside one is rewritten."""
    got = tt.sql(
        spark, 'SELECT "tt_events VERSION AS OF 0" AS s FROM tt_events'
    ).collect()
    assert [r["s"] for r in got] == ["tt_events VERSION AS OF 0"] * 3
    got = tt.sql(spark, "SELECT \"table_changes('tt_events', 0)\" AS s")
    assert got.collect()[0]["s"] == "table_changes('tt_events', 0)"


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["posix", "file"])
def test_recreated_table_never_serves_the_old_plan(spark, tmp_path, scheme):
    """A table deleted and recreated at the same path, up to the same
    version, has new manifests: neither ``read()``'s plan memo nor the
    registered head view may serve the old table's files. The memo
    keys carry the head manifest's identity from the commit log on
    every filesystem, a ``file://`` URI included."""
    import shutil

    path = scheme + str(tmp_path / "t")

    def build(tag):
        t = VersionedTable.create(spark, path, _df(spark, [(0, tag)]))
        for k in (1, 2, 3):
            t.append(_df(spark, [(k, tag)]))
        return t

    build("old")
    tt.register_table(spark, "tt_recreated", path)
    assert {r["v"] for r in VersionedTable(spark, path).read().collect()} == {
        "old"
    }
    assert tt.sql(spark, "SELECT DISTINCT v FROM tt_recreated").collect()[0][
        "v"
    ] == "old"
    shutil.rmtree(tmp_path / "t")
    t = build("new")
    assert sorted(map(tuple, t.read().collect())) == [
        (k, "new") for k in range(4)
    ]
    got = tt.sql(spark, "SELECT k, v FROM tt_recreated ORDER BY k").collect()
    assert [tuple(r) for r in got] == [(k, "new") for k in range(4)]
