"""Structured Streaming tests: drain the events table through the
streaming plans with availableNow and assert parity with the batch
twin on the same input (the unified-API guarantee)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from social_media_etl_spark.catalog import load_table
from social_media_etl_spark.plans import analytics
from social_media_etl_spark.streaming import ingest, stateful

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """Events table written as several NDJSON files (the reference's
    landing format) so the file source sees a multi-file stream."""
    d = str(tmp_path_factory.mktemp("events_ndjson"))
    events = load_table(spark, SF, "events")
    events.repartition(4).write.mode("overwrite").json(d)
    assert len(glob.glob(os.path.join(d, "*.json"))) >= 2
    return d


def _batch_events(spark, path):
    return spark.read.schema(ingest.EVENTS_SCHEMA).json(path)


def test_windowed_counts_stream_matches_batch(spark, events_stream_dir, tmp_path):
    stream = ingest.read_events_stream(spark, events_stream_dir)
    out = ingest.run_available_now(
        ingest.windowed_counts(stream),
        str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="win_counts",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    batch = analytics.events_windowed_agg(_batch_events(spark, events_stream_dir))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 10


def test_sliding_windows_overlap(spark, events_stream_dir, tmp_path):
    stream = ingest.read_events_stream(spark, events_stream_dir)
    out = ingest.run_available_now(
        ingest.sliding_windowed_counts(stream, "10 minutes", "5 minutes"),
        str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="slide_counts",
    ).collect()
    # every event lands in exactly 2 sliding windows
    n_events = _batch_events(spark, events_stream_dir).count()
    assert sum(r["n_events"] for r in out) == 2 * n_events


def test_streaming_dedup_drops_replayed_rows(spark, events_stream_dir, tmp_path):
    """Write the same file content twice → dedup keeps one copy per id."""
    d = str(tmp_path / "dup_input")
    base = _batch_events(spark, events_stream_dir)
    base.unionAll(base).repartition(3).write.mode("overwrite").json(d)
    stream = ingest.read_events_stream(spark, d)
    out = ingest.run_available_now(
        ingest.streaming_dedup(stream, ["event_id"], watermark="100 days"),
        str(tmp_path / "ckpt"),
        query_name="dedup_stream",
    )
    assert out.count() == base.count()
    assert out.select("event_id").distinct().count() == base.count()


def test_session_windows_match_batch_sessionize(spark, events_stream_dir, tmp_path):
    stream = ingest.read_events_stream(spark, events_stream_dir)
    out = ingest.run_available_now(
        ingest.session_windows(stream, gap="30 minutes"),
        str(tmp_path / "ckpt"),
        output_mode="complete",
        query_name="sessions",
    )
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out.collect()
    )
    batch = analytics.events_sessionize(
        _batch_events(spark, events_stream_dir), gap_minutes=30
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    )
    assert got == want and len(want) > 5


def test_stateful_running_totals_final_state(spark, events_stream_dir, tmp_path):
    """State accumulates across micro-batches: with one file per
    trigger, the LAST update row per user equals the batch aggregate."""
    stream = ingest.read_events_stream(
        spark, events_stream_dir, max_files_per_trigger=1
    )
    out = ingest.run_available_now(
        stateful.running_user_totals(stream),
        str(tmp_path / "ckpt"),
        output_mode="update",
        query_name="running_totals",
    )
    # memory sink in update mode appends each update; the final state
    # per user is the row with the highest n_events
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.orderBy("n_events").collect()
    }
    batch = (
        _batch_events(spark, events_stream_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total"),
        )
    )
    want = {r["user_id"]: (r["n"], r["total"]) for r in batch.collect()}
    assert final == want and len(want) > 3


def test_stream_stream_interval_join_matches_batch(
    spark, events_stream_dir, tmp_path
):
    """Stream-stream inner join (purchases ⨝ prior clicks within 48
    hours, per user) drained with availableNow equals the identical
    interval join on batch frames."""
    batch = _batch_events(spark, events_stream_dir)
    purchases_b = batch.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks_b = batch.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    want = sorted(
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in ingest.interval_join(purchases_b, clicks_b, within="48 hours", watermark="48 hours").collect()
    )
    assert len(want) > 10

    stream = ingest.read_events_stream(spark, events_stream_dir)
    purchases_s = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks_s = stream.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    out = ingest.run_available_now(
        ingest.interval_join(purchases_s, clicks_s, within="48 hours", watermark="48 hours"),
        str(tmp_path / "ckpt"),
        query_name="ss_join",
    )
    got = sorted(
        (r["user_id"], r["l_event_id"], r["r_event_id"]) for r in out.collect()
    )
    assert got == want


def test_stream_static_join(spark, events_stream_dir, tmp_path):
    """Stream ⨝ static dimension: per-batch broadcast lookup, no state."""
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.5),
         ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = ingest.read_events_stream(spark, events_stream_dir)
    joined = stream.join(F.broadcast(dim), "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.first("weight").alias("w")
    )
    out = ingest.run_available_now(
        joined, str(tmp_path / "ckpt"), output_mode="complete",
        query_name="stream_static",
    )
    got = {r["event_type"]: (r["n"], r["w"]) for r in out.collect()}
    want = {
        r["event_type"]: r["count"]
        for r in _batch_events(spark, events_stream_dir)
        .groupBy("event_type").count().collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    assert got["purchase"][1] == 5.0


def test_watermark_append_mode_guarantees(spark, tmp_path):
    """Append-mode watermark GUARANTEES (empirically pinned on this
    Spark version): an emitted window is final — a row arriving after
    its window's state was evicted is dropped, never re-emitting or
    duplicating the window; windows not yet passed by the watermark
    are withheld. (The drop of late rows that arrive in the very batch
    the watermark advances is best-effort, per Spark's docs — not
    asserted.)"""
    import json as js
    import os
    import time

    src = str(tmp_path / "src")
    os.makedirs(src)

    def ev(eid, minute):
        return {
            "event_id": eid,
            "user_id": 1,
            "event_type": "click",
            "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
            "value": 1.0,
            "props": "{}",
        }

    def write(name, events):
        with open(os.path.join(src, name), "w") as fh:
            fh.write("\n".join(js.dumps(e) for e in events))
        time.sleep(1.1)  # distinct mtimes → deterministic batch order

    # batch 0: minutes 0, 30 → watermark 20 at batch 1
    write("0.json", [ev(1, 0), ev(2, 30)])
    # batch 1: minute 35 → window [0,5) evicted+emitted; watermark → 25
    write("1.json", [ev(3, 35)])
    # batch 2: minute 1 arrives AFTER its window was evicted → dropped
    write("2.json", [ev(4, 1), ev(5, 40)])

    stream = ingest.read_events_stream(spark, src, max_files_per_trigger=1)
    out = ingest.run_available_now(
        ingest.windowed_counts(stream, width="5 minutes", watermark="10 minutes"),
        str(tmp_path / "ckpt"),
        output_mode="append",
        query_name="late_drop",
    )
    rows = sorted((r["window_start"].minute, r["n_events"]) for r in out.collect())
    # [0,5) emitted exactly once with ONLY the on-time row; the
    # post-eviction minute-1 row neither re-emitted nor duplicated it,
    # and open windows (30/35/40) are withheld until the watermark
    # passes them
    assert rows == [(0, 1)]


def test_checkpoint_restart_exactly_once(spark, events_stream_dir, tmp_path):
    """Exactly-once across query RESTARTS: a second run against the
    same checkpoint processes only files that arrived after the first
    run — no reprocessing, no loss."""
    import shutil

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    import glob as g
    import os

    os.makedirs(src)
    files = sorted(g.glob(os.path.join(events_stream_dir, "*.json")))
    shutil.copy(files[0], src)

    def run_once():
        stream = ingest.read_events_stream(spark, src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.schema(ingest.EVENTS_SCHEMA).json(files[0]).count()
    assert spark.read.parquet(sink).count() == n1
    # new file lands; restart picks up ONLY the delta
    shutil.copy(files[1], src)
    run_once()
    n2 = spark.read.schema(ingest.EVENTS_SCHEMA).json(files[1]).count()
    out = spark.read.parquet(sink)
    assert out.count() == n1 + n2
    assert out.select("event_id").distinct().count() == n1 + n2


def test_foreach_batch_overwrite_idempotent(spark, events_stream_dir, tmp_path):
    """K4 parity: the foreachBatch sink full-refreshes the target; the
    materialized table equals the transform of all input."""
    target = str(tmp_path / "mv")
    stream = ingest.read_events_stream(spark, events_stream_dir)
    ingest.write_foreach_batch_overwrite(
        stream,
        target,
        str(tmp_path / "ckpt"),
        transform=lambda df: df.groupBy("event_type").count(),
    )
    # availableNow with no maxFilesPerTrigger drains in one batch here;
    # the target holds counts for the whole input
    got = {
        r["event_type"]: r["count"] for r in spark.read.parquet(target).collect()
    }
    want = {
        r["event_type"]: r["count"]
        for r in _batch_events(spark, events_stream_dir)
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert got == want


def test_foreach_batch_overwrite_rejects_split_input(
    spark, events_stream_dir, tmp_path
):
    """ADVICE r6: with the input split across micro-batches
    (maxFilesPerTrigger=1) an overwrite-per-batch would silently leave
    the 'full refresh' reflecting only the LAST batch — the sink must
    detect the second batch id and fail the query instead."""
    stream = ingest.read_events_stream(
        spark, events_stream_dir, max_files_per_trigger=1
    )
    with pytest.raises(Exception, match="second micro-batch"):
        ingest.write_foreach_batch_overwrite(
            stream,
            str(tmp_path / "mv"),
            str(tmp_path / "ckpt"),
            transform=lambda df: df.groupBy("event_type").count(),
        )


def test_incremental_rollup_matches_batch_and_replay_is_idempotent(
    spark, events_stream_dir, tmp_path
):
    """Multi-batch incremental aggregation: one file per micro-batch,
    partials merged at serve time equal the batch aggregate; replaying
    every batch (fresh checkpoint, same batch ids, same target) must
    overwrite partial partitions in place — NOT double-count."""
    target = str(tmp_path / "rollup")

    def run(ckpt: str) -> None:
        stream = ingest.read_events_stream(
            spark, events_stream_dir, max_files_per_trigger=1
        )
        ingest.write_foreach_batch_incremental_agg(
            stream, target, ckpt, ["event_type"], "value"
        )

    run(str(tmp_path / "ckpt1"))
    want = {
        r["event_type"]: (r["n"], round(r["s"], 2))
        for r in _batch_events(spark, events_stream_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    def serve():
        return {
            r["event_type"]: (r["n_events"], round(r["sum_value"], 2))
            for r in ingest.read_incremental_rollup(
                spark, target, ["event_type"]
            ).collect()
        }

    assert serve() == want
    # at least 2 batch partitions — the merge is genuinely incremental
    import glob as _glob
    import os as _os

    assert len(_glob.glob(_os.path.join(target, "__batch_id=*"))) >= 2

    run(str(tmp_path / "ckpt2"))  # full replay
    assert serve() == want


def test_interval_join_left_outer_batch_parity(spark):
    """how='left_outer' on batch frames: every left row survives,
    unmatched ones null-padded — same API the stream path uses."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 20, "2024-01-01 12:00:00")],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 99, "2024-01-01 09:50:00")],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ingest.interval_join(
        left, right, within="30 minutes", watermark="30 minutes",
        how="left_outer",
    ).collect()
    by_left = {r["l_event_id"]: r["r_event_id"] for r in out}
    assert by_left == {10: 99, 20: None}


def test_state_partitions_scales_with_cores(spark):
    """Cores-derived state-store sizing: one state partition per
    CORES_PER_STATE_PARTITION cores of the session, never below the
    floor (VERDICT r3 #3) — local[32] lands on the measured-best 4."""
    cores = spark.sparkContext.defaultParallelism
    assert ingest.state_partitions(spark) == max(
        ingest.STATE_PARTITION_FLOOR,
        cores // ingest.CORES_PER_STATE_PARTITION,
    )
    assert max(
        ingest.STATE_PARTITION_FLOOR, 32 // ingest.CORES_PER_STATE_PARTITION
    ) == 4


def test_rocksdb_state_store_parity(spark, events_stream_dir, tmp_path):
    """The RocksDB state store (the 100 TB choice — disk-backed state,
    changelog checkpoints) produces byte-identical windowed aggregates
    to the default heap-backed provider."""
    from social_media_etl_spark.streaming.ingest import ROCKSDB_STATE_CONF

    saved = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF}
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = ingest.read_events_stream(spark, events_stream_dir)
        out = ingest.run_available_now(
            ingest.windowed_counts(stream),
            str(tmp_path / "ckpt_rocks"),
            output_mode="complete",
            query_name="win_counts_rocks",
        )
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in out.collect()
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    batch = analytics.events_windowed_agg(_batch_events(spark, events_stream_dir))
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 10


def test_interval_join_full_outer_batch_parity(spark):
    """how='full_outer' on batch frames: unmatched LEFT rows null-pad
    the right columns, unmatched RIGHT rows null-pad the left columns,
    and the join key is coalesced so it is never null (ADVICE: the
    right-only key otherwise lives only in the dropped __r_key)."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (2, 20, "2024-01-01 12:00:00")],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, 99, "2024-01-01 09:50:00"), (3, 77, "2024-01-01 08:00:00")],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ingest.interval_join(
        left, right, within="30 minutes", watermark="30 minutes",
        how="full_outer",
    ).collect()
    rows = {(r["user_id"], r["l_event_id"], r["r_event_id"]) for r in out}
    assert rows == {(1, 10, 99), (2, 20, None), (3, None, 77)}
    assert all(r["user_id"] is not None for r in out)


def test_interval_join_fullouter_alias_still_coalesces_key(spark):
    """Spark accepts 'fullouter' (no underscore) as a join type; the
    key-coalesce branch must cover the alias too, or right-only rows
    silently lose their join key."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00")],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(3, 77, "2024-01-01 08:00:00")],
        "user_id long, event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ingest.interval_join(
        left, right, within="30 minutes", watermark="30 minutes",
        how="fullouter",
    ).collect()
    assert {(r["user_id"], r["l_event_id"], r["r_event_id"]) for r in out} \
        == {(1, 10, None), (3, None, 77)}


def test_streaming_upsert_sink_is_batch_boundary_independent(
    spark, events_stream_dir, tmp_path
):
    """The foreachBatch MERGE sink converges to the one-window batch
    answer however the trigger slices the input (order_cols totally
    order each key's updates from the data), and a full replay with a
    fresh checkpoint leaves the serving table unchanged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def run(target: str, ckpt: str, max_files: int | None) -> dict:
        stream = ingest.read_events_stream(
            spark, events_stream_dir, max_files_per_trigger=max_files
        )
        ingest.write_foreach_batch_upsert(
            stream, target, ckpt, ["user_id"], ["ts", "event_id"]
        )
        return {
            r["user_id"]: r["event_id"]
            for r in spark.read.parquet(target).collect()
        }

    one_shot = run(str(tmp_path / "t1"), str(tmp_path / "c1"), None)
    per_file = run(str(tmp_path / "t2"), str(tmp_path / "c2"), 1)
    assert one_shot == per_file  # boundary-independent

    ev = _batch_events(spark, events_stream_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = {
        r["user_id"]: r["event_id"]
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert one_shot == want  # equals the batch window

    # replay: fresh checkpoint, same target — merge keeps same winners
    replay = run(str(tmp_path / "t2"), str(tmp_path / "c3"), 1)
    assert replay == want


def test_streaming_cms_matches_batch_sketch_and_replay_idempotent(
    spark, events_stream_dir, tmp_path
):
    """The streamed sketch (per-batch partials merged at serve time)
    must equal the sketch built directly over all input — the CMS
    merge law across real micro-batch boundaries — and replaying every
    batch must overwrite partial partitions, not double-count."""
    from social_media_etl_spark.functions.sketches import cms_build

    target = str(tmp_path / "cms")

    def run(ckpt: str) -> None:
        stream = ingest.read_events_stream(
            spark, events_stream_dir, max_files_per_trigger=1
        )
        ingest.write_foreach_batch_cms(
            stream, target, ckpt, "user_id", depth=3, width=64
        )

    run(str(tmp_path / "ckpt1"))
    want = sorted(
        map(
            tuple,
            cms_build(
                _batch_events(spark, events_stream_dir), "user_id", depth=3, width=64
            ).collect(),
        )
    )
    got1 = sorted(
        map(tuple, ingest.read_cms_sketch(spark, target).collect())
    )
    assert got1 == want
    # replay with a fresh checkpoint: same batch ids overwrite in place
    run(str(tmp_path / "ckpt2"))
    got2 = sorted(
        map(tuple, ingest.read_cms_sketch(spark, target).collect())
    )
    assert got2 == want


# -- CDC consumption over VersionedTable (sync_table_changes) ---------------


def _vt_df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_sync_table_changes_replicates_and_is_replay_idempotent(
    spark, tmp_path
):
    """One poll lands snapshot + every append as separate txn-tagged
    batches; the drained sink equals the source head; a replayed poll
    applies NOTHING (exactly-once via the sink's txn log)."""
    from social_media_etl_spark.operators.manifest import VersionedTable

    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.append(_vt_df(spark, [(3, "c")]))
    src.append(_vt_df(spark, [(4, "d"), (5, "e")]))

    applied = ingest.sync_table_changes(
        spark, src.path, str(tmp_path / "dst"), app_id="cdc-test"
    )
    assert applied == ["cdc-test:snapshot:v0", "cdc-test:v1", "cdc-test:v2"]
    dst = VersionedTable(spark, str(tmp_path / "dst"))
    assert sorted(r["k"] for r in dst.read().collect()) == [1, 2, 3, 4, 5]
    head_before = dst.head_version()

    # replayed poll: nothing new
    again = ingest.sync_table_changes(
        spark, src.path, dst.path, app_id="cdc-test"
    )
    assert again == []
    assert dst.head_version() == head_before


def test_sync_table_changes_resumes_mid_chain(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable

    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a")])
    )
    src.append(_vt_df(spark, [(2, "b")]))
    first = ingest.sync_table_changes(
        spark, src.path, str(tmp_path / "dst"), app_id="cdc"
    )
    assert first == ["cdc:snapshot:v0", "cdc:v1"]
    # new source commits arrive; the next poll lands only those
    src.append(_vt_df(spark, [(3, "c")]))
    src.append(_vt_df(spark, [(4, "d")]))
    second = ingest.sync_table_changes(
        spark, src.path, str(tmp_path / "dst"), app_id="cdc"
    )
    assert second == ["cdc:v2", "cdc:v3"]
    dst = VersionedTable(spark, str(tmp_path / "dst"))
    assert sorted(r["k"] for r in dst.read().collect()) == [1, 2, 3, 4]


def test_sync_table_changes_refuses_rewritten_chain(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable

    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.upsert(
        spark.createDataFrame([(1, "a2", 9)], "k long, v string, o long")
        .select("k", "v"),
        ["k"],
        ["v"],
    )
    with pytest.raises(ValueError, match="rewrite"):
        ingest.sync_table_changes(
            spark, src.path, str(tmp_path / "dst2"), app_id="cdc"
        )


def test_sync_table_changes_skips_metadata_only_commits(spark, tmp_path):
    """set_properties and analyze commits between source appends add
    no rows: one poll replicates every row, a replayed poll applies
    nothing."""
    from social_media_etl_spark.operators.manifest import VersionedTable

    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a")])
    )
    src.append(_vt_df(spark, [(2, "b")]))
    src.set_properties({"team": "etl"})
    src.analyze(stats_cols=["k"])
    src.append(_vt_df(spark, [(3, "c")]))
    dst_path = str(tmp_path / "dst")
    assert ingest.sync_table_changes(spark, src.path, dst_path, "cdc") == [
        "cdc:snapshot:v0",
        "cdc:v1",
        "cdc:v4",
    ]
    dst = VersionedTable(spark, dst_path)
    assert sorted(r["k"] for r in dst.read().collect()) == [1, 2, 3]
    head = dst.head_version()
    assert ingest.sync_table_changes(spark, src.path, dst_path, "cdc") == []
    assert dst.head_version() == head


# -- versioned_cdc: Structured Streaming source over the change feed --------


@pytest.mark.slow
@pytest.mark.parametrize("scheme", ["", "file://"])
def test_versioned_cdc_stream_source_initial_snapshot_and_resume(
    spark, tmp_path, scheme
):
    """The engine-native CDC source: offsets are table versions,
    checkpointed by the engine. First drain emits the whole table
    (initial snapshot + appends); after NEW commits, a restart from
    the same checkpoint emits ONLY the new rows — exactly-once across
    restarts with zero sink cooperation. Parameterized over a plain
    path and a ``file://`` URI — the manifest IO goes through
    pyarrow.fs resolved from the table path's scheme (VERDICT r8 #4),
    so the scheme'd form is the in-container proxy for an s3://gs://
    table."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.append(_vt_df(spark, [(3, "c")]))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("versioned_cdc")
            .option("path", scheme + src.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got1 = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got1 == [1, 2, 3]  # initial snapshot + the append
    # new commits arrive; resume from the checkpoint
    src.append(_vt_df(spark, [(4, "d"), (5, "e")]))
    drain()
    got2 = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got2 == [1, 2, 3, 4, 5]  # only the delta was re-emitted
    # a re-drain with no new commits emits nothing
    drain()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == got2


def test_versioned_cdc_stream_source_schema_from_manifest(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    VersionedTable.create(
        spark, str(tmp_path / "t"), _vt_df(spark, [(1, "a")])
    )
    stream = (
        spark.readStream.format("versioned_cdc")
        .option("path", str(tmp_path / "t"))
        .load()
    )
    assert stream.schema.simpleString() == "struct<k:bigint,v:string>"


def test_versioned_cdc_starting_timestamp_replays_from_commit_instant(
    spark, tmp_path
):
    """startingTimestamp (the Delta option): commits whose CAS instant
    is at or after the timestamp replay; earlier ones count as
    consumed. Resolved through the commit log's commit-instant reader,
    the one version_as_of and history() read."""
    from datetime import datetime, timezone

    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.append(_vt_df(spark, [(3, "c")]))
    ts1 = (
        src.history().filter("version = 1").collect()[0]["commit_ts_ms"]
    )
    lit = datetime.fromtimestamp(ts1 / 1000.0, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .option("startingTimestamp", lit)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # only v1's rows replay — v0 predates the timestamp
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [3]
    # one commit-instant reader: for every version v, the stream starts
    # after v - 1 at v's commit instant, and version_as_of and
    # history() map that instant back to v
    import time
    from datetime import timedelta

    from social_media_etl_spark.sources import versioned_stream as vs

    time.sleep(0.01)
    src.append(_vt_df(spark, [(4, "d")]))
    hist = {r["version"]: r["commit_ts_ms"] for r in src.history().collect()}
    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    for v in src.versions():
        ts = src._log.commit_ts_ms(v)
        assert hist[v] == ts
        reader = vs._VersionedCdcStreamReader(
            {
                "path": src.path,
                "startingTimestamp": (epoch + timedelta(milliseconds=ts)).isoformat(),
            },
            src.read().schema,
        )
        assert reader.initialOffset() == {"version": v - 1}
        assert src.version_as_of(ts) == v
    # both options together refuse
    with pytest.raises(Exception, match="mutually exclusive"):
        q2 = (
            spark.readStream.format("versioned_cdc")
            .option("path", src.path)
            .option("startingVersion", "0")
            .option("startingTimestamp", lit)
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()


def test_versioned_cdc_refuses_unreachable_scheme():
    """A table path whose scheme pyarrow.fs cannot resolve must refuse
    with a clear error naming the URI — never silently read nothing
    (VERDICT r8 #4)."""
    from social_media_etl_spark.operators.table_log import TableLog

    with pytest.raises(ValueError, match="cannot resolve a filesystem"):
        TableLog("notascheme://bucket/table")


def test_versioned_cdc_stream_source_refuses_rewritten_chain(
    spark, tmp_path
):
    from social_media_etl_spark.operators.manifest import (
        VersionedTable,
        plan_changes,
    )
    from social_media_etl_spark.operators.table_log import TableLog

    src = VersionedTable.create(
        spark, str(tmp_path / "t"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.delete("k = 1")
    with pytest.raises(ValueError, match="rewrite"):
        plan_changes(
            TableLog(src.path), 0, src.head_version(),
            typed=False, caller="versioned_cdc",
        )


def test_versioned_cdc_stream_starts_after_historic_rewrite(spark, tmp_path):
    """A table that once saw a rewrite can still START a stream: the
    initial snapshot is well-defined regardless of history (r8
    review); only rewrites arriving AFTER the snapshot refuse."""
    from social_media_etl_spark.operators.manifest import (
        VersionedTable,
        plan_changes,
    )
    from social_media_etl_spark.operators.table_log import TableLog
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.delete("k = 1")  # historic rewrite BEFORE the stream starts
    src.append(_vt_df(spark, [(3, "c")]))
    head = src.head_version()
    # snapshot start resolves every head file despite the delete at v1
    log = TableLog(src.path)
    assert plan_changes(
        log, -1, head, typed=False, caller="versioned_cdc", snapshot=True
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [2, 3]
    # a rewrite AFTER the consumed snapshot still refuses
    src.update("k = 2", {"v": "'b2'"})
    with pytest.raises(ValueError, match="rewrite"):
        plan_changes(
            log, head, src.head_version(), typed=False, caller="versioned_cdc"
        )


@pytest.mark.slow
def test_overwrite_sink_refuses_resumed_checkpoint(spark, tmp_path):
    """A reused checkpoint delivers only NEW files with batch id > 0;
    overwriting from them would silently shrink the full refresh to
    the tail of the input (r8 review) — the sink raises instead."""
    import glob as _glob

    src_dir, target = str(tmp_path / "src"), str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, 1, "click", None, 1.0, None)], ingest.EVENTS_SCHEMA
    ).coalesce(1).write.mode("overwrite").json(src_dir)
    stream = ingest.read_events_stream(spark, src_dir)
    ingest.write_foreach_batch_overwrite(stream, target, ckpt)
    assert spark.read.parquet(target).count() == 1
    # a new file lands; re-draining on the SAME checkpoint must refuse
    spark.createDataFrame(
        [(2, 2, "view", None, 2.0, None)], ingest.EVENTS_SCHEMA
    ).coalesce(1).write.mode("append").json(src_dir)
    with pytest.raises(Exception, match="RESUMED checkpoint"):
        ingest.write_foreach_batch_overwrite(
            ingest.read_events_stream(spark, src_dir), target, ckpt
        )
    # the target still reflects the last FULL refresh
    assert spark.read.parquet(target).count() == 1


@pytest.mark.slow
def test_versioned_sink_app_id_namespaces_txns(spark, tmp_path):
    """Two streams sinking into one table both emit batch ids 0,1,...;
    without an app namespace the second stream's batches would collide
    with the first's txns and be silently dropped (r8 review)."""
    from social_media_etl_spark.operators.manifest import VersionedTable

    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    table = str(tmp_path / "t")
    for i, d in ((1, src_a), (2, src_b)):
        spark.createDataFrame(
            [(i, i, "click", None, float(i), None)], ingest.EVENTS_SCHEMA
        ).coalesce(1).write.mode("overwrite").json(d)
    ingest.write_foreach_batch_versioned(
        ingest.read_events_stream(spark, src_a), table,
        str(tmp_path / "ck_a"), app_id="stream-a",
    )
    ingest.write_foreach_batch_versioned(
        ingest.read_events_stream(spark, src_b), table,
        str(tmp_path / "ck_b"), app_id="stream-b",
    )
    t = VersionedTable(spark, table)
    assert sorted(r["event_id"] for r in t.read().collect()) == [1, 2]
    assert {"stream-a:batch-0", "stream-b:batch-0"} <= t.committed_txns()


def test_sync_table_changes_refuses_changed_start_version(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable

    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a")])
    )
    src.append(_vt_df(spark, [(2, "b")]))
    ingest.sync_table_changes(spark, src.path, str(tmp_path / "dst"), "cdc")
    with pytest.raises(ValueError, match="overlapping snapshot"):
        ingest.sync_table_changes(
            spark, src.path, str(tmp_path / "dst"), "cdc", start_version=1
        )


@pytest.mark.slow
def test_versioned_cdc_snapshot_applies_mor_delete_vectors(spark, tmp_path):
    """ADVICE r9 (high): a stream whose initial snapshot is taken AT
    OR AFTER a ``delete(mode='mor')`` must not resurrect the deleted
    rows — the reader anti-filters the head's deletion vectors per
    file partition. Appends after the snapshot still flow untouched
    (new files postdate every vector)."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark,
        str(tmp_path / "src"),
        _vt_df(spark, [(1, "a"), (2, "b"), (3, "c")]),
    )
    src.delete("k = 2", mode="mor")
    assert sorted(r["k"] for r in src.read().collect()) == [1, 3]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_cdc")
            .option("path", src.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # the MoR-deleted row must NOT appear in the snapshot batch
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 3]
    # an append after the snapshot is a plain DV-free delta
    src.append(_vt_df(spark, [(4, "d")]))
    drain()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [
        1,
        3,
        4,
    ]


@pytest.mark.slow
@pytest.mark.parametrize(
    "option, value, expected_first",
    [
        ("startingVersion", "1", [4]),  # exclusive: v1 already consumed
        ("startingVersionInclusive", "1", [3, 4]),  # Delta form: v1 emits
    ],
)
def test_versioned_cdc_starting_version_forms_exactly_once(
    spark, tmp_path, option, value, expected_first
):
    """ADVICE r8 #1 closed in code (VERDICT r9 #6): ``startingVersion``
    keeps the exclusive offset-checkpoint contract; the new
    ``startingVersionInclusive`` is the Delta-ported inclusive form —
    version N's own rows ARE emitted. Both forms stay exactly-once
    across a checkpoint resume."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.append(_vt_df(spark, [(3, "c")]))  # v1
    src.append(_vt_df(spark, [(4, "d")]))  # v2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_cdc")
            .option("path", src.path)
            .option(option, value)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == expected_first
    # resume: only genuinely new commits are emitted, once
    src.append(_vt_df(spark, [(5, "e")]))  # v3
    drain()
    got2 = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got2 == expected_first + [5]


def test_versioned_cdc_starting_options_mutually_exclusive(spark, tmp_path):
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a")])
    )
    stream = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .option("startingVersion", "0")
        .option("startingVersionInclusive", "0")
        .load()
    )
    with pytest.raises(Exception, match="mutually exclusive"):
        (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


@pytest.mark.slow
def test_versioned_cdc_read_change_feed_streams_typed_deletes(
    spark, tmp_path
):
    """readChangeFeed=true (r10): the stream emits appends as typed
    insert rows and a MoR delete's hidden rows as delete rows — full
    content, commit-tagged — instead of the rewrite refusal; a resumed
    checkpoint picks up later changes exactly once."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.append(_vt_df(spark, [(3, "c"), (4, "d")]))  # v1
    src.delete("k IN (2, 3)", mode="mor")  # v2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("versioned_cdc")
            .option("path", src.path)
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

    drain()
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (1, "insert", 3, "c"),
        (1, "insert", 4, "d"),
        (2, "delete", 2, "b"),
        (2, "delete", 3, "c"),
    ]
    # resume: a later append and another MoR delete stream typed too
    src.append(_vt_df(spark, [(5, "e")]))  # v3
    src.delete("k = 1", mode="mor")  # v4
    drain()
    got2 = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in spark.read.parquet(out).collect()
    )
    assert got2 == [
        (1, "insert", 3),
        (1, "insert", 4),
        (2, "delete", 2),
        (2, "delete", 3),
        (3, "insert", 5),
        (4, "delete", 1),
    ]
    # replaying the feed over the v0 snapshot reproduces the head
    state = {r["k"] for r in src.read(0).collect()}
    for _, kind, k in got2:
        state.add(k) if kind == "insert" else state.discard(k)
    assert state == {r["k"] for r in src.read().collect()}


@pytest.mark.slow
def test_versioned_cdc_change_feed_snapshot_start_and_cow_refusal(
    spark, tmp_path
):
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b"), (3, "c")])
    )
    src.delete("k = 2", mode="mor")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # snapshot start (-1): current rows stream as inserts at the head
    # version, with the vector anti-applied (no resurrected row 2)
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "insert", 1), (1, "insert", 3)]
    # a COW rewrite arriving later still refuses (not recoverable)
    src.delete("k = 3")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="readChangeFeed|recover"):
        q.awaitTermination()


@pytest.mark.slow
def test_versioned_cdc_change_feed_streams_cow_cdc_commits(spark, tmp_path):
    """On a change-data-feed table, a COW delete/update inside the
    span streams its CDC-recorded rows typed — instead of the
    rewrite refusal a plain table hits."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark,
        str(tmp_path / "src"),
        _vt_df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        change_data_feed=True,
    )
    src.delete("k = 2")  # v1: COW, CDC-recorded
    src.append(_vt_df(spark, [(4, "d")]))  # v2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
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
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [(1, "delete", 2), (2, "insert", 4)]


def test_versioned_cdc_stream_crosses_partition_spec_change(spark, tmp_path):
    """A set_partition_spec commit is metadata-only — the CDC stream
    crosses it silently and emits only the rows the surrounding
    appends added (under either layout)."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a")])
    )
    src.append(_vt_df(spark, [(2, "b")]))  # v1
    src.set_partition_spec("v")  # v2 — metadata only
    src.append(_vt_df(spark, [(3, "c")]))  # v3, partitioned layout
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [2, 3]


@pytest.mark.slow
def test_versioned_cdc_starting_version_inclusive_zero_replays_per_commit(
    spark, tmp_path
):
    """startingVersionInclusive=0 must behave like the other inclusive
    values — genuine per-commit replay from v0 (true _commit_version,
    historical MoR deletes preserved) — not fall into the snapshot
    path its -1 internal offset collides with (ADVICE r10: rows were
    collapsed at the end version and delete events silently dropped).
    In plain mode the same option enforces the append-only refusal
    from v0 instead of skipping history checks."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.append(_vt_df(spark, [(3, "c")]))  # v1
    src.delete("k = 2", mode="mor")  # v2

    def drain(tag, **opts):
        out = str(tmp_path / f"out{tag}")
        reader = spark.readStream.format("versioned_cdc").option(
            "path", src.path
        )
        for k_, v_ in opts.items():
            reader = reader.option(k_, v_)
        q = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in drain(
            "cdf", readChangeFeed="true", startingVersionInclusive="0"
        ).collect()
    )
    # v0's own rows emit AT v0, the MoR delete emits typed — nothing
    # collapses into an end-version snapshot
    assert got == [
        (0, "insert", 1),
        (0, "insert", 2),
        (1, "insert", 3),
        (2, "delete", 2),
    ]
    # plain mode: inclusive=0 over a chain containing a rewrite
    # refuses like inclusive=1 would (continuous semantics at 0)...
    with pytest.raises(Exception, match="append-only"):
        drain("plain", startingVersionInclusive="0").collect()
    # ...and over an append-only chain emits every commit's rows
    clean = VersionedTable.create(
        spark, str(tmp_path / "clean"), _vt_df(spark, [(1, "a")])
    )
    clean.append(_vt_df(spark, [(2, "b")]))
    src = clean
    assert {
        r["k"] for r in drain("clean", startingVersionInclusive="0").collect()
    } == {1, 2}


@pytest.mark.slow
def test_versioned_cdc_stream_maps_renamed_columns_through_aliases(
    spark, tmp_path
):
    """Streaming across a RENAME: pre-rename files carry the old
    physical name — the reader maps each schema field through the
    head manifest's alias chain instead of NULL-filling it (r11)."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    src = VersionedTable.create(
        spark, str(tmp_path / "src"), _vt_df(spark, [(1, "a"), (2, "b")])
    )
    src.rename_column("v", "tag")  # v1: metadata-only
    src.append(
        spark.createDataFrame([(3, "c")], "k long, tag string")
    )  # v2
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", src.path)
        .option("readChangeFeed", "true")
        .option("startingVersionInclusive", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["_commit_version"], r["k"], r["tag"])
        for r in spark.read.parquet(out).collect()
    )
    # v0's rows stream with their values under the NEW name
    assert got == [(0, 1, "a"), (0, 2, "b"), (2, 3, "c")]


@pytest.mark.slow
def test_versioned_cdc_stream_across_restore(spark, tmp_path):
    """readChangeFeed streams a RESTORE commit's CDC: the commit-time
    file-granularity diff (dropped rewrite rows as deletes, re-added
    original files as inserts) flows through the generic cdc path,
    and replaying it on the pre-restore state reproduces the head."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _vt_df(spark, [(1, "a"), (2, "b")]).coalesce(1),
        change_data_feed=True,
    )
    t.delete("k = 1")  # v1: COW rewrite
    t.restore(0)  # v2: un-does it with exact CDC
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName("cdc_restore_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r["_change_type"], r["k"], r["_commit_version"])
        for r in spark.sql("select * from cdc_restore_t").collect()
    )
    assert rows == [
        ("delete", 1, 1),  # the bad delete
        ("delete", 2, 2),  # restore drops the rewrite (k=2 survivor)
        ("insert", 1, 2),  # ...and re-adds the original file
        ("insert", 2, 2),
    ]
    # replay: {1,2} -v1-> {2} -v2-> {1,2} == head
    state = {1, 2}
    for ver in (1, 2):
        vs = [r for r in rows if r[2] == ver]
        for ct, k, _ in vs:
            if ct == "delete":
                state.discard(k)
        for ct, k, _ in vs:
            if ct == "insert":
                state.add(k)
    assert state == {r["k"] for r in t.read().collect()}


@pytest.mark.slow
def test_transform_with_state_v2_totals(spark, tmp_path):
    """State-v2 (transformWithStateInPandas) twin of the running
    totals operator: ValueState + MapState composite state, update
    mode, RocksDB provider. Runs end-to-end where the protobuf state
    protocol is available; elsewhere the operator REFUSES with a
    clear message instead of crashing a worker mid-query (the
    declared environment boundary)."""
    from social_media_etl_spark.streaming.stateful import (
        running_user_totals_v2,
        tws_protocol_available,
    )

    df = spark.createDataFrame(
        [
            (1, "click", 1.0),
            (1, "view", 2.0),
            (2, "click", 3.5),
            (1, "click", 0.5),
        ],
        "user_id long, event_type string, value double",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "src" / "p"))
    stream = spark.readStream.schema(df.schema).parquet(
        str(tmp_path / "src" / "p")
    )
    if not tws_protocol_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_user_totals_v2(stream)
        return
    from social_media_etl_spark.streaming.ingest import ROCKSDB_STATE_CONF

    old = {
        k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONF
    }
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        q = (
            running_user_totals_v2(stream)
            .writeStream.format("memory")
            .queryName("tws_v2")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {
            r["user_id"]: (r["n_events"], r["total_value"], r["n_types"])
            for r in spark.sql(
                "SELECT * FROM tws_v2 QUALIFY row_number() OVER "
                "(PARTITION BY user_id ORDER BY n_events DESC) = 1"
            ).collect()
        }
        assert rows == {1: (3, 3.5, 2), 2: (1, 3.5, 1)}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_versioned_cdc_refuses_unknown_table_feature(spark, tmp_path):
    """The stream passes the batch reader's table-feature gate: a head
    pointer recording a feature this build does not know is refused
    by name when the stream loads."""
    import json

    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), _vt_df(spark, [(1, "a")])
    )
    t.append(_vt_df(spark, [(2, "b")]))
    mdir = tmp_path / "t" / "_manifests"
    ptr = json.loads((mdir / "v00000001.json").read_text())
    ptr.update(
        version=2,
        parent=1,
        op="set_properties",
        features=[*(ptr.get("features") or []), "future_x"],
    )
    (mdir / "v00000002.json").write_text(json.dumps(ptr))
    with pytest.raises(Exception, match="future_x"):
        spark.readStream.format("versioned_cdc").option("path", t.path).load()


def test_versioned_cdc_change_feed_matches_batch_feed(spark, tmp_path):
    """Stream and batch run one change-feed planner: an availableNow
    drain of the typed stream from startingVersion=0 equals
    read_change_feed(0) as a multiset, across every kind of commit a
    change-feed table records."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    register_versioned_cdc_source(spark)
    t = VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        _vt_df(spark, [(i, f"v{i}") for i in range(8)]).coalesce(2),
        change_data_feed=True,
    )
    t.append(_vt_df(spark, [(8, "v8"), (9, "v9")]))
    t.set_properties({"team": "etl"})
    t.delete("k = 1", mode="mor")
    t.update("k = 2", {"v": "'two'"})
    t.merge(
        _vt_df(spark, [(3, "m3"), (20, "m20")]),
        on=["k"],
        when_matched_update={"v": "s.v"},
        when_not_matched_insert="*",
    )
    t.overwrite_where(_vt_df(spark, [(5, "rw5")]), "k >= 4 AND k < 6")
    t.optimize()
    t.append(_vt_df(spark, [(30, "v30")]))
    cols = ["k", "v", "_change_type", "_commit_version"]
    want = sorted(
        tuple(r) for r in t.read_change_feed(0).select(cols).collect()
    )
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).select(cols).collect()
    )
    assert got == want
    assert {r[2] for r in want} == {
        "insert",
        "delete",
        "update_preimage",
        "update_postimage",
    }


def test_stream_survives_metadata_only_commits(spark, tmp_path):
    """A widen/add_column commit inside the streamed span is skipped,
    not treated as a rewrite that aborts the append-only chain (the
    pre-r13 inlined lists predated the r12 metadata ops)."""
    from social_media_etl_spark.operators.manifest import VersionedTable
    from social_media_etl_spark.sources.versioned_stream import (
        register_versioned_cdc_source,
    )

    path = str(tmp_path / "t")
    t = VersionedTable.create(
        spark,
        path,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v int"),
    )
    t.widen_column("v", "long")
    t.add_column("w", "string")
    t.append(
        spark.createDataFrame(
            [(3, 30, "x")], "k long, v long, w string"
        )
    )
    register_versioned_cdc_source(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("versioned_cdc")
        .option("path", path)
        .option("startingVersionInclusive", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # all three data commits emitted; the metadata commits contributed
    # zero rows and did not abort the chain
    assert sorted(r["k"] for r in got.select("k").collect()) == [1, 2, 3]
