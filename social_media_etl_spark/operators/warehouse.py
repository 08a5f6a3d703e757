"""Warehouse layout operators: partitioned writes, upsert, and SCD2
dimension history.

At 100 TB the table LAYOUT is the optimizer's strongest lever:
partition columns turn time/tenant filters into directory pruning
(zero I/O for excluded partitions — see the PartitionFilters plan
test), bucketing co-locates join keys (test_bucketing.py), and
file sizing keeps scan tasks balanced.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_media_etl_spark.write_opts import apply_light_committer

__all__ = [
    "write_partitioned",
    "compact_parquet_dir",
    "write_sorted",
    "zorder_value",
    "write_zordered",
    "upsert_parquet",
    "scd2_apply",
    "jdbc_options",
    "write_jdbc",
    "read_jdbc",
]


#: Plan-stats size estimates beyond this are treated as Catalyst's
#: no-CBO blowup (join = product of children; unsized = Long.MaxValue),
#: not a real table size — 1 PiB is far past any single write's input.
_SANE_SIZE_BYTES = 1 << 50


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    target_file_rows: int | None = None,
    target_file_bytes: int | None = None,
    dynamic_overwrite: bool = False,
) -> None:
    """Hive-style partitioned parquet write.

    Two file-sizing modes (at most one):

    - ``target_file_bytes`` — ONE-PASS: the file count comes from
      Catalyst's plan-statistics size estimate (free, no extra job).
      For scan-shaped frames the estimate is the source files' on-disk
      bytes after pruning — accurate, and the right default for
      avoiding the small-files problem. CAVEAT: without CBO, Catalyst
      sizes a JOIN as the product of its children and an unsized
      relation as Long.MaxValue — a grossly inflated estimate would
      silently spread the sub-bucket over millions of values (the
      layout degenerates to one-file-per-task, exactly what the flag
      exists to fix), so an estimate beyond ``_SANE_SIZE_BYTES`` (1
      PiB) raises and routes the caller to row-exact sizing. Write
      joined/aggregated frames with ``target_file_rows``, or
      materialize them first.
    - ``target_file_rows`` — row-EXACT: pays one extra ``count()``
      scan (column-pruned to an empty projection, so parquet sources
      read footers + row-group counts, not data pages). Use when the
      downstream contract is rows-per-file (e.g. fixed-size training
      shards), where an estimate won't do (ADVICE/VERDICT r5).

    Rows are then repartitioned on the partition columns plus a
    hash-derived sub-bucket so each partition directory gets about
    ``n_files`` well-sized files instead of one shard per task.

    ``dynamic_overwrite=True`` (with ``mode='overwrite'``) replaces
    ONLY the partition directories present in ``df`` and leaves every
    other partition untouched — the incremental-backfill write (redo
    yesterday without rewriting the year). Spark's default overwrite
    semantics ('static') first DELETES the whole table root; the
    dynamic mode is passed as the WRITER's ``partitionOverwriteMode``
    option (takes precedence over the session conf and is genuinely
    write-scoped — a conf save/restore would race concurrent writes in
    the same session, review r6). At 100 TB this is the difference
    between a backfill touching one day's directory and truncating the
    table.
    """
    if dynamic_overwrite and mode != "overwrite":
        raise ValueError("dynamic_overwrite requires mode='overwrite'")
    if target_file_rows is not None and target_file_bytes is not None:
        raise ValueError(
            "pass at most one of target_file_rows / target_file_bytes"
        )
    n_files = None
    if target_file_bytes is not None:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        est = size if isinstance(size, int) else int(size.toString())
        if est > _SANE_SIZE_BYTES:
            raise ValueError(
                f"write_partitioned: plan-stats size estimate {est} bytes "
                "is not credible (joins multiply child sizes without CBO; "
                "unsized relations default to Long.MaxValue) — use "
                "target_file_rows for this frame, or materialize it first"
            )
        n_files = max(1, -(-est // target_file_bytes))  # ceil
    elif target_file_rows is not None:
        n_rows = df.count()
        n_files = max(1, -(-n_rows // target_file_rows))  # ceil
    out = df
    if n_files is not None:
        # n_files is the TABLE-WIDE budget, but the sub-bucket modulus
        # applies inside EVERY partition directory — divide by the dir
        # count or each dir gets n_files shards of 1/n_dirs the target
        # size (r8 review: 365 daily dirs × 360 buckets ≈ 130k tiny
        # files where ~365 were requested). The distinct count is a
        # column-pruned scan, far cheaper than the write it sizes.
        # Assumes roughly uniform dirs; heavily skewed layouts should
        # size per-partition upstream.
        n_dirs = df.select(*partition_cols).distinct().count()
        per_dir = max(1, -(-n_files // max(1, n_dirs)))  # ceil
        out = df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(per_dir)),
        ).repartition(*([F.col(c) for c in partition_cols] + [F.col("__bucket")]))
        out = out.drop("__bucket")
    writer = out.write.mode(mode).partitionBy(*partition_cols)
    if dynamic_overwrite:
        # dynamic partition overwrite keeps the default committer: its
        # staging/move protocol is the one place algorithm v2 has known
        # interaction hazards (MAPREDUCE-7282-class)
        writer = writer.option("partitionOverwriteMode", "dynamic")
    else:
        writer = apply_light_committer(writer)
    writer.parquet(path)


def zorder_value(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    strategy: str = "linear",
) -> DataFrame:
    """Append ``__z``: the bit-interleaved Z-order value of ``cols``.

    Multi-column clustering key (the space-filling-curve layout behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY``): each numeric column is
    bucketed into 2^bits cells and the cell ids are bit-interleaved so
    rows close in EVERY dimension get close Z-values. Sorting files by
    ``__z`` then bounds each file's min/max range on ALL the clustered
    columns at once — single-column range sort (:func:`write_sorted`)
    gives perfect skipping on one column and none on the others.

    ``strategy='linear'`` buckets between the global min and max —
    right for roughly uniform dimensions. ``strategy='quantile'``
    buckets by approx_percentile boundaries so a heavily skewed
    dimension (long-tailed values would otherwise collapse into one
    linear cell, wasting the curve's resolution on empty space) still
    spreads across all 2^bits cells; cell assignment counts boundaries
    at-or-below the value with a codegen'd ``size(filter(...))`` over
    the boundary array (2^bits comparisons per row — keep ``bits``
    modest, 6-8, for the quantile strategy).

    The bucketing stats come from ONE aggregate pass cross-joined back
    as a broadcast literal row — no collect, no window. The interleave
    is a chain of shift/and/or expressions (bits × ndims terms), fully
    whole-stage-codegen. Nulls bucket to cell 0.
    """
    if not cols or len(cols) > 4:
        raise ValueError("zorder_value takes 1-4 columns")
    if strategy not in ("linear", "quantile"):
        raise ValueError(f"unknown zorder strategy {strategy!r}")
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    if bits * len(cols) > 63:
        # position 63 is the long sign bit: interleaving into it makes
        # high cells sort NEGATIVE and silently corrupts the clustering
        raise ValueError(
            f"bits*ndims must fit a signed long: {bits}*{len(cols)} > 63"
        )
    n_cells = 1 << bits
    buckets: list = []
    if strategy == "linear":
        stats = df.agg(
            *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
        )
        out = df.crossJoin(F.broadcast(stats))
        drop_cols = [f"__lo_{c}" for c in cols] + [f"__hi_{c}" for c in cols]
        for c in cols:
            lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
            span = hi - lo
            cell = F.when(
                span > 0,
                F.least(
                    F.lit(n_cells - 1),
                    F.floor((F.col(c).cast("double") - lo) / span * n_cells),
                ),
            ).otherwise(F.lit(0))
            buckets.append(F.coalesce(cell, F.lit(0)).cast("long"))
    else:
        qs = [i / n_cells for i in range(1, n_cells)]
        stats = df.agg(
            *[
                F.percentile_approx(F.col(c).cast("double"), qs).alias(
                    f"__qb_{c}"
                )
                for c in cols
            ]
        )
        out = df.crossJoin(F.broadcast(stats))
        drop_cols = [f"__qb_{c}" for c in cols]
        for c in cols:
            v = F.col(c).cast("double")
            cell = F.size(
                F.filter(F.col(f"__qb_{c}"), lambda b: v >= b)
            ).cast("long")
            buckets.append(
                F.when(v.isNull(), F.lit(0)).otherwise(cell)
            )
    ndims = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, cell in enumerate(buckets):
            bit = F.shiftright(cell, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * ndims + i))
    return out.withColumn("__z", z).drop(*drop_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    mode: str = "overwrite",
    num_files: int | None = None,
    strategy: str = "linear",
) -> None:
    """Z-order-clustered parquet layout: range-partition + sort on the
    interleaved Z-value of ``cols`` so every output file covers a small
    min/max rectangle in ALL clustered dimensions — parquet row-group
    statistics then skip files for predicates on ANY of the columns
    (the multi-column upgrade of :func:`write_sorted`; at 100 TB this
    is what keeps a two-dimensional point lookup from scanning the
    whole table). Layout verified from footers by
    test_write_zordered_bounds_every_dimension."""
    out = zorder_value(df, cols, bits=bits, strategy=strategy)
    out = (
        out.repartitionByRange(num_files, F.col("__z"))
        if num_files
        else out.repartitionByRange(F.col("__z"))
    )
    apply_light_committer(
        out.sortWithinPartitions("__z").drop("__z").write.mode(mode)
    ).parquet(path)


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: Sequence[str],
    order_col: str | Sequence[str],
) -> None:
    """Keyed upsert into a parquet table WITHOUT a transaction log:
    read-merge-overwrite keeping the highest ``order_col`` row per key.
    ``order_col`` may be a list — later columns break ties on earlier
    ones (e.g. ``["ts", "event_id"]`` makes the winner deterministic
    when several updates share a timestamp).

    This is the plain-parquet stand-in for Delta/Iceberg MERGE —
    correct (deterministic winner per key) but rewrite-the-table
    expensive; on partitioned tables pair it with partition pruning so
    only affected partitions rewrite.

    The commit is CRASH-SAFE: the merged state is written to a sibling
    temp dir and swapped in via checked renames (backup kept until the
    new dir is verified), so a crash mid-commit leaves the table at
    either the old or the new state — never deleted. A plain
    ``mode('overwrite')`` deletes the target before writing, and a
    crash in that window would make a checkpointed replay (e.g. the
    streaming upsert sink) read PATH_NOT_FOUND and silently
    re-initialize the table from one batch (review r6).
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    sc0 = spark.sparkContext
    _recover_interrupted_swap(
        sc0._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
            sc0._jsc.hadoopConfiguration()
        ),
        sc0._jvm,
        path,
        op="upsert_parquet",
    )
    try:
        current = spark.read.parquet(path)
        merged = current.unionByName(updates, allowMissingColumns=False)
    except AnalysisException as e:
        # ONLY path-not-found means first load; any other failure
        # (corruption, permissions, IO) must abort — falling through
        # would overwrite the table with just this batch (data loss)
        if "PATH_NOT_FOUND" not in str(e):
            raise
        merged = updates
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    sc = spark.sparkContext
    jvm = sc._jvm
    dest = jvm.org.apache.hadoop.fs.Path(path)
    fs = dest.getFileSystem(sc._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__upserting")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    # writing to the sibling dir also removes the need to materialize
    # the merged frame first (it no longer reads its own output path)
    apply_light_committer(latest.write.mode("overwrite")).parquet(str(tmp))
    _swap_into_place(fs, jvm, tmp, dest, path, op="upsert_parquet")


def jdbc_options(
    url: str,
    table: str,
    driver: str | None = None,
    batch_size: int = 10_000,
    isolation_level: str = "READ_COMMITTED",
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Option map for Spark's JDBC source/sink (pure, unit-testable).

    ``batchsize`` mirrors the reference's ``executemany`` batched
    insert (reference ``dags/users_etl.py:142-157``: one cursor,
    batched rows, single-transaction commit — here each partition
    writes its batches in one transaction).
    """
    opts = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
        "isolationLevel": isolation_level,
    }
    if driver:
        opts["driver"] = driver
    if extra:
        opts.update(extra)
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    truncate: bool = False,
    driver: str | None = None,
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> None:
    """Batch table insert into a warehouse DB over JDBC (SURVEY §2 K3).

    Mirrors the reference's Postgres load (``dags/users_etl.py:142-157``)
    Spark-style: each partition opens one connection and streams its
    rows in ``batch_size`` inserts. ``mode='overwrite', truncate=True``
    is the reference's truncate-and-load full refresh (K4) — TRUNCATE
    keeps the table's DDL/grants/indexes instead of DROP+CREATE.
    ``num_partitions`` caps concurrent connections (at 1000 executors
    you almost always want this well below the cluster's parallelism —
    the DB, not Spark, is the bottleneck).
    """
    # coalesce(n) is already a no-op when the frame has fewer
    # partitions — no need to force a DataFrame→RDD plan conversion
    # just to pre-check the count (r8 review)
    out = df.coalesce(num_partitions) if num_partitions is not None else df
    opts = jdbc_options(url, table, driver, batch_size, extra=extra)
    if truncate:
        opts["truncate"] = "true"
    out.write.format("jdbc").options(**opts).mode(mode).save()


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC table/query read. With ``partition_column`` + bounds the
    scan issues ``num_partitions`` range-predicate queries in parallel
    (the only way a JDBC read scales past one connection)."""
    opts = jdbc_options(url, table, driver, extra=extra)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            # str(None) would reach Spark's JDBC relation as the
            # literal "None" and die deep in the scan with a parse
            # error (r8 review) — fail fast with the real cause
            raise ValueError(
                "read_jdbc: partition_column requires lower_bound AND "
                "upper_bound (the range Spark splits into "
                "numPartitions per-partition queries)"
            )
        opts.update(
            {
                "partitionColumn": partition_column,
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
                "numPartitions": str(num_partitions or 8),
            }
        )
    return spark.read.format("jdbc").options(**opts).load()


def scd2_apply(
    dim: DataFrame | None,
    updates: DataFrame,
    key_cols: Sequence[str],
    tracked_cols: Sequence[str],
    effective_col: str,
    end_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2: fold a batch of updates into a
    history table — one row per (key, value-version) with
    [effective, end) validity and a current flag.

    Pure DataFrame formulation: union history + updates, then per key
    order by effective time and (a) drop consecutive rows whose tracked
    values are unchanged (no-op updates), (b) close each version with
    the next version's effective time via ``lead``. One shuffle on the
    key; no row-at-a-time merge loop.
    """
    keys = list(key_cols)
    tracked = list(tracked_cols)
    base_cols = keys + tracked + [effective_col]
    inputs = updates.select(*base_cols)
    if dim is not None:
        inputs = dim.select(*base_cols).unionByName(inputs)
    # tracked columns break ties at equal effective time (r8 review:
    # ordering by effective alone made the winner of a same-instant
    # update pair shuffle-dependent — one run kept A current with B as
    # a zero-length [t, t) version, the next run the reverse)
    order_cols = [effective_col] + tracked
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    change = None
    for c in tracked:
        prev = F.lag(c).over(w)
        d = ~prev.eqNullSafe(F.col(c))
        change = d if change is None else (change | d)
    versions = (
        inputs.withColumn("__is_first", F.lag(effective_col).over(w).isNull())
        .withColumn("__changed", F.coalesce(change, F.lit(True)))
        .filter(F.col("__is_first") | F.col("__changed"))
        .drop("__is_first", "__changed")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order_cols)
    return versions.withColumn(
        end_col, F.lead(effective_col).over(w2)
    ).withColumn(current_col, F.col(end_col).isNull())


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    schema=None,
) -> int:
    """Compact a parquet directory's small files into ~target-sized
    ones; returns the new file count.

    The streaming-sink maintenance op: high-frequency micro-batches
    leave one file per (batch × partition), and at 100 TB a scan over
    millions of KB-sized files is dominated by open/footer overhead.
    Listing and the final swap go through the Hadoop FileSystem API, so
    the same code compacts ``file://``, ``hdfs://``, ``gs://``,
    ``s3a://`` paths. The rewrite is read → repartition(ceil(bytes /
    target)) → write to a sibling temp dir → rename over the original
    — rename is atomic on HDFS/local but only per-file on object
    stores, so schedule compaction in the maintenance window there (as
    every table format's docs also insist). Pass ``schema`` to pin the
    read schema (skips inference over the many small footers).
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    _recover_interrupted_swap(fs, jvm, path, op="compact_parquet_dir")
    total = fs.getContentSummary(jpath).getLength()
    n_files = max(1, -(-total // target_file_bytes))  # ceil

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compacting")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    apply_light_committer(
        df.repartition(int(n_files)).write.mode("overwrite")
    ).parquet(str(tmp))
    _swap_into_place(fs, jvm, tmp, jpath, path, op="compact_parquet_dir")
    return int(n_files)


def _recover_interrupted_swap(fs, jvm, dest_str: str, op: str) -> bool:
    """Heal a crash that landed INSIDE a previous ``_swap_into_place``
    window: if the table dir is missing but its ``__prereplace`` backup
    exists, the crash hit between the two renames and the backup is
    the ONLY copy — restore it before anything reads the path (r8
    review: without this, a checkpointed upsert replay read
    PATH_NOT_FOUND, re-initialized from one batch, and the swap's own
    backup cleanup then deleted the real table). Returns True if a
    restore happened. Call this before the first read of any
    swap-managed path."""
    dest = jvm.org.apache.hadoop.fs.Path(dest_str)
    old = jvm.org.apache.hadoop.fs.Path(dest_str.rstrip("/") + "__prereplace")
    if not fs.exists(dest) and fs.exists(old):
        if not fs.rename(old, dest):
            raise IOError(
                f"{op}: found interrupted swap (table missing, backup "
                f"at {old}) but restoring it failed — intervene "
                "manually before retrying; the backup is the only copy"
            )
        return True
    return False


def _swap_into_place(fs, jvm, tmp, dest, dest_str: str, op: str) -> None:
    """Rename-safe replacement of ``dest`` with ``tmp``: move the old
    dir to a ``__prereplace`` backup, rename the new one in, verify,
    and only then drop the backup. Hadoop FileSystem.rename signals
    failure by RETURNING FALSE, not raising — and renaming onto an
    existing dir NESTS the source inside it — so every return is
    checked and no step ever deletes the only remaining copy of the
    data (ADVICE r4). A crash at ANY point leaves the data at ``dest``
    or at the backup, never gone — which is what lets a checkpoint
    replay re-apply an interrupted write instead of re-initializing
    from scratch (review r6). ``dest`` may not exist yet (first load):
    then the swap is a single verified rename."""
    old = jvm.org.apache.hadoop.fs.Path(dest_str.rstrip("/") + "__prereplace")
    if fs.exists(old):
        fs.delete(old, True)
    had_prior = fs.exists(dest)
    if had_prior and not fs.rename(dest, old):
        fs.delete(tmp, True)  # original untouched; discard the rewrite
        raise IOError(
            f"{op}: rename {dest} -> {old} failed; "
            "original left in place, new version discarded"
        )
    if not fs.rename(tmp, dest):
        restored = fs.rename(old, dest) if had_prior else False
        fs.delete(tmp, True)
        raise IOError(
            f"{op}: rename {tmp} -> {dest} failed; "
            + (
                "original restored"
                if restored
                else (
                    f"RESTORE ALSO FAILED — data is at {old}"
                    if had_prior
                    else "no prior version existed"
                )
            )
        )
    # the backup is deleted only after the swapped-in dir verifiably
    # exists and holds part files
    if not fs.exists(dest) or len(fs.listStatus(dest)) == 0:
        raise IOError(
            f"{op}: {dest} missing/empty after swap; "
            + (f"backup preserved at {old}" if had_prior else "no backup")
        )
    if had_prior:
        fs.delete(old, True)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    mode: str = "overwrite",
    partition_cols: Sequence[str] = (),
    num_files: int | None = None,
) -> None:
    """Range-clustered parquet layout: ``repartitionByRange`` on
    ``sort_cols`` then ``sortWithinPartitions`` before writing, so each
    output file owns a disjoint key range and parquet row-group min/max
    statistics become selective — the reader's predicate pushdown then
    skips whole files/row-groups for range filters instead of scanning
    everything (the single-key precursor to Z-ordering; at 100 TB this
    is the difference between a point-lookup touching one file and
    touching all of them). The layout property is pinned by
    test_write_sorted_files_have_disjoint_ranges, which reads the
    footers back."""
    range_args = [F.col(c) for c in sort_cols]
    # AQE coalesces small range shuffles to one partition; num_files
    # pins the file count when a specific layout granularity is wanted
    out = (
        df.repartitionByRange(num_files, *range_args)
        if num_files
        else df.repartitionByRange(*range_args)
    )
    out = out.sortWithinPartitions(*[F.col(c) for c in sort_cols])
    writer = apply_light_committer(out.write.mode(mode))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
