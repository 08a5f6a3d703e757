"""Structured Streaming SOURCE over a VersionedTable's change feed.

``streaming/ingest.py:sync_table_changes`` is the batch-driven CDC
consumer (a poller that replicates a commit chain table-to-table).
This module is the ENGINE-NATIVE half of the same pattern — the Delta
streaming source re-expressed through Spark 4's Python DataSource API:

    spark.dataSource.register(VersionedCdcDataSource)
    stream = spark.readStream.format("versioned_cdc") \
        .option("path", table_path).load()

- The stream OFFSET is the table VERSION: offset v = "all rows visible
  at version v have been emitted". ``initialOffset`` is -1 (emit the
  whole table as the initial snapshot, Delta-source semantics) or the
  ``startingVersion`` option. NOTE the option semantics: it names the
  last ALREADY-CONSUMED version — version N's own rows are NOT
  re-emitted (the offset contract above). This differs from Delta's
  startingVersion, which is inclusive; a consumer porting Delta
  semantics passes ``N - 1`` (ADVICE r8 — documented rather than
  changed, because the exclusive form is what an offset checkpoint
  naturally stores and replaying it must not duplicate rows).
  ``startingVersionInclusive`` is the Delta-INCLUSIVE form of the same
  option (ADVICE r8 #1, closed in code r10): ``N`` means version N's
  own rows ARE emitted — internally it stores the exclusive offset
  ``N - 1``, so checkpoints keep the replay-safe exclusive contract
  and a ported Delta consumer loses no commit. ``startingTimestamp``
  (all three mutually exclusive, ISO-8601, UTC like every timestamp
  in this engine) replays commits whose CAS instant is at or after
  the timestamp — the Delta option, resolved through the commit log's
  one commit-instant reader (``TableLog.commit_ts_ms``), the same one
  ``VersionedTable.version_as_of`` and ``history()`` read.
- ``latestOffset`` lists the manifest directory — O(versions) metadata,
  no data IO. Each micro-batch covers a committed version span.
- ``partitions(start, end)`` resolves the span with the batch side's
  planner, ``operators.manifest.plan_changes``, over the table's commit
  log (``operators.table_log.TableLog``, the object the table itself
  reads it through, so its pointers pass the same table-feature gate):
  one InputPartition per file the plan
  names, so the batch reads execute IN PARALLEL ON EXECUTORS (pyarrow
  per file), never through the driver. The stream therefore emits
  exactly what the batch feeds over the same span return.
- Offsets are checkpointed by the engine: restart resumes from the
  last committed version — exactly-once without any sink cooperation.
- Plain mode is ``read_changes``' added-rows mode: appends stream
  their new files, metadata-only commits are skipped, and any other
  commit inside the span raises — a consumer of a rewritten range must
  re-snapshot.
- ``readChangeFeed=true`` (r10) is ``read_change_feed``'s typed mode:
  the schema gains ``_change_type``/``_commit_version``, appends
  stream as typed ``insert`` rows, a MoR delete INSIDE the span
  streams the rows its vector hid as ``delete`` rows with full
  content, and commits that recorded CDC files (rewrites on
  ``change_data_feed=True`` tables) stream their recorded typed rows.
  Rewrites on NON-cdf tables still raise.
- The initial snapshot (offset -1, unless ``startingVersionInclusive=0``
  asks for per-commit replay from v0) is every file of the end version
  under that version's DELETION VECTORS (ADVICE r9, high): each file
  partition anti-filters its (file, row-position) keys while
  enumerating rows, so MoR-deleted rows are never resurrected by the
  stream.

FILESYSTEM: all manifest, segment and data IO goes through the
commit log's one ``pyarrow.fs`` filesystem, resolved from the table
path's own scheme (VERDICT r8 #4): plain paths and ``file://`` use
LocalFileSystem; ``s3://``/``gs://``/``hdfs://`` resolve to the matching
remote filesystem when the corresponding pyarrow bindings are available
in the worker; an unrecognized scheme is refused when the log is built,
naming the URI. The stream reader runs in a Python worker without a
JVM, so Hadoop FS itself is not reachable; the log holds no py4j
handle, so the reader that carries it pickles. Manifests record
DATA-FILE paths with the scheme and authority stripped
(``toUri().getPath()``), so before any open the reader maps a recorded
path back onto the table URI's own root (``TableLog.fs_path`` —
ADVICE r9: without this an ``s3://bucket`` table would lose its
bucket); plain paths and ``file://`` — the forms exercised in this
container — pass through unchanged, remote schemes resolve but are
untested here.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from social_media_etl_spark.operators.manifest import plan_changes
from social_media_etl_spark.operators.table_log import TableLog, plain_path

__all__ = ["VersionedCdcDataSource", "register_versioned_cdc_source"]


def _dv_positions(log: TableLog, dv_dirs, file_path) -> set:
    """Row positions of ``file_path`` deleted by the given deletion-
    vector directories (parquet of (file, row-position) keys written
    by a merge-on-read delete, update or merge — column names pinned in
    operators/manifest.py:_DV_FILE/_DV_POS). The vector's file column
    holds the scan-side ``_metadata.file_path`` URI; the manifest
    records plain paths — compare through ``table_log.plain_path``, as
    the batch layer does. Bounded by deleted rows, read once per (file,
    batch)."""
    import pyarrow.dataset as ds

    out: set = set()
    for d in dv_dirs:
        dset = ds.dataset(log.fs_path(d), filesystem=log.fs, format="parquet")
        tbl = dset.to_table(columns=["__smetl_dv_file", "__smetl_dv_pos"])
        for v, pos in zip(
            tbl.column(0).to_pylist(), tbl.column(1).to_pylist()
        ):
            if plain_path(v) == file_path:
                out.add(pos)
    return out


def _start_for_timestamp(log: TableLog, ts_ms: int) -> int:
    """The offset for ``startingTimestamp``: commits whose CAS-rename
    instant (manifest mtime) is AT OR AFTER the timestamp replay;
    everything earlier counts as already consumed. Returns
    ``first_commit_at_or_after - 1`` (our offsets are
    last-consumed-exclusive), or the head when no commit qualifies yet
    (the stream waits for new commits)."""
    vs = log.versions()
    if not vs:
        raise ValueError(f"versioned_cdc: no commits at {log.uri}")
    for v in vs:
        if log.commit_ts_ms(v) >= ts_ms:
            return v - 1
    return vs[-1]


try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _FilePartition(InputPartition):
        def __init__(
            self,
            file: str | None,
            dv_dirs: list | None = None,
            kind: str = "insert",
            version: int | None = None,
            aliases: dict | None = None,
        ):
            self.file = file
            # deletion-vector dirs: for an "insert" partition they
            # ANTI-filter (initial snapshots of MoR-deleted tables);
            # for a "delete" partition (readChangeFeed) they INNER-
            # select — the partition emits exactly the rows its
            # commit's new vector hid
            self.dv_dirs = dv_dirs
            self.kind = kind
            self.version = version
            # head-manifest alias chains (r11): pre-rename files carry
            # a column's OLD physical name — the reader maps each
            # schema field to whichever candidate its footer has
            self.aliases = aliases

    class _VersionedCdcStreamReader(DataSourceStreamReader):
        def __init__(self, options, schema: T.StructType):
            self._path = options.get("path")
            if not self._path:
                raise ValueError("versioned_cdc requires option 'path'")
            # resolve eagerly: an unreachable scheme must fail at
            # stream construction, not first poll
            self._log = TableLog(self._path)
            self._schema = schema
            self._fields = [f.name for f in schema.fields]
            cdf = str(options.get("readchangefeed",
                                  options.get("readChangeFeed", ""))).lower()
            self._cdf = cdf in ("true", "1", "yes")
            sv = options.get("startingversion", options.get("startingVersion"))
            svi = options.get(
                "startingversioninclusive",
                options.get("startingVersionInclusive"),
            )
            sts = options.get(
                "startingtimestamp", options.get("startingTimestamp")
            )
            if sum(x is not None for x in (sv, svi, sts)) > 1:
                raise ValueError(
                    "versioned_cdc: startingVersion, "
                    "startingVersionInclusive and startingTimestamp are "
                    "mutually exclusive"
                )
            self._v0_per_commit = False
            if svi is not None:
                # Delta-inclusive form (ADVICE r8 #1): version N's own
                # rows ARE emitted. The checkpointable offset stays
                # exclusive — N inclusive is N-1 consumed. inclusive=0
                # stores start=-1, which collides with the default
                # snapshot sentinel, so an explicit flag keeps it on
                # the per-commit path (ADVICE r10: behavior was
                # discontinuous at 0 — snapshot-collapsed rows, wrong
                # _commit_version, dropped historical deletes).
                self._start = int(svi) - 1
                self._v0_per_commit = int(svi) == 0
            elif sts is not None:
                dt = datetime.fromisoformat(sts)
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                # exact integer millis: a float timestamp() can land
                # one ms below a commit instant read back as text
                epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
                self._start = _start_for_timestamp(
                    self._log, (dt - epoch) // timedelta(milliseconds=1)
                )
            else:
                self._start = int(sv) if sv is not None else -1

        def initialOffset(self) -> dict:
            return {"version": self._start}

        def latestOffset(self) -> dict:
            vs = self._log.versions()
            return {"version": vs[-1] if vs else self._start}

        def partitions(self, start: dict, end: dict):
            s, e = start["version"], end["version"]
            if e <= s:
                return [_FilePartition(None)]
            log = self._log
            plan = plan_changes(
                log,
                s,
                e,
                typed=self._cdf,
                caller="versioned_cdc",
                snapshot=not self._v0_per_commit,
            )
            # alias chains of the span's END manifest: pre-rename
            # files carry old physical names that the reader must map
            # back to current schema fields (r11; one driver-side
            # metadata read per batch)
            amap = log.read_pointer(e).get("aliases") or None
            parts = []
            for v, kind, what, dvs in plan:
                if kind == "cdc":
                    # the recorded CDC parquet carries _change_type per
                    # row: the reader emits its rows as recorded
                    import pyarrow.fs as pafs

                    sel = pafs.FileSelector(log.fs_path(what), recursive=True)
                    what = [
                        info.path
                        for info in log.fs.get_file_info(sel)
                        if info.is_file and info.base_name.endswith(".parquet")
                    ]
                parts += [_FilePartition(f, dvs, kind, v, amap) for f in what]
            return parts or [_FilePartition(None)]

        def read(self, partition):
            if partition.file is None:
                return
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import to_arrow_type

            # data file paths are recorded scheme-stripped; map them
            # onto the TABLE's own URI and read through the log's
            # filesystem so remote tables resolve (ADVICE r9)
            log = self._log
            kind = getattr(partition, "kind", "insert")
            positions = (
                _dv_positions(log, partition.dv_dirs, partition.file)
                if getattr(partition, "dv_dirs", None)
                else None
            )
            with log.fs.open_input_file(log.fs_path(partition.file)) as f:
                tbl = pq.read_table(f)
            # position filter first (row order preserved): a "delete"
            # partition emits ONLY the rows its commit's vector hid;
            # an "insert" partition drops MoR-deleted rows
            if positions is not None:
                mask = np.zeros(tbl.num_rows, dtype=bool)
                if positions:
                    mask[np.fromiter(positions, dtype=np.int64)] = True
                if kind != "delete":
                    mask = ~mask
                tbl = tbl.filter(pa.array(mask))
            elif kind == "delete":
                return  # no vector rows for this file: nothing hidden
            names = set(tbl.schema.names)
            amap = getattr(partition, "aliases", None) or {}
            version = getattr(partition, "version", None)
            k = tbl.num_rows
            # emit whole ARROW BATCHES instead of row-at-a-time Python
            # tuples (r16, guide §4: the Python data source API accepts
            # pyarrow.RecordBatch yields — the to_pylist loop pickled
            # every row). Column mapping is unchanged: each schema
            # field reads the physical name THIS footer carries (the
            # field itself, or the first alias present — r11);
            # neither present NULL-fills like snapshot reads.
            cols, out_names = [], []
            for f_ in self._schema.fields:
                at = to_arrow_type(f_.dataType)
                src = next(
                    (
                        n
                        for n in [f_.name, *amap.get(f_.name, [])]
                        if n in names
                    ),
                    None,
                )
                if src is not None:
                    col = tbl.column(src)
                    if col.type != at:
                        col = col.cast(at)
                elif f_.name == "_change_type":
                    col = pa.array([kind] * k, type=at)
                elif f_.name == "_commit_version" and version is not None:
                    col = pa.array([version] * k, type=at)
                else:
                    col = pa.nulls(k, type=at)
                cols.append(col)
                out_names.append(f_.name)
            yield from pa.table(cols, names=out_names).to_batches()

        def commit(self, end: dict) -> None:
            pass  # offsets live in the engine checkpoint

    class VersionedCdcDataSource(DataSource):
        """``spark.readStream.format('versioned_cdc').option('path', p)``
        — a VersionedTable commit chain as a streaming source. The
        table schema is read from the head manifest (no inference, no
        user-declared schema to drift)."""

        @classmethod
        def name(cls) -> str:
            return "versioned_cdc"

        def schema(self) -> T.StructType:
            path = self.options.get("path")
            if not path:
                raise ValueError("versioned_cdc requires option 'path'")
            log = TableLog(path)
            vs = log.versions()
            if not vs:
                raise ValueError(f"versioned_cdc: no commits at {path}")
            m = log.read_pointer(vs[-1])
            out = T.StructType.fromJson(json.loads(m["schema_json"]))
            cdf = str(
                self.options.get(
                    "readchangefeed", self.options.get("readChangeFeed", "")
                )
            ).lower()
            if cdf in ("true", "1", "yes"):
                out = T.StructType(
                    list(out.fields)
                    + [
                        T.StructField("_change_type", T.StringType(), False),
                        T.StructField(
                            "_commit_version", T.IntegerType(), True
                        ),
                    ]
                )
            return out

        def streamReader(self, schema: T.StructType):
            return _VersionedCdcStreamReader(self.options, schema)

    def register_versioned_cdc_source(spark: SparkSession) -> None:
        spark.dataSource.register(VersionedCdcDataSource)

except ImportError:  # pragma: no cover - pyspark < 4 fallback

    VersionedCdcDataSource = None  # type: ignore[assignment]

    def register_versioned_cdc_source(spark: SparkSession) -> None:
        raise NotImplementedError(
            "Python DataSource API requires pyspark >= 4"
        )
