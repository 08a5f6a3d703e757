"""The benchmark workloads.

A workload is built once per set-up (that is the timed set-up work),
then runs numbered passes. A pass returns its operations as
``(kind, is_write, seconds)``; everything a pass needs for the output
checks is kept on the object and checked after the timed passes.
"""

from __future__ import annotations

import dataclasses
import math
import os
import shutil
import statistics
import time
from datetime import datetime
from urllib.parse import unquote, urlparse

import gen


def dir_files(path: str) -> dict[str, int]:
    """Regular files under ``path`` -> size in bytes."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def canon(v) -> str:
    """One value in the canonical string form of scripts/check_oracle.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive canonical form of a result (columns by name)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def same_rows(got: list[tuple], want: list[tuple], ordered: bool = False) -> bool:
    """Row multisets (or sequences) equal; doubles within 1e-9 relative."""
    if len(got) != len(want):
        return False
    if not ordered:
        key = lambda r: tuple((x is None, str(x) if not isinstance(x, float) else "") for x in r)  # noqa: E731
        got, want = sorted(got, key=key), sorted(want, key=key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def summary(xs: list[float]) -> dict:
    """n, median and quartiles (Python's default exclusive method); a
    percentile only where at least ten samples lie beyond it."""
    xs = sorted(xs)
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
        out.update(q1=q1, q3=q3)
    if len(xs) >= 100:
        out["p90"] = statistics.quantiles(xs, n=10)[-1]
    return out


# -- output checks (pure functions, so selfcheck.py can plant bad rows) ---


def blog_failures(want: dict[str, list[tuple]], results: list[dict]) -> list[str]:
    """Blog query results of every pass against the plain-Python answers."""
    out = []
    for i, res in enumerate(results):
        for q, got in res.items():
            if got is not None and not same_rows(got, want[q], ordered=(q == "b")):
                out.append(f"pass {i} query {q}: wrong rows")
    return out


FINGERPRINT_SQL = (
    "SELECT count(*), count(DISTINCT event_id), sum(event_id), "
    "sum(user_id), sum(value), sum(length(props)) FROM {t}"
)


def replay_failures(events, table: str, log: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Replay the statements ``(stmt, version, rows)`` in DuckDB over
    the seed table ``events``, in order. Returns the reads that differ
    and the final table's fingerprint row."""
    import duckdb

    out = []
    con = duckdb.connect()
    try:
        con.register("events_src", events)
        con.execute(f"CREATE TABLE {table} AS SELECT * FROM events_src")
        totals = gen.TOTALS_SQL.format(t=table)
        snap = {0: con.execute(totals).fetchall()}
        for n, (s, version, rows) in enumerate(log):
            if s.is_write:
                for q in gen.duckdb_sql(s, table):
                    con.execute(q)
                snap[version] = con.execute(totals).fetchall()
                continue
            if s.kind == "travel":
                want = snap.get(version)
            else:
                want = con.execute(gen.duckdb_sql(s, table)[0]).fetchall()
            if want is None or not same_rows(rows, [tuple(r) for r in want]):
                out.append(f"statement {n} ({s.kind}): wrong rows")
        final = [tuple(r) for r in con.execute(FINGERPRINT_SQL.format(t=table)).fetchall()]
    finally:
        con.close()
    return out, final


def oracle_failures(events_path: str, oracles: dict[str, str], results: list[dict]) -> list[str]:
    """Drain results of every pass against their DuckDB twins over the
    same events file: row count, then the order-insensitive canonical
    form."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        want = {}
        for k, sql in oracles.items():
            cur = con.execute(sql)
            want[k] = ([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    out = []
    for i, res in enumerate(results):
        for k, got in res.items():
            if got is None:
                continue  # the op already counted as failed
            (cols, rows), (wcols, wrows) = got, want[k]
            if len(rows) != len(wrows):
                out.append(f"pass {i} {k}: {len(rows)} rows, oracle {len(wrows)}")
            elif sorted(cols) != sorted(wcols) or canon_rows(cols, rows) != canon_rows(wcols, wrows):
                out.append(f"pass {i} {k}: wrong rows")
    return out


def signature_failures(want: dict[int, int], results: list) -> list[str]:
    """SRP signatures of every pass against the NumPy recomputation."""
    return [
        f"pass {i} srp_signature: wrong signatures"
        for i, got in enumerate(results)
        if got is not None and got != want
    ]


class Workload:
    name = ""
    #: names of the per-layer metrics `layer_metrics` returns
    LAYER_METRICS: tuple[str, ...] = ()

    def __init__(self, spark, work_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.failures: list[str] = []
        self.attempted = 0

    def begin_traced_pass(self) -> None:
        pass

    def layer_metrics(self, tracer, i: int) -> dict:
        return {}

    def after_pass(self, i: int) -> None:
        """Untimed bookkeeping after pass ``i``."""

    def record_metrics(self, steady: list[list]) -> dict:
        """Workload-specific end-to-end figures over the steady passes'
        operations ``(kind, is_write, seconds)``."""
        return {}

    def _op(self, kind: str, is_write: bool, fn, ops: list):
        """Run and time one operation; a raise counts as a failure."""
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(f"perfbench.{kind}", kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("bench.op"):
                out = fn()
        except Exception as exc:  # noqa: BLE001 — recorded, the run goes on
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
            out = None
        ops.append((kind, is_write, time.perf_counter() - t0))
        return out


class EtlBlog(Workload):
    """`pipeline.blog_etl` into a fresh warehouse, then the three blog
    queries over what it wrote."""

    name = "etl_blog"
    LAYER_METRICS = ("pipeline.retries", "formats.bytes_written")

    def __init__(self, spark, work_dir, seed, tracer) -> None:
        super().__init__(spark, work_dir, seed, tracer)
        self.inputs = gen.write_blog_inputs(seed, os.path.join(work_dir, "input"))
        self.n_records = gen.BLOG_USERS + gen.BLOG_POSTS + gen.BLOG_COMMENTS
        self.results: list[dict] = []

    def _pass_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")

    def run_pass(self, i: int) -> list:
        from social_media_etl_spark import pipeline
        from social_media_etl_spark.plans import blog

        shutil.rmtree(self._pass_dir(i - 1), ignore_errors=True)
        d = self._pass_dir(i)
        ops: list = []
        out = self._op(
            "load",
            True,
            lambda: pipeline.blog_etl(
                self.spark,
                self.inputs["users"],
                self.inputs["posts"],
                self.inputs["comments"],
                os.path.join(d, "warehouse"),
                landing_dir=os.path.join(d, "landing"),
            ),
            ops,
        )
        res = {}
        if out is not None:
            queries = {
                "a": lambda: blog.most_comments_by_attribute(
                    out["comments"], "email", out["users"], "email", "id"
                ),
                "b": lambda: blog.counts_per_key(out["comments"], "post_id"),
                "c": lambda: blog.longest_text(out["comments"], "body", "id"),
            }
            for q, build in queries.items():

                def run(build=build, q=q):
                    with self.tracer.span(f"blog.query_{q}"):
                        return [tuple(r) for r in build().collect()]

                res[q] = self._op(f"query_{q}", False, run, ops)
        self.results.append(res)
        return ops

    def record_metrics(self, steady: list[list]) -> dict:
        loads = [t for ops in steady for k, _w, t in ops if k == "load"]
        queries = [sum(t for k, _w, t in ops if k.startswith("query_")) for ops in steady]
        return {
            "load_s": summary(loads),
            "query_s": summary(queries),
            "input_rows_per_s": self.n_records / statistics.median(loads),
        }

    def check(self) -> None:
        want = gen.blog_expected(gen.blog_records(self.seed))
        self.failures += blog_failures(want, self.results)

    # -- tracing -----------------------------------------------------------

    def install_trace(self, tracer) -> None:
        from social_media_etl_spark import pipeline
        from social_media_etl_spark.sources import formats, rest_api

        orig_run = pipeline.Pipeline.run

        def run(pipe):
            # wrap each stage body by its kind (extract/transform/
            # integrity/load); stage names are "<kind>[_<entity>]"
            pipe.stages = [
                dataclasses.replace(
                    s,
                    fn=tracer.wrap(s.fn, "pipeline." + s.name.split("_")[0]),
                    gate=s.gate and tracer.wrap(s.gate, "pipeline.gate"),
                )
                for s in pipe.stages
            ]
            tracer.calls["pipeline.stages"] += len(pipe.stages)
            return orig_run(pipe)

        tracer.replace(pipeline.Pipeline, "run", tracer.wrap(run, "pipeline.run"))
        tracer.patch(rest_api, "fetch_json_records", "rest_api.fetch")
        tracer.patch(rest_api, "json_records_to_df", "rest_api.to_df")
        tracer.patch(rest_api, "write_ndjson", "rest_api.landing")
        tracer.patch(rest_api, "read_json_landing", "rest_api.landing")
        tracer.patch(formats, "write_table", "formats.write_table")

    def layer_metrics(self, tracer, i: int) -> dict:
        stage_calls = sum(
            tracer.calls[f"pipeline.{k}"] for k in ("extract", "transform", "integrity", "load")
        )
        return {
            "pipeline.retries": stage_calls - tracer.calls["pipeline.stages"],
            "formats.bytes_written": sum(
                dir_files(os.path.join(self._pass_dir(i), "warehouse")).values()
            ),
        }


class LakehouseMixed(Workload):
    """A seeded SQL statement mix against one registered VersionedTable."""

    name = "lakehouse_mixed"
    TABLE = "ev"
    LAYER_METRICS = (
        "sqldml.statements",
        "manifest.commits",
        "manifest.head_version_calls",
        "manifest.files_added",
        "manifest.files_removed",
        "manifest.bytes_written",
        "manifest.log_bytes",
        "manifest.live_bytes",
        "manifest.optimize_bytes_rewritten",
    )

    def __init__(self, spark, work_dir, seed, tracer) -> None:
        from social_media_etl_spark.operators import timetravel
        from social_media_etl_spark.operators.manifest import VersionedTable

        super().__init__(spark, work_dir, seed, tracer)
        self.events = gen.events_frame(seed)
        src = os.path.join(work_dir, "events.parquet")
        os.makedirs(work_dir, exist_ok=True)
        self.events.to_parquet(src, index=False)
        self.path = os.path.join(work_dir, "table")
        VersionedTable.create(
            spark, self.path, spark.read.parquet(src), stats_cols=["event_id"]
        )
        timetravel.register_table(spark, self.TABLE, self.path)
        self.versions = [0]
        #: (stmt, version read or committed, rows) for the DuckDB replay
        self.log: list[tuple] = []
        self.bytes_ratio = None

    def run_pass(self, i: int) -> list:
        from social_media_etl_spark.operators import timetravel

        ops: list = []
        self._optimize_bytes = 0
        for s in gen.lakehouse_pass(self.seed, i):
            version = None
            if s.kind == "travel":
                version = self.versions[int(s.frac * len(self.versions))]
            text = gen.spark_sql(s, self.TABLE, version)
            if s.kind == "optimize" and self.tracer.enabled:
                before = dir_files(self.path)
            rows = self._op(
                s.kind,
                s.is_write,
                lambda text=text: [tuple(r) for r in timetravel.sql(self.spark, text).collect()],
                ops,
            )
            if rows is None:
                continue
            if s.is_write:
                version = rows[0][1]
                if version != self.versions[-1]:
                    self.versions.append(version)
                if s.kind == "optimize" and self.tracer.enabled:
                    self._optimize_bytes = sum(
                        n for p, n in dir_files(self.path).items() if p not in before
                    )
            self.log.append((s, version, rows))
        return ops

    def live_files(self) -> dict[str, int]:
        from social_media_etl_spark.operators.manifest import VersionedTable

        files = VersionedTable(self.spark, self.path).read().inputFiles()
        paths = [unquote(urlparse(f).path) for f in files]
        return {p: os.path.getsize(p) for p in paths}

    def after_pass(self, i: int) -> None:
        if i == 1:  # the first steady pass; later ones only add versions
            self.bytes_ratio = sum(dir_files(self.path).values()) / sum(
                self.live_files().values()
            )

    def record_metrics(self, steady: list[list]) -> dict:
        return {
            "write_ms": summary([t * 1e3 for ops in steady for _k, w, t in ops if w]),
            "read_ms": summary([t * 1e3 for ops in steady for _k, w, t in ops if not w]),
            "bytes_per_live_byte": self.bytes_ratio,
        }

    def check(self) -> None:
        """Replay every statement run, in order, in DuckDB; compare every
        read, and the final table."""
        from social_media_etl_spark.operators import timetravel

        failures, want = replay_failures(self.events, self.TABLE, self.log)
        self.failures += failures
        sql = FINGERPRINT_SQL.format(t=self.TABLE)
        got = [tuple(r) for r in timetravel.sql(self.spark, sql).collect()]
        if not same_rows(got, want):
            self.failures.append(f"final table differs: {got} vs {want}")

    # -- tracing -----------------------------------------------------------

    def install_trace(self, tracer) -> None:
        from social_media_etl_spark.operators import sqldml, timetravel
        from social_media_etl_spark.operators.manifest import VersionedTable

        tracer.patch(timetravel, "sql", "timetravel.sql")
        tracer.patch(sqldml, "run_dml", "sqldml.run_dml")
        for m in ("append", "merge", "update", "delete", "overwrite", "overwrite_where", "upsert"):
            tracer.patch(VersionedTable, m, "manifest.commit")
        tracer.patch(VersionedTable, "optimize", "manifest.optimize")
        for m in ("read", "read_where", "read_where_all", "read_where_eq", "read_where_in"):
            tracer.patch(VersionedTable, m, "manifest.read_plan")
        tracer.patch(VersionedTable, "head_version", "manifest.head_version")

    def begin_traced_pass(self) -> None:
        self._files0 = dir_files(self.path)
        self._live0 = self.live_files()
        self._v0 = self.versions[-1]

    def layer_metrics(self, tracer, i: int) -> dict:
        files = dir_files(self.path)
        live = self.live_files()
        new = {p: n for p, n in files.items() if p not in self._files0}
        return {
            "sqldml.statements": tracer.calls["sqldml.run_dml"],
            "manifest.commits": len([v for v in self.versions if v > self._v0]),
            "manifest.head_version_calls": tracer.calls["manifest.head_version"],
            "manifest.files_added": sum(1 for p in new if p.endswith(".parquet")),
            "manifest.files_removed": sum(1 for p in self._live0 if p not in live),
            "manifest.bytes_written": sum(new.values()),
            "manifest.log_bytes": sum(n for p, n in new.items() if p.endswith(".json")),
            "manifest.live_bytes": sum(live.values()),
            "manifest.optimize_bytes_rewritten": self._optimize_bytes,
        }


class StreamDrain(Workload):
    """`queries()` streaming drains over a generated events source, in
    seed-shuffled order; each drain is one availableNow run from a
    fresh checkpoint, so per-trigger fixed cost dominates. One batch
    operation rides along: signed-random-projection signatures of
    generated vectors, a mapInPandas stage, so the Python-worker layer
    is measured by the UDF profiler (it does not see the
    applyInPandasWithState drain)."""

    name = "stream_drain"
    #: a state-store aggregation (complete mode), a Python-worker state
    #: machine (applyInPandasWithState, update mode) and a foreachBatch
    #: MERGE sink over four micro-batches
    KEYS = ("streaming_windowed_agg", "streaming_stateful_totals", "streaming_upsert_latest")
    SRP = "srp_signature"

    def __init__(self, spark, work_dir, seed, tracer) -> None:
        import __spark_entry__ as entry

        super().__init__(spark, work_dir, seed, tracer)
        self.data = os.path.join(work_dir, "data")
        os.makedirs(self.data, exist_ok=True)
        self.events_path = os.path.join(self.data, "events.parquet")
        gen.events_frame(seed, gen.STREAM_EVENTS, gen.STREAM_USERS).to_parquet(
            self.events_path, index=False
        )
        self.vectors_path = os.path.join(work_dir, "vectors.parquet")
        gen.vectors_frame(seed).to_parquet(self.vectors_path, index=False)
        queries = entry.queries()
        self.queries = {k: queries[k] for k in self.KEYS}
        self.oracles = {k: entry.oracle_sql()[k] for k in self.KEYS}
        self.results: list[dict] = []
        self.signatures: list[dict] = []

    def _srp(self) -> dict[int, int]:
        from social_media_etl_spark.operators import similarity

        df = self.spark.read.parquet(self.vectors_path)
        sig = similarity.srp_signature(
            df, "vec_id", "embedding", bits=gen.SRP_BITS, seed=gen.SRP_SEED, dim=gen.VECTOR_DIM
        )
        return dict(sig.select("vec_id", "sig").collect())

    def run_pass(self, i: int) -> list:
        ops: list = []
        res = {}
        for k in gen.shuffled((*self.KEYS, self.SRP), self.seed, i):
            if k == self.SRP:
                self.signatures.append(self._op(k, False, self._srp, ops))
                continue

            def drain(k=k):
                df = self.queries[k](self.spark, self.data)
                return df.columns, [tuple(r) for r in df.collect()]

            res[k] = self._op(k, True, drain, ops)
        self.results.append(res)
        return ops

    def record_metrics(self, steady: list[list]) -> dict:
        passes = [sum(t for _k, _w, t in ops) for ops in steady]
        # every drain reads the whole source
        rows = len(self.KEYS) * gen.STREAM_EVENTS
        return {"input_rows_per_s": rows / statistics.median(passes)}

    def check(self) -> None:
        self.failures += oracle_failures(self.events_path, self.oracles, self.results)
        self.failures += signature_failures(
            gen.srp_signatures(gen.vectors_frame(self.seed)), self.signatures
        )

    # -- tracing -----------------------------------------------------------

    def install_trace(self, tracer) -> None:
        from social_media_etl_spark.streaming import ingest

        tracer.patch(ingest, "run_available_now", "stream.drain")
        for f in ("write_foreach_batch_upsert",):
            tracer.patch(ingest, f, "stream.drain")


WORKLOADS = {w.name: w for w in (EtlBlog, LakehouseMixed, StreamDrain)}
