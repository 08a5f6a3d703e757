"""Per-layer tracing for the benchmark's traced runs.

Nothing here edits the engine: spans are wrappers the benchmark installs
around the engine's public functions while a traced pass runs, and
removes again for the untraced passes. Five record kinds:

- spans: per layer name, calls and self time (the span's duration
  minus the time its child spans on the same thread cover);
- py4j commands sent by the driver, with the time spent waiting on
  them; GC-release (`m`) commands are left out, because Python's
  garbage collector decides when those are sent;
- Spark jobs, stages and task metrics read from the status store, and
  the JVM's GC time and heap use;
- per-trigger progress of streaming queries, from a Python
  StreamingQueryListener;
- Python worker time per UDF, from the session's perf profiler
  (`spark.sql.pyspark.udf.profiler=perf`, set only while a traced pass
  runs).
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

RUN_ID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


class Tracer:
    def __init__(self) -> None:
        self._local = threading.local()
        self._lock = threading.Lock()
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = False

    def reset(self) -> None:
        with self._lock:
            self.self_s.clear()
            self.total_s.clear()
            self.calls.clear()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        frame = [0.0]  # time covered by child spans
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += dur
            with self._lock:
                self.calls[name] += 1
                self.total_s[name] += dur
                self.self_s[name] += dur - frame[0]

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. For a
        module function, every module that imported the function by
        name gets the wrapper too."""
        if isinstance(owner, type):
            orig = owner.__dict__[attr]
            if isinstance(orig, (classmethod, staticmethod)):
                new = type(orig)(self.wrap(orig.__func__, name))
            else:
                new = self.wrap(orig, name)
            targets = [(owner, attr)]
        else:
            orig = getattr(owner, attr)
            new = self.wrap(orig, name)
            targets = [
                (m, a)
                for m in list(sys.modules.values())
                for a, v in list(getattr(m, "__dict__", {}).items())
                if v is orig
            ]
        for o, a in targets:
            self.replace(o, a, new)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until `unpatch`."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


class Py4JCounter:
    """Counts driver→JVM py4j commands, excluding GC-release commands,
    and the wall time during which at least one command is in flight
    (threads such as a foreachBatch callback send commands while the
    main thread waits on another)."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        orig = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        self.wait_s = 0.0
        self._inflight = 0
        self._busy_since = 0.0
        self.enabled = False

        def send_command(command, *args, **kwargs):
            if not self.enabled or command.startswith("m\n"):
                return orig(command, *args, **kwargs)
            with self._lock:
                self.calls += 1
                if self._inflight == 0:
                    self._busy_since = time.perf_counter()
                self._inflight += 1
            try:
                return orig(command, *args, **kwargs)
            finally:
                with self._lock:
                    self._inflight -= 1
                    if self._inflight == 0:
                        self.wait_s += time.perf_counter() - self._busy_since

        self._client.send_command = send_command

    def take(self) -> tuple[int, float]:
        with self._lock:
            out = (self.calls, self.wait_s)
            self.calls, self.wait_s = 0, 0.0
        return out


class SparkStats:
    """Jobs, stages and task metrics since the last call, read from
    the status store (works with the UI off), plus JVM GC and heap."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mx = jvm.java.lang.management.ManagementFactory
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()
        self._gc_ms = 0
        self.take()

    def _gc_total_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mx.getGarbageCollectorMXBeans())

    def wait(self) -> None:
        """Until every posted event has reached its listeners."""
        self._bus.waitUntilEmpty()

    def take(self) -> dict:
        self.wait()
        jvm = self._sc._jvm
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    None, False, False, self._no_quantiles, jvm.java.util.ArrayList()
                )
            )
        )
        new_jobs = [j for j in jobs if j["jobId"] not in self._seen_jobs]
        new_stages = [
            s
            for s in stages
            if (s["stageId"], s["attemptId"]) not in self._seen_stages
            and s["status"] in ("COMPLETE", "FAILED")
        ]
        self._seen_jobs.update(j["jobId"] for j in new_jobs)
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in new_stages)
        gc_ms = self._gc_total_ms()
        out = {
            "spark.jobs": len(new_jobs),
            "spark.stages": len(new_stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in new_stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in new_stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in new_stages) / 1e9,
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in new_stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in new_stages),
            "spark.input_bytes": sum(s["inputBytes"] for s in new_stages),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in new_stages
            ),
            "jvm.gc_s": (gc_ms - self._gc_ms) / 1e3,
            "jvm.heap_used_mb": self._mx.getMemoryMXBean().getHeapMemoryUsage().getUsed()
            / 2**20,
        }
        self._gc_ms = gc_ms
        # per job group: jobs, stages, tasks and input bytes. Jobs submitted from
        # threads that never set a group count under "(none)"; a streaming run
        # sets its random run id as the group, so all of those count under
        # "(streaming run)".
        group_of = {}
        groups: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
        for j in new_jobs:
            g = j.get("jobGroup") or "(none)"
            if RUN_ID.fullmatch(g):
                g = "(streaming run)"
            groups[g][0] += 1
            group_of.update((sid, g) for sid in j["stageIds"])
        for s in new_stages:
            g = groups[group_of.get(s["stageId"], "(none)")]
            g[1] += 1
            g[2] += s["numCompleteTasks"]
            g[3] += s["inputBytes"]
        keys = ("jobs", "stages", "tasks", "input_bytes")
        out["groups"] = {g: dict(zip(keys, v)) for g, v in groups.items()}
        return out


class StreamProgress:
    """Progress of every streaming trigger, from a Python listener.

    Listener callbacks run on the listener bus; `SparkStats.wait`
    before reading makes a pass's triggers land in that pass."""

    PHASES = (
        "addBatch",
        "queryPlanning",
        "getBatch",
        "latestOffset",
        "walCommit",
        "commitOffsets",
        "triggerExecution",
    )

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                outer._add(event.progress)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._lock = threading.Lock()
        self._triggers: list = []
        self.enabled = False
        spark.streams.addListener(Listener())

    def _add(self, p) -> None:
        if not self.enabled:
            return
        state = [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators]
        with self._lock:
            self._triggers.append((str(p.runId), dict(p.durationMs), p.numInputRows, state))

    def take(self, drain_s: float) -> dict:
        """Totals over the triggers since the last call; ``drain_s`` is
        the wall time of the drains that ran them."""
        with self._lock:
            triggers, self._triggers = self._triggers, []
        out = {
            f"stream.{ph}_ms": sum(d.get(ph, 0) for _r, d, _n, _s in triggers) for ph in self.PHASES
        }
        last_state = {run: state for run, _d, _n, state in triggers}  # the run's last trigger
        out.update(
            {
                "stream.drains": len({run for run, *_ in triggers}),
                "stream.batches": len(triggers),
                "stream.input_rows": sum(n for _r, _d, n, _s in triggers),
                "stream.start_stop_ms": drain_s * 1e3 - out["stream.triggerExecution_ms"]
                if triggers
                else 0.0,
                "stream.state_rows": sum(r for st in last_state.values() for r, _m in st),
                "stream.state_memory_bytes": sum(m for st in last_state.values() for _r, m in st),
            }
        )
        return out


class PyUdfProfile:
    """Python worker time per UDF from the session's perf profiler."""

    CONF = "spark.sql.pyspark.udf.profiler"

    def __init__(self, spark) -> None:
        self._spark = spark

    def enable(self, on: bool) -> None:
        if on:
            self._spark.conf.set(self.CONF, "perf")
        else:
            self._spark.conf.unset(self.CONF)

    def take(self) -> dict:
        collector = self._spark._profiler_collector
        results = collector._perf_profile_results
        collector.clear_perf_profiles()
        return {
            "pyudf.udfs": len(results),
            "pyudf.worker_s": sum(st.total_tt for st in results.values()),
        }


def probes(spark) -> tuple:
    """The traced run's probes, installed once per session."""
    return Py4JCounter(spark), SparkStats(spark), StreamProgress(spark), PyUdfProfile(spark)


def begin(probes: tuple) -> None:
    """Start a traced pass from a quiet state: earlier events delivered
    and every counter reset."""
    counter, stats, stream, pyudf = probes
    stats.take()
    stream.take(0.0)
    pyudf.take()
    counter.take()


def enable(probes: tuple, on: bool) -> None:
    counter, stats, stream, pyudf = probes
    if on:
        pyudf.enable(True)
        stream.enabled = counter.enabled = True
        return
    stats.wait()  # listener callbacks of this pass land in this pass
    stream.enabled = counter.enabled = False
    pyudf.enable(False)


def install_common(tracer: Tracer) -> None:
    """Spans every workload gets: the catalog's table loads."""
    from social_media_etl_spark import catalog

    tracer.patch(catalog, "load_table", "catalog.load_table")
