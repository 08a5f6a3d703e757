"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_blog --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: each operation starts when the
previous one returns. Spark runs local[<cpus>] with the engine's own
session defaults (driver heap 2g unless SPARK_GRAFT_DRIVER_MEM says
otherwise). A run:

1. sets up once: `setup_s` runs from the first line of this file
   (engine import, JVM launch, session) until the workload's inputs
   are generated and prepared;
2. times a drift canary (pure CPU) at its start and end;
3. runs pass 0 cold (`warmup_s`), then steady passes until --seconds
   have passed (at least MIN_STEADY);
4. checks every output against a reference computed outside the
   engine, outside the timed passes;
5. writes the full record to perfbench/results/ and prints one JSON
   summary line last.

With --trace 1 the steady passes alternate untraced and traced, and
the summary carries the per-layer metrics instead of the end-to-end
ones. --engine points at another checkout's engine (used by ab.py).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402

MIN_STEADY = 2

#: the end-to-end metrics every workload reports (BENCHMARK.json). The
#: cold and steady pass times spread more than 0.1 (up to 0.36) between
#: runs on a shared 4-vCPU host, so they are per-layer `bench.*` metrics
#: and in the full record, with the workload-specific ones (load_s,
#: write_ms, ...)
END_TO_END = {"setup_s": "s"}

#: per-layer metrics in the summary line (BENCHMARK.json); the full
#: record has every one the traced passes measure. Counts come from the
#: first traced pass, times are medians over the traced passes.
PER_LAYER = {
    "bench.warmup_s": "s",
    "bench.pass_s": "s",
    "session.start_s": "s",
    "driver.py4j_calls": "count",
    "driver.py4j_wait_s": "s",
    "driver.python_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "catalog.load_table_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.integrity_s": "s",
    "pipeline.load_s": "s",
    "timetravel.sql_self_s": "s",
    "sqldml.run_dml_self_s": "s",
    "manifest.commit_self_s": "s",
    "manifest.read_plan_s": "s",
    "manifest.optimize_s": "s",
    "stream.triggerExecution_ms": "ms",
    "stream.start_stop_ms": "ms",
    "pyudf.worker_s": "s",
    "host.canary_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_share": "ratio",
}

#: counters that must repeat exactly for a seed
EXACT = ("driver.py4j_calls", "spark.jobs", "spark.stages", "spark.tasks")

READ_GROUPS = ("perfbench.range", "perfbench.point", "perfbench.travel")


def canary() -> float:
    """Median time of a fixed CPU-only task (hashing + an interpreter
    loop): a host-speed probe that no engine change can move."""
    buf = bytes(range(256)) * 256
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(400):
            h.update(buf)
        sum(i * i % 7 for i in range(150_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def summary_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        },
        separators=(",", ":"),
    )


def traced_layers(wl, tracer, probes, ops, i: int) -> dict:
    """Per-layer record of one traced pass."""
    counter, stats, stream, pyudf = probes
    calls, wait = counter.take()
    sp = stats.take()
    op_s = sum(t for _k, _w, t in ops)
    tot, self_ = tracer.total_s, tracer.self_s
    groups = sp.pop("groups")
    rec = {
        "driver.py4j_calls": calls,
        "driver.py4j_wait_s": wait,
        "driver.python_s": max(op_s - wait, 0.0),
        **sp,
        **stream.take(tot["stream.drain"]),
        **pyudf.take(),
        "catalog.load_table.calls": tracer.calls["catalog.load_table"],
        "catalog.load_table_s": tot["catalog.load_table"],
        "pipeline.gate_s": tot["pipeline.gate"],
        "pipeline.extract_s": tot["pipeline.extract"],
        "pipeline.transform_s": tot["pipeline.transform"],
        "pipeline.integrity_s": tot["pipeline.integrity"],
        "pipeline.load_s": tot["pipeline.load"],
        "rest_api.fetch_s": tot["rest_api.fetch"],
        "rest_api.to_df_s": tot["rest_api.to_df"],
        "rest_api.landing_s": tot["rest_api.landing"],
        "formats.write_table_s": tot["formats.write_table"],
        "blog.query_a_s": tot["blog.query_a"],
        "blog.query_b_s": tot["blog.query_b"],
        "blog.query_c_s": tot["blog.query_c"],
        "timetravel.sql_self_s": self_["timetravel.sql"],
        "sqldml.run_dml_self_s": self_["sqldml.run_dml"],
        "manifest.commit_self_s": self_["manifest.commit"],
        "manifest.read_plan_s": tot["manifest.read_plan"],
        "manifest.optimize_s": tot["manifest.optimize"],
        "manifest.read_input_bytes": sum(
            groups.get(g, {}).get("input_bytes", 0) for g in READ_GROUPS
        ),
        "trace.unattributed_share": self_["bench.op"] / tot["bench.op"] if tot["bench.op"] else 0.0,
        "pass_s": op_s,
        "spans": {
            n: {"calls": tracer.calls[n], "total_s": tot[n], "self_s": self_[n]} for n in sorted(tot)
        },
        "groups": groups,
    }
    # every workload's layer metrics, 0 where this workload never enters the layer
    rec.update(dict.fromkeys((n for w in workloads.WORKLOADS.values() for n in w.LAYER_METRICS), 0))
    rec.update(wl.layer_metrics(tracer, i))
    return rec


def per_layer(layers: list[dict]) -> dict:
    """One figure per metric over the traced passes: a count from the
    first traced pass (counts repeat), a median of everything else."""
    out = {}
    for name in layers[0]:
        if name in ("spans", "groups"):
            continue
        vals = [rec[name] for rec in layers]
        out[name] = vals[0] if isinstance(vals[0], int) else statistics.median(vals)
    return out


def run(args, work: Path, cpus: int) -> tuple[dict, str]:
    from social_media_etl_spark.session import get_spark

    import tracing

    cls = workloads.WORKLOADS[args.workload]
    conf = {
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    tracer = tracing.Tracer()
    t_session = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_start_s = time.perf_counter() - t_session
    wl = cls(spark, str(work / "workload"), args.seed, tracer)
    setup_s = time.perf_counter() - T_START

    canary_start = canary()
    probes = None
    if args.trace:
        probes = tracing.probes(spark)
    passes: list[dict] = []
    layers: list[dict] = []
    i = 0
    t_measure = 0.0
    while True:
        traced = bool(args.trace) and i > 0 and i % 2 == 0
        if traced:
            tracing.begin(probes)
            tracer.reset()
            wl.begin_traced_pass()
            wl.install_trace(tracer)
            tracing.install_common(tracer)
            tracer.enabled = True
            tracing.enable(probes, True)
        try:
            ops = wl.run_pass(i)
        finally:
            if traced:
                tracing.enable(probes, False)
                tracer.enabled = False
                tracer.unpatch()
        if traced:
            layers.append(traced_layers(wl, tracer, probes, ops, i))
        passes.append({"i": i, "traced": traced, "ops": ops})
        wl.after_pass(i)
        if i == 0:
            t_measure = time.perf_counter()
        i += 1
        if (
            i > MIN_STEADY
            and time.perf_counter() - t_measure >= args.seconds
            and (layers or not args.trace)
        ):
            break
    canary_end = canary()

    wl.check()
    failed = len(wl.failures)

    steady = [p["ops"] for p in passes[1:] if not p["traced"]]
    pass_times = [sum(t for _k, _w, t in ops) for ops in steady]
    e2e = {
        "setup_s": setup_s,
        "warmup_s": sum(t for _k, _w, t in passes[0]["ops"]),
        "pass_s": statistics.median(pass_times),
    }
    per_kind: dict[str, list[float]] = {}
    for ops in steady:
        for k, _w, t in ops:
            per_kind.setdefault(k, []).append(t)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {"cpus": cpus, "canary_start_s": canary_start, "canary_end_s": canary_end},
        "session_start_s": session_start_s,
        "end_to_end": e2e,
        "pass_s": workloads.summary(pass_times),
        **wl.record_metrics(steady),
        "op_fail_ratio": failed / wl.attempted,
        "per_kind_s": {k: workloads.summary(v) for k, v in sorted(per_kind.items())},
        "attempted": wl.attempted,
        "failed": failed,
        "failures": wl.failures[:20],
        "passes": [
            {"i": p["i"], "traced": p["traced"], "ops": [[k, w, t] for k, w, t in p["ops"]]}
            for p in passes
        ],
    }
    units = END_TO_END
    metrics = {k: e2e[k] for k in END_TO_END}
    if args.trace:
        metrics = per_layer(layers)
        metrics.update(
            {
                "bench.warmup_s": e2e["warmup_s"],
                "bench.pass_s": e2e["pass_s"],
                "session.start_s": session_start_s,
                "host.cpus": cpus,
                "host.canary_ratio": canary_end / canary_start,
                "trace.overhead_ratio": metrics.pop("pass_s") / e2e["pass_s"],
            }
        )
        record["traced_passes"] = layers
        record["per_layer"] = metrics
        record["exact"] = list(EXACT)
        units = PER_LAYER
    spark.stop()
    return record, summary_line(failed == 0, wl.attempted, failed, metrics, units)


def stop_gateway() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — fall back to a kill, then wait
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--engine", help="checkout whose engine to run (default: this one)")
    args = ap.parse_args(argv)

    engine = Path(args.engine).resolve() if args.engine else HERE.parent
    if not (engine / "social_media_etl_spark").is_dir():
        sys.exit(f"no engine under {engine}: social_media_etl_spark/ is missing")
    cpus = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "drain").mkdir()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        SMETL_DRAIN_SCRATCH=str(work / "drain"),
        # Python workers import the engine too
        PYTHONPATH=os.pathsep.join(filter(None, [str(engine), os.environ.get("PYTHONPATH")])),
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, str(engine))
    try:
        record, line = run(args, work, cpus)
    finally:
        if "pyspark" in sys.modules:
            stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    out = HERE / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(record, indent=1) + "\n")
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
