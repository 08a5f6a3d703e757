"""Time one checkout's driver start-up, phase by phase.

    python scripts/session_start.py <checkout>

Starts a session with <checkout>'s `session.get_spark` in this process
and prints the seconds spent in each start phase:

- gateway launch: pyspark launching the driver JVM and connecting;
- SparkContext: the rest of the SparkContext's construction;
- SparkSession: the rest of `get_spark`;
- first query: `spark.range(1).collect()`;

then stops the gateway and waits for the JVM to exit (`gateway stop`;
this is where a JVM that records a class-data archive writes it).

It also says whether the driver JVM mapped Spark's classes from a
class-data archive: the JVM logs class loading to a file
(`-Xlog:class+load` in `spark.driver.extraJavaOptions`) and the script
reads where `org.apache.spark.SparkContext` came from. The script does
not empty or fill the archive cache itself; an A/B of start-up should
say whether the cache started empty. The last stdout line is a JSON
summary.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path


def main() -> int:
    if len(sys.argv) != 2:
        raise SystemExit("usage: session_start.py <checkout>")
    checkout = Path(sys.argv[1]).resolve()
    if not (checkout / "social_media_etl_spark").is_dir():
        raise SystemExit(f"no engine under {checkout}: social_media_etl_spark/ is missing")
    sys.path.insert(0, str(checkout))

    import pyspark.core.context as context

    from social_media_etl_spark.session import get_spark

    spans: dict[str, float] = {}

    def timed(name, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spans[name] = spans.get(name, 0.0) + time.perf_counter() - t0

        return wrapper

    context.launch_gateway = timed("launch", context.launch_gateway)
    context.SparkContext.__init__ = timed("context", context.SparkContext.__init__)

    with tempfile.TemporaryDirectory(prefix="session_start_") as tmp:
        log = Path(tmp) / "class-load.log"
        conf = {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"}
        t0 = time.perf_counter()
        spark = get_spark("session-start", extra_conf=conf)
        total = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark.range(1).collect()
        first_query = time.perf_counter() - t0

        gw = context.SparkContext._gateway
        spark.stop()
        t0 = time.perf_counter()
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        gw.proc.wait(timeout=120)
        stop = time.perf_counter() - t0

        source = "not logged"
        for line in log.read_text(errors="replace").splitlines():
            if " org.apache.spark.SparkContext source: " in line:
                source = line.split(" source: ", 1)[1]
                break

    phases = {
        "gateway_launch_s": spans["launch"],
        "spark_context_s": spans["context"] - spans["launch"],
        "spark_session_s": total - spans["context"],
        "first_query_s": first_query,
    }
    for name, s in phases.items():
        print(f"{name:18} {s:7.3f}")
    print(f"{'total_s':18} {sum(phases.values()):7.3f}")
    print(f"{'gateway_stop_s':18} {stop:7.3f}")
    print(f"SparkContext class source: {source}")
    summary = {
        "checkout": str(checkout),
        **{k: round(v, 3) for k, v in phases.items()},
        "total_s": round(sum(phases.values()), 3),
        "gateway_stop_s": round(stop, 3),
        "archive_mapped": source.startswith("shared objects file"),
        "class_source": source,
        "exit_status": gw.proc.returncode,
    }
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
