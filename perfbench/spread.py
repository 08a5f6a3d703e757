"""Run-to-run spread of the end-to-end figures.

    python3 perfbench/spread.py --workload etl_blog --seeds 1-10

Runs the benchmark once per seed, one run at a time, and prints for each
end-to-end figure of the run record (`setup_s`, `warmup_s`, `pass_s`) its
median and the distance between its first and third quartile as a share
of the median. A figure gated in BENCHMARK.json is shown next to its
bound: "ok" below a third of the bound, "in bound" up to the bound,
"WIDE" above it. A benchmark is steady when every gated spread is ok.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int = 0, engine: str | None = None) -> dict:
    """One benchmark run: its summary line, parsed, and its full record."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    if engine:
        cmd += ["--engine", engine]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    record = json.loads((HERE / "results" / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return {"summary": summary, "record": record}


def spread(values: list[float]) -> tuple[float, float]:
    """(median, interquartile distance / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        res = run_once(args.workload, seed, bench["run_seconds"])
        walls.append(time.perf_counter() - t0)
        if not res["summary"]["correct"]:
            print(f"seed {seed}: incorrect output", file=sys.stderr)
        for name, v in res["record"]["end_to_end"].items():
            values.setdefault(name, []).append(v)
        line = " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items())
        print(f"seed {seed}: {line} wall={walls[-1]:.1f}s", flush=True)
    for name, vals in values.items():
        med, rel = spread(vals)
        bound = bounds.get(name)
        if bound is None:
            flag = "not gated"
        else:
            flag = "ok" if rel < bound / 3 else "in bound" if rel <= bound else "WIDE"
        print(f"{args.workload} {name}: median {med:.4g} spread {rel:.3f} bound {bound} {flag}")
    print(f"{args.workload} wall per run: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
