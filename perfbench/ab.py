"""A/B comparison of two engine checkouts with the same benchmark code.

    python3 perfbench/ab.py --a ../parent --b . --workload stream_drain --pairs 10

Runs `--pairs` pairs; pair i runs both sides on seed `--seed + i`, the
A side first in even pairs and the B side first in odd ones. For each
end-to-end figure of the run record, gated or not (and, with --kind, the median time of one operation
kind, such as one streaming key) it prints both sides' medians and
quartiles and the verdict: B is faster (or slower) only when it wins
(or loses) at least nine tenths of the pairs, ties counting for neither,
and the medians differ by more than the distance between A's quartiles.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent

from spread import run_once  # noqa: E402


def verdict(a: list[float], b: list[float]) -> str:
    """The 9-in-10 rule for a lower-is-better metric."""
    wins = sum(y < x for x, y in zip(a, b))
    losses = sum(y > x for x, y in zip(a, b))
    q1, med_a, q3 = statistics.quantiles(a, n=4)
    diff = statistics.median(b) - med_a
    if abs(diff) <= q3 - q1:
        return f"no change shown (median diff {diff:+.4g} within A's quartile distance {q3 - q1:.4g})"
    if wins >= 0.9 * len(a):
        return f"B faster: won {wins}/{len(a)} pairs"
    if losses >= 0.9 * len(a):
        return f"B slower: lost {losses}/{len(a)} pairs"
    return f"unresolved: B won {wins}, lost {losses} of {len(a)} pairs"


def describe(xs: list[float]) -> str:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return f"median {med:.4g} [q1 {q1:.4g}, q3 {q3:.4g}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="baseline checkout (its engine is run)")
    ap.add_argument("--b", required=True, help="candidate checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100, help="seed of the first pair")
    ap.add_argument("--kind", action="append", default=[], help="also compare this operation kind")
    args = ap.parse_args()
    if args.pairs < 10:
        sys.exit("at least 10 pairs are needed for the 9-in-10 rule")
    seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    values: dict[str, dict[str, list[float]]] = {"a": {}, "b": {}}
    for i in range(args.pairs):
        seed = args.seed + i
        for side in ("a", "b") if i % 2 == 0 else ("b", "a"):
            res = run_once(args.workload, seed, seconds, engine=getattr(args, side))
            if not res["summary"]["correct"]:
                sys.exit(f"pair {i} side {side}: incorrect output")
            got = dict(res["record"]["end_to_end"])
            for kind in args.kind:
                got[kind] = res["record"]["per_kind_s"][kind]["median"]
            for k, v in got.items():
                values[side].setdefault(k, []).append(v)
        print(f"pair {i} seed {seed}: " + " ".join(
            f"{k} {values['a'][k][-1]:.4g}/{values['b'][k][-1]:.4g}" for k in values["a"]
        ), flush=True)
    for k in values["a"]:
        a, b = values["a"][k], values["b"][k]
        print(f"{k}: A {describe(a)}; B {describe(b)}; {verdict(a, b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
