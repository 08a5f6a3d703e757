"""Checks of the benchmark itself; no Spark session needed.

    python3 perfbench/selfcheck.py

- the generators give the same inputs for a seed, and other inputs for
  another seed;
- the summary line stays under 2000 characters with every metric at
  its longest;
- every output check rejects a planted wrong row.
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def check_generators() -> None:
    assert gen.blog_records(3) == gen.blog_records(3)
    assert gen.blog_records(3) != gen.blog_records(4)
    assert gen.events_frame(3).equals(gen.events_frame(3))
    assert not gen.events_frame(3).equals(gen.events_frame(4))
    for i in range(3):
        assert gen.lakehouse_pass(3, i) == gen.lakehouse_pass(3, i)
        assert gen.lakehouse_pass(3, i) != gen.lakehouse_pass(4, i)
    keys = workloads.StreamDrain.KEYS
    assert gen.shuffled(keys, 3, 1) == gen.shuffled(keys, 3, 1)
    assert sorted(gen.shuffled(keys, 3, 1)) == sorted(keys)


def check_summary_line() -> None:
    longest = -1.2345678901234567e-100
    for units in (run.END_TO_END, run.PER_LAYER):
        line = run.summary_line(True, 10**9, 10**9, dict.fromkeys(units, longest), units)
        assert len(line) < 2000, (len(line), line)


def check_blog_verifier() -> None:
    want = gen.blog_expected(gen.blog_records(5))
    results = [{q: list(rows) for q, rows in want.items()}]
    assert workloads.blog_failures(want, results) == []
    for q in want:
        bad = [{**results[0], q: list(results[0][q])}]
        bad[0][q][0] = bad[0][q][0][:-1] + (bad[0][q][0][-1] + 1,)
        assert workloads.blog_failures(want, bad), q


def check_lakehouse_verifier() -> None:
    events = gen.events_frame(5)
    import duckdb

    # answer every read from DuckDB itself, then break one row
    log = []
    con = duckdb.connect()
    con.register("src", events)
    con.execute("CREATE TABLE ev AS SELECT * FROM src")
    for s in gen.lakehouse_pass(5, 1):
        if s.kind in ("travel", "optimize"):
            continue
        if s.is_write:
            for q in gen.duckdb_sql(s, "ev"):
                con.execute(q)
            log.append((s, len(log) + 1, [(0, len(log) + 1)]))
        else:
            rows = [tuple(r) for r in con.execute(gen.duckdb_sql(s, "ev")[0]).fetchall()]
            log.append((s, None, rows))
    con.close()
    failures, _final = workloads.replay_failures(events, "ev", log)
    assert failures == [], failures
    n = next(n for n, (s, _v, rows) in enumerate(log) if not s.is_write and rows)
    s, v, rows = log[n]
    log[n] = (s, v, [tuple(x + 1 if isinstance(x, (int, float)) else x for x in rows[0])] + rows[1:])
    failures, _final = workloads.replay_failures(events, "ev", log)
    assert failures == [f"statement {n} ({s.kind}): wrong rows"], failures


def check_stream_verifier() -> None:
    import duckdb

    import __spark_entry__ as entry

    oracles = {k: entry.oracle_sql()[k] for k in workloads.StreamDrain.KEYS}
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events.parquet")
        gen.events_frame(5, gen.STREAM_EVENTS, gen.STREAM_USERS).to_parquet(path, index=False)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        res = {}
        for k, sql in oracles.items():
            cur = con.execute(sql)
            res[k] = ([c[0] for c in cur.description], cur.fetchall())
        con.close()
        assert workloads.oracle_failures(path, oracles, [res]) == []
        for k, (cols, rows) in res.items():
            wrong = [tuple(x + 1 if isinstance(x, int) else x for x in rows[0])] + rows[1:]
            short = rows[1:]
            for bad in (wrong, short):
                assert workloads.oracle_failures(path, oracles, [{**res, k: (cols, bad)}]), k


def check_signature_verifier() -> None:
    want = gen.srp_signatures(gen.vectors_frame(5))
    assert len(set(want.values())) > 1
    assert workloads.signature_failures(want, [dict(want), None]) == []
    bad = dict(want)
    bad[0] ^= 1
    assert workloads.signature_failures(want, [bad]), "flipped bit"
    short = dict(want)
    del short[1]
    assert workloads.signature_failures(want, [short]), "missing row"


def main() -> int:
    for check in (
        check_generators,
        check_summary_line,
        check_blog_verifier,
        check_lakehouse_verifier,
        check_stream_verifier,
        check_signature_verifier,
    ):
        check()
        print(f"ok {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
