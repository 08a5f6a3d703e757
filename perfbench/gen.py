"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy: the same seed always yields the
same inputs, and nothing touches Spark, so the generators and the
reference answers built from them can be checked without a session.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

# etl_blog input size: the reference's 10/100/500 users/posts/comments
# (1:10:50) scaled by 20, small enough that a pass fits several times
# into one run.
BLOG_USERS = 200
BLOG_POSTS = 10 * BLOG_USERS
BLOG_COMMENTS = 50 * BLOG_USERS

# lakehouse_mixed seed table: an sf0.1-sized `events` table.
EVENTS_ROWS = 100_000
EVENTS_USERS = 2_000
# stream_drain source: per-trigger fixed cost dominates at this size,
# which is the cost the workload is there to show.
STREAM_EVENTS = 4_000
STREAM_USERS = 60
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam"
).split()


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def blog_records(seed: int) -> dict[str, list[dict]]:
    """jsonplaceholder-shaped users/posts/comments.

    Traits the reference queries depend on: comment emails repeat, some
    match no user (ghost emails), the most frequent email count is tied
    between a user email and a ghost email, and the longest comment body
    is tied three ways.
    """
    rng = random.Random(seed)
    users = []
    for i in range(1, BLOG_USERS + 1):
        users.append(
            {
                "id": i,
                "name": f"User {i}",
                "username": f"user{i}",
                "email": f"user{i}@example.com",
                "phone": f"1-555-{rng.randint(1000, 9999)}",
                "website": f"user{i}.example.org",
                "address": {
                    "street": f"{rng.randint(1, 999)} {rng.choice(_WORDS)} St",
                    "suite": f"Apt. {rng.randint(1, 999)}",
                    "city": rng.choice(_WORDS).title(),
                    "zipcode": f"{rng.randint(10000, 99999)}",
                    "geo": {
                        "lat": f"{rng.uniform(-90, 90):.4f}",
                        "lng": f"{rng.uniform(-180, 180):.4f}",
                    },
                },
                "company": {
                    "name": f"{rng.choice(_WORDS).title()} Ltd {i % 97}",
                    "catchPhrase": _text(rng, 2, 4),
                    "bs": _text(rng, 2, 3),
                },
            }
        )
    posts = [
        {
            "userId": rng.randint(1, BLOG_USERS),
            "id": i,
            "title": _text(rng, 3, 8),
            "body": _text(rng, 10, 40),
        }
        for i in range(1, BLOG_POSTS + 1)
    ]
    n_ghosts = BLOG_USERS // 5
    comments = []
    for i in range(1, BLOG_COMMENTS + 1):
        if rng.random() < 0.1:
            email = f"ghost{rng.randint(1, n_ghosts)}@nowhere.test"
        else:
            email = f"user{rng.randint(1, BLOG_USERS)}@example.com"
        comments.append(
            {
                "postId": rng.randint(1, BLOG_POSTS),
                "id": i,
                "name": _text(rng, 2, 5),
                "email": email,
                "body": _text(rng, 5, 30),
            }
        )
    # tie the top email count between one user and one ghost, taking
    # comments from other emails only
    counts = _email_counts(comments)
    top = max(counts.values()) + 3
    targets = (f"user{rng.randint(1, BLOG_USERS)}@example.com", "ghost0@nowhere.test")
    pool = [c for c in comments if c["email"] not in targets]
    rng.shuffle(pool)
    for email in targets:
        need = top - counts.get(email, 0)
        for c in pool[:need]:
            c["email"] = email
        pool = pool[need:]
    # three-way tie on the longest body
    longest = max(len(c["body"]) for c in comments) + 7
    for c in rng.sample(comments, 3):
        c["body"] = "x" * longest
    return {"users": users, "posts": posts, "comments": comments}


def _email_counts(comments: list[dict]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for c in comments:
        counts[c["email"]] = counts.get(c["email"], 0) + 1
    return counts


def write_blog_inputs(seed: int, out_dir: str) -> dict[str, str]:
    """Write the three JSON arrays; return name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, recs in blog_records(seed).items():
        path = os.path.join(out_dir, f"{name}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(recs, fh)
        paths[name] = path
    return paths


def blog_expected(records: dict[str, list[dict]]) -> dict[str, list[tuple]]:
    """The three reference queries computed in plain Python.

    a: (user id or None, email, count) for every email with the top
       comment count, right-joined to users on email;
    b: (post_id, count) per post, ordered by post_id;
    c: (comment id, body length) for every longest body.
    """
    counts = _email_counts(records["comments"])
    top = max(counts.values())
    winners = {e for e, n in counts.items() if n == top}
    a = [(u["id"], u["email"], top) for u in records["users"] if u["email"] in winners]
    matched = {row[1] for row in a}
    a += [(None, e, top) for e in winners - matched]
    per_post: dict[int, int] = {}
    for c in records["comments"]:
        per_post[c["postId"]] = per_post.get(c["postId"], 0) + 1
    b = sorted(per_post.items())
    longest = max(len(c["body"]) for c in records["comments"])
    c = [(r["id"], longest) for r in records["comments"] if len(r["body"]) == longest]
    return {"a": a, "b": b, "c": c}


def events_frame(seed: int, n: int = EVENTS_ROWS, users: int = EVENTS_USERS) -> pd.DataFrame:
    """`events` rows in the testdata schema (ts is microsecond UTC)."""
    rng = np.random.default_rng(seed)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 30 * 86_400 * 10**6, n)), unit="us"
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.uniform(0, 200, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


# ---------------------------------------------------------------------------
# lakehouse_mixed statement script
# ---------------------------------------------------------------------------

#: One pass runs the SQL statements of the repository's own graded
#: lakehouse keys in `__spark_entry__.queries()`, each once, with the
#: key's event_id width:
#:
#:   sql_insert_alter        INSERT INTO ... VALUES, 3 new rows
#:   sql_update_delete       UPDATE of 450 ids (`event_id <= 449`) with its
#:                           SET clause; DELETE of 300 ids (600-899)
#:   sql_merge_into          MERGE of 312 matched ids (`<= 311`, value
#:                           doubled) and 2 new keys; then OPTIMIZE
#:   versioned_pruned_read   per-type aggregate over 500 ids (100-599)
#:   versioned_bloom_lookup  4 point lookups by event_id
#:   sql_time_travel         per-type aggregate `VERSION AS OF` an earlier
#:                           version
#:
#: The keys run on a sparse slice of sf-sized `events` (every 3rd to 11th
#: id); the table here is dense, so a width of w ids is w rows, at a
#: seeded offset. One of each per pass is how the keys run them, not a
#: measured production mix. OPTIMIZE closes the pass; the other kinds run
#: in an order that depends on the pass number alone.
WRITE_MIX = {"insert": 3, "update": 450, "delete": 300, "merge": 312}
READ_MIX = {"range": 500, "point": 4, "travel": 1}
MERGE_NEW = 2
WRITE_KINDS = frozenset(WRITE_MIX) | {"optimize"}

EVENT_COLS = "event_id, ts, user_id, event_type, value, props"


@dataclass(frozen=True)
class Stmt:
    kind: str
    #: kind-specific parameters: an event_id range, and `rows` as full
    #: event tuples
    lo: int = 0
    hi: int = 0
    rows: tuple = ()
    #: `travel`: which committed version to read, as a fraction of the
    #: versions committed so far (resolved at run time)
    frac: float = 0.0

    @property
    def is_write(self) -> bool:
        return self.kind in WRITE_KINDS


def _new_row(rng: random.Random, event_id: int) -> tuple:
    return (
        event_id,
        f"2024-02-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00:00",
        rng.randint(0, EVENTS_USERS - 1),
        rng.choice(EVENT_TYPES),
        rng.randint(0, 20_000) / 100,
        f'{{"k": {rng.randint(0, 99)}}}',
    )


def lakehouse_pass(seed: int, i: int) -> list[Stmt]:
    """Statements of pass ``i`` (pass 0 is the warm-up pass).

    New ids are unique per (pass, statement). Statement sizes are fixed
    and the order of statement kinds depends on ``i`` alone, so seeds
    differ in which rows a pass touches, not in how much work it asks
    for or in which order (a cold JVM's first MERGE costs twice what it
    costs after an UPDATE).
    """
    rng = random.Random(seed * 1_000_003 + i)
    next_id = 1_000_000 + i * 1_000

    def span(width: int) -> tuple[int, int]:
        lo = rng.randrange(0, EVENTS_ROWS - width)
        return lo, lo + width - 1

    rows = tuple(_new_row(rng, next_id + k) for k in range(WRITE_MIX["insert"]))
    next_id += WRITE_MIX["insert"]
    stmts = [
        Stmt("insert", rows=rows),
        Stmt("update", *span(WRITE_MIX["update"])),
        Stmt("delete", *span(WRITE_MIX["delete"])),
        Stmt(
            "merge",
            *span(WRITE_MIX["merge"]),
            rows=tuple(_new_row(rng, next_id + k) for k in range(MERGE_NEW)),
        ),
        Stmt("range", *span(READ_MIX["range"])),
    ]
    for _ in range(READ_MIX["point"]):
        k = rng.randrange(0, EVENTS_ROWS)
        stmts.append(Stmt("point", k, k))
    stmts += [Stmt("travel", frac=rng.random()) for _ in range(READ_MIX["travel"])]
    random.Random(i).shuffle(stmts)
    stmts.append(Stmt("optimize"))
    return stmts


def _values(rows: tuple) -> str:
    return ", ".join(
        f"({r[0]}, TIMESTAMP '{r[1]}', {r[2]}, '{r[3]}', {r[4]:.2f}, '{r[5]}')"
        for r in rows
    )


RANGE_SQL = (
    "SELECT event_type, count(*) AS n, sum(value) AS s FROM {t} "
    "WHERE event_id BETWEEN {lo} AND {hi} GROUP BY event_type"
)
POINT_SQL = (
    "SELECT event_id, user_id, event_type, value, props FROM {t} "
    "WHERE event_id = {lo}"
)
TOTALS_SQL = "SELECT event_type, count(*) AS n, sum(value) AS s FROM {t} GROUP BY event_type"
UPDATE_SQL = (
    "UPDATE {t} SET value = value * 1.5, event_type = concat(event_type, '_u') "
    "WHERE event_id BETWEEN {lo} AND {hi}"
)
DELETE_SQL = "DELETE FROM {t} WHERE event_id BETWEEN {lo} AND {hi}"
#: the MERGE source: the matched range read from the table itself with
#: its value doubled, plus the new rows
MERGE_SRC = (
    "SELECT event_id, ts, user_id, event_type, value * 2 AS value, props FROM {t} "
    "WHERE event_id BETWEEN {lo} AND {hi} "
    "UNION ALL SELECT * FROM (VALUES {values}) AS n({cols})"
)


def spark_sql(s: Stmt, table: str, version: int | None = None) -> str:
    """The statement as the engine's SQL surface takes it."""
    if s.kind == "insert":
        return f"INSERT INTO {table} VALUES {_values(s.rows)}"
    if s.kind == "delete":
        return DELETE_SQL.format(t=table, lo=s.lo, hi=s.hi)
    if s.kind == "update":
        return UPDATE_SQL.format(t=table, lo=s.lo, hi=s.hi)
    if s.kind == "merge":
        src = MERGE_SRC.format(t=table, lo=s.lo, hi=s.hi, values=_values(s.rows), cols=EVENT_COLS)
        return (
            f"MERGE INTO {table} AS t USING ({src}) AS s "
            "ON t.event_id = s.event_id "
            "WHEN MATCHED THEN UPDATE SET value = s.value "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    if s.kind == "optimize":
        return f"OPTIMIZE {table}"
    if s.kind == "range":
        return RANGE_SQL.format(t=table, lo=s.lo, hi=s.hi)
    if s.kind == "point":
        return POINT_SQL.format(t=table, lo=s.lo)
    if s.kind == "travel":
        return TOTALS_SQL.format(t=f"{table} VERSION AS OF {version}")
    raise ValueError(s.kind)


def duckdb_sql(s: Stmt, table: str) -> list[str]:
    """The statement replayed in DuckDB (MERGE as UPDATE + INSERT,
    OPTIMIZE as nothing; `travel` reads are answered from snapshots)."""
    if s.kind in ("insert", "delete", "update", "range", "point"):
        return [spark_sql(s, table)]
    if s.kind == "merge":
        return [
            f"UPDATE {table} SET value = value * 2 WHERE event_id BETWEEN {s.lo} AND {s.hi}",
            f"INSERT INTO {table} VALUES {_values(s.rows)}",
        ]
    if s.kind == "optimize":
        return []
    raise ValueError(s.kind)


# ---------------------------------------------------------------------------
# stream_drain's Python-worker operation
# ---------------------------------------------------------------------------

VECTORS = 4_000
VECTOR_DIM = 64
SRP_BITS = 16
SRP_SEED = 7


def vectors_frame(seed: int) -> pd.DataFrame:
    """``(vec_id, embedding)`` rows. Components are small integers, so
    every dot product is exact and its sign does not depend on the
    order a matmul sums in."""
    rng = np.random.default_rng(seed + 17)
    v = rng.integers(-9, 10, (VECTORS, VECTOR_DIM)).astype(np.float64)
    return pd.DataFrame({"vec_id": np.arange(VECTORS, dtype=np.int64), "embedding": list(v)})


def srp_signatures(frame: pd.DataFrame) -> dict[int, int]:
    """vec_id -> signed-random-projection signature, as
    `operators.similarity.srp_signature` defines it: bit j is set when
    v . h_j > 0, where h_j is the +-1 plane read from the low bits of
    sha256("<seed>:<j>:<block>") bytes."""
    import hashlib

    planes = []
    for j in range(SRP_BITS):
        buf = b"".join(
            hashlib.sha256(f"{SRP_SEED}:{j}:{b}".encode()).digest()
            for b in range((VECTOR_DIM + 31) // 32)
        )
        bits = np.frombuffer(buf[:VECTOR_DIM], dtype=np.uint8) & 1
        planes.append(np.where(bits == 1, 1.0, -1.0))
    v = np.stack(frame["embedding"].to_numpy())
    sig = ((v @ np.stack(planes).T) > 0) @ (1 << np.arange(SRP_BITS, dtype=np.int64))
    return dict(zip(frame["vec_id"].tolist(), sig.tolist()))


def shuffled(items, seed: int, i: int) -> list:
    """``items`` in the order pass ``i`` of seed ``seed`` runs them: the
    cold pass 0 keeps the given order, so its cold costs fall on the
    same items for every seed; later passes shuffle by seed, which
    spreads host stalls over the items instead of pinning them on
    neighbours."""
    out = list(items)
    if i > 0:
        random.Random(seed * 1_000_003 + i).shuffle(out)
    return out
