"""SQL DML statements over registered :class:`VersionedTable`s
(VERDICT r12 #2): ``MERGE INTO`` / ``UPDATE`` / ``DELETE FROM`` /
``OPTIMIZE`` / ``VACUUM`` / ``RESTORE`` as plain SQL text, routed into
the existing manifest operations. The reference's own query contract
is SQL-as-text (``reference/sql/blog_post_queries.sql:1-38``); this is
its lakehouse analog — the first thing a SQL-native user types at a
Delta-style table is ``MERGE INTO``, not a Python method call.

Entry point: :func:`timetravel.sql` detects a DML leading keyword and
dispatches here; tables resolve through the same registry as the
time-travel clauses, so ONE ``register_table`` call makes a table both
queryable and writable from SQL::

    tt.register_table(spark, "orders_v", path)
    tt.sql(spark, "UPDATE orders_v SET o_comment = 'x' WHERE o_orderkey = 7")
    tt.sql(spark, '''
        MERGE INTO orders_v AS t USING updates AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN NOT MATCHED THEN INSERT *
    ''')
    tt.sql(spark, "OPTIMIZE orders_v ZORDER BY (o_custkey)")
    tt.sql(spark, "VACUUM orders_v RETAIN 2 VERSIONS DRY RUN")

Physical strategy for MERGE/UPDATE/DELETE (copy-on-write vs
merge-on-read deletion vectors) resolves like Delta's table-level
tuning, most-specific-wins: the ``dml_mode`` argument to
:func:`timetravel.sql`, else the TABLE PROPERTY ``smetl.dml.mode``
(set via ``ALTER TABLE t SET TBLPROPERTIES ('smetl.dml.mode'='mor')``
— Delta's DVs-are-a-table-property contract), else COW — SQL text
stays strategy-neutral.

ONE SQL front end: every statement Spark's own parser can read goes
through one ``sessionState().sqlParser().parsePlan`` call, and a small
plan reader (:class:`_Statement`) takes what the manifest op needs
from the unresolved tree. Table names, aliases, column names and
clause kinds come from the plan nodes; predicate, assignment,
subquery and generated-column text is sliced out of the original
statement by each node's origin span (``origin.startIndex`` /
``stopIndex``) — the same SQL text the manifest ops evaluate through
Catalyst. String literals, comments, quoted identifiers and nested
parentheses are therefore Spark's lexer's business, never this
module's. A statement Spark cannot parse refuses with a ``ValueError``
naming the statement kind and carrying Spark's own ``PARSE_SYNTAX_ERROR
... (line 1, pos N)`` text; a form Spark parses but this engine does
not execute refuses with the supported forms.

Parsed by Spark (case-insensitive keywords; ``<expr>``/``<pred>`` are
opaque Catalyst SQL)::

    INSERT INTO|OVERWRITE [TABLE] <table> [(cols)] SELECT ...|VALUES ...
    INSERT INTO <table> REPLACE WHERE <pred> SELECT ...|VALUES ...
    UPDATE <table> SET col = <expr> [, ...] [WHERE <pred>]
    DELETE FROM <table> [WHERE <pred>]
    MERGE INTO <table> [[AS] <talias>] USING (<subquery>)|<view>
        [[AS] <salias>] ON t.k = s.k [AND ...]
        [WHEN MATCHED [AND <pred>] THEN DELETE]
        [WHEN MATCHED [AND <pred>] THEN UPDATE SET col = <expr> [, ...]
            | UPDATE SET *]
        [WHEN NOT MATCHED [AND <pred>] THEN INSERT * | INSERT (cols)
            VALUES (exprs)]
        [WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE]
        [WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN UPDATE SET
            col = <expr> [, ...]]
    CREATE [OR REPLACE] TABLE <name> (col type [NOT NULL]
        [GENERATED ALWAYS AS (<expr>)
         | GENERATED ALWAYS AS IDENTITY
           [(START WITH <s> INCREMENT BY <i>)]] [, ...]) USING versioned
        LOCATION '<path>' [PARTITIONED BY (col [, ...])]
        [TBLPROPERTIES ('k'='v' [, ...])]
    CREATE [OR REPLACE] TABLE <name> USING versioned LOCATION '<path>'
        [PARTITIONED BY (...)] [TBLPROPERTIES (...)] AS <query>
    ALTER TABLE <table> SET TBLPROPERTIES ('k'='v' [, ...])
    ALTER TABLE <table> UNSET TBLPROPERTIES ('k' [, ...])
    ALTER TABLE <table> ADD COLUMN <col> <type>
    ALTER TABLE <table> RENAME COLUMN <a> TO <b>
    ALTER TABLE <table> DROP COLUMN <col>
    ALTER TABLE <table> ALTER COLUMN <col> TYPE <wider-type>
    ALTER TABLE <table> ADD CONSTRAINT <n> CHECK (<expr>)
    ALTER TABLE <table> DROP CONSTRAINT <n>
    SHOW TBLPROPERTIES <table>
    SHOW CREATE TABLE <table>
    DROP TABLE [IF EXISTS] <table>
    ANALYZE TABLE <table> COMPUTE STATISTICS [FOR COLUMNS c1 [, ...]]

Refused by Spark 4.1's parser, so each keeps one small regex over the
statement (a clause expression inside one, like OPTIMIZE's WHERE,
still goes through Spark's expression parser)::

    OPTIMIZE <table> [WHERE col BETWEEN lo AND hi [AND ...]]
        [ZORDER BY (col [, ...])]
    VACUUM <table> [RETAIN <n> VERSIONS] [MIN AGE <sec> SECONDS]
        [DRY RUN]
    RESTORE [TABLE] <table> TO VERSION AS OF <n>
        | TO TIMESTAMP AS OF '<ts>'
    DESCRIBE HISTORY <table>     (Spark reads it as DESCRIBE <column>)
    DESCRIBE DETAIL <table>      (likewise)
    COPY INTO <table> FROM '<path>' [FILEFORMAT = <fmt>]
        [PATTERN = '<glob>']
    CREATE [OR REPLACE] TABLE <name> SHALLOW|DEEP CLONE <src>
        [VERSION AS OF <n>] LOCATION '<path>'
    ALTER TABLE <table> SET PARTITIONED BY (col [, ...])
    ALTER TABLE <table> CLEAR PARTITIONING
    ANALYZE TABLE <table> COMPUTE STATISTICS [FOR COLUMNS c1 [, ...]]
        BLOOM (c1 [, ...])

The leading-keyword dispatch (``_DML_HEAD``) is a regex as well, so a
SELECT never reaches the JVM parser.

``ALTER TABLE`` / ``INSERT`` / ``SHOW`` / ``DROP TABLE`` / ``ANALYZE``
on a name that is NOT a registered VersionedTable pass through to
Catalyst untouched (valid Spark SQL for catalog tables); DML on an
unregistered name lists what IS registered.

Every WHEN clause takes an optional ``AND <pred>`` (Delta's full
clause matrix — r13, backed by the manifest merge's clause-condition
parameters). WHEN clause pairs of the same kind (MATCHED update +
delete, BY SOURCE update + delete) are FIRST-CLAUSE-WINS in statement
order, Delta semantics (r14, ADVICE r13 #1): the reader encodes the
statement order into the dispatched predicates; Spark's parser already
refuses a first clause without its ``AND`` condition (the second would
be unreachable). Target/source alias qualifiers are rewritten to the
``t.``/``s.`` names the manifest merge evaluates clauses under on the
PARSED attribute references, by their origin spans — an alias-like
token inside a string literal is never touched. A non-equi ON
condition refuses (merge keys must be shared equi-join columns).

Result frames (stable schemas, one row):
- MERGE/UPDATE/DELETE/RESTORE/OPTIMIZE → ``(op string, version bigint)``
  with the table's new head version (unchanged head = no-op commit
  skipped, same contract as the Python API).
- VACUUM → ``(op string, removed bigint)``; with DRY RUN →
  ``(path string)``, one row per directory a real run would remove
  (Delta's dry-run shape).

Scale note: every statement here is a THIN dispatch — the heavy
lifting (find-scan pruning, deletion vectors, CAS commit rebase,
Z-order layout) is the manifest layer's, already probed at 10×; this
module adds one driver-side parse per statement and nothing on
executors.
"""

from __future__ import annotations

import re

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from social_media_etl_spark.operators import timetravel as _tt
from social_media_etl_spark.operators.manifest import VersionedTable

__all__ = ["is_dml", "run_dml"]

_NAME = r"[A-Za-z_][A-Za-z0-9_]*"
# DESCRIBE dispatches only with HISTORY, CREATE only with SHALLOW
# CLONE — plain 'DESCRIBE <view>' / 'CREATE TABLE/VIEW ...' are valid
# Spark SQL and must keep flowing through Catalyst untouched
_DML_HEAD = re.compile(
    r"^\s*(MERGE|UPDATE|DELETE|OPTIMIZE|VACUUM|RESTORE|COPY"
    r"|DESCRIBE(?=\s+(?:HISTORY|DETAIL)\b)"
    r"|CREATE(?=\s+(?:OR\s+REPLACE\s+)?TABLE\s+[A-Za-z_][A-Za-z0-9_]*"
    r"\s+(?:SHALLOW|DEEP)\s+CLONE\b)"
    r"|ALTER(?=\s+TABLE\b)|INSERT(?=\s+(?:INTO|OVERWRITE)\b)"
    r"|DROP(?=\s+TABLE\b)"
    r"|ANALYZE(?=\s+TABLE\b)"
    r"|SHOW(?=\s+(?:TBLPROPERTIES|CREATE\s+TABLE)\b))\b",
    re.IGNORECASE,
)


_CREATE_TABLE_HEAD = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\b", re.IGNORECASE
)
_USING_VERSIONED = re.compile(r"\bUSING\s+versioned\b", re.IGNORECASE)


def is_dml(query: str, masked: str | None = None) -> bool:
    """True when the statement's leading keyword is one this module
    executes — the dispatch test :func:`timetravel.sql` uses. CREATE
    TABLE dispatches here only for the two versioned forms (SHALLOW
    CLONE, or ``USING versioned`` outside string literals — searched
    on ``masked``, the literal-masked twin of ``query`` the caller may
    already hold); every other CREATE is valid Spark SQL and flows
    through Catalyst untouched."""
    if _DML_HEAD.match(query) is not None:
        return True
    if _CREATE_TABLE_HEAD.match(query) is None:
        return False
    if masked is None:
        masked = _tt.mask_literals(query)
    return _USING_VERSIONED.search(masked) is not None


def _resolve_table(
    spark: SparkSession, tables: dict[str, str], name: str, stmt: str
) -> VersionedTable:
    path = tables.get(name)
    if path is None:
        raise ValueError(
            f"{stmt}: table {name!r} is not a registered VersionedTable "
            f"— registered: {sorted(tables) or '(none)'}; call "
            "register_table(spark, name, path) first (SQL DML only "
            "targets the transactional layer; plain views have no "
            "write path)"
        )
    return VersionedTable(spark, path)


def _refresh_head(spark: SparkSession, name: str, t: VersionedTable) -> None:
    """Re-register the head temp view after a write so plain
    ``spark.sql`` readers (which bypass the per-call refresh in
    :func:`timetravel.sql`) see the new version immediately.
    Version-memoized: a statement that did not advance the head (a
    no-op DML, a lost gate) skips the plan rebuild entirely."""
    _tt.ensure_head_view(spark, name, t)


def _resolve_mode(dml_mode: str | None, t: VersionedTable) -> str:
    """COW/MoR strategy, most-specific-wins: the per-call ``dml_mode``
    argument, then the table property ``smetl.dml.mode`` (Delta's
    strategy-is-a-table-property contract — a high-churn table opts
    into deletion vectors once, every SQL writer inherits it), then
    COW."""
    mode = dml_mode or t.properties().get("smetl.dml.mode") or "cow"
    if mode not in ("cow", "mor"):
        raise ValueError(
            f"SQL DML: unknown mode {mode!r} (from the dml_mode "
            "argument or the smetl.dml.mode table property) — expected "
            "'cow' or 'mor'"
        )
    return mode


def _one_row(spark: SparkSession, op: str, version: int) -> DataFrame:
    # one py4j round trip, no Python→JVM data conversion: the
    # createDataFrame path cost ~25 ms of RDD/schema setup per DML
    # statement (r16). ``op`` is an engine-controlled literal
    # ('create', 'insert', …), never user text.
    return spark.sql(
        f"SELECT '{op}' AS op, CAST({int(version)} AS BIGINT) AS version"
    )


# -- the plan reader ---------------------------------------------------------

#: leaf plan nodes that name the table a statement targets
_RELATIONS = frozenset(
    {
        "UnresolvedRelation",
        "UnresolvedTable",
        "UnresolvedTableOrView",
        "UnresolvedIdentifier",
    }
)
#: Spark reserves its catalog's property keys ('owner', 'location',
#: 'comment', …) and refuses them in TBLPROPERTIES; a VersionedTable's
#: property map is free-form, so such a statement re-parses with each
#: reserved key's literal disguised (same length: every origin span
#: still indexes the original text) and the reader undoes the disguise
_RESERVED_PROPERTY = "UNSUPPORTED_FEATURE.SET_TABLE_PROPERTY"
_DISGUISE = "\ue000"

_ALTER_FORMS = (
    "supported forms on a registered VersionedTable are ADD COLUMN "
    "<c> <type> / RENAME COLUMN <a> TO <b> / DROP COLUMN <c> / ALTER "
    "COLUMN <c> TYPE <type> / ADD CONSTRAINT <n> CHECK (<expr>) / DROP "
    "CONSTRAINT <n> / SET PARTITIONED BY (col, ...) / CLEAR "
    "PARTITIONING / SET TBLPROPERTIES ('k'='v', ...) / UNSET "
    "TBLPROPERTIES ('k', ...)"
)


def _seq(s) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _span(node) -> tuple[int, int]:
    """``[start, stop)`` of ``node``'s origin in the parsed text."""
    ctx = node.origin().context()
    return ctx.startIndex(), ctx.stopIndex() + 1


class _Statement:
    """One statement as Spark's parser read it: the unresolved logical
    plan, the original text its origin spans index, and the statement
    kind every refusal names."""

    def __init__(self, spark: SparkSession, query: str, kind: str):
        self.spark, self.query, self.kind = spark, query, kind
        parser = spark._jsparkSession.sessionState().sqlParser()
        self.undo: dict[str, str] = {}
        text = query
        while True:
            try:
                self.plan = parser.parsePlan(text)
                break
            except ParseException as exc:
                key = (exc.getMessageParameters() or {}).get("property")
                if (
                    exc.getCondition() != _RESERVED_PROPERTY
                    or not key
                    or key in self.undo.values()
                ):
                    msg = f"{kind}: {str(exc).strip()}"
                    if kind == "ALTER TABLE":
                        msg += f"\n{_ALTER_FORMS}"
                    raise ValueError(msg) from None
            disguised = _DISGUISE + key[1:]
            self.undo[disguised] = key
            text = _tt.LITERAL.sub(
                lambda m: m[0][0] + disguised + m[0][-1]
                if m[0][1:-1] == key
                else m[0],
                text,
            )
        self.node = self.plan.nodeName()
        self.span = _span(self.plan)

    def restore(self, s: str) -> str:
        """``s`` (a string Spark read out of the statement) with any
        disguised reserved property key turned back into the key."""
        for disguised, key in self.undo.items():
            s = s.replace(disguised, key)
        return s

    def properties(self, m) -> dict[str, str]:
        """A property map (Scala ``Map[String, String]``) read out of the
        statement."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        return {
            self.restore(k): self.restore(v)
            for k, v in dict(conv.asJava(m)).items()
        }

    def target(self) -> tuple[str, str | None]:
        """``(table name, alias)`` of the relation the statement
        targets: the first relation leaf down the plan's first
        children, the alias of any ``SubqueryAlias`` on the way."""
        node = (
            self.plan.table()
            if self.node in ("InsertIntoStatement", "OverwriteByExpression")
            else self.plan
        )
        alias = None
        kind = node.nodeName()
        while kind not in _RELATIONS:
            if kind == "SubqueryAlias":
                alias = node.alias()
            node = node.children().head()
            kind = node.nodeName()
        parts = (
            node.nameParts()
            if kind == "UnresolvedIdentifier"
            else node.multipartIdentifier()
        )
        return ".".join(_seq(parts)), alias

    def subquery(self, plan) -> DataFrame:
        """The DataFrame of a query inside the statement (a MERGE
        source, a CTAS body), run from its own text: Spark gives every
        query its own origin span."""
        span = _span(plan)
        if span == self.span:
            raise ValueError(
                f"{self.kind}: cannot locate the text of the query "
                f"{plan.nodeName()} in the statement"
            )
        return self.spark.sql(self.query[span[0] : span[1]])

    def text(self, node, *outer, aliases: dict[str, str] | None = None) -> str:
        """Source text of the expression ``node``: the union of its
        subtree's origin spans (a predicate such as IN or BETWEEN spans
        only from its keyword on), sliced from the original
        statement. A node whose span equals an enclosing one's — the
        statement, a WHEN clause, a SET list (``outer``), or its parent
        — was built without an origin of its own and contributes only
        through its children.

        ``aliases`` maps a lowercased qualifier to the name the
        manifest merge evaluates it under (``t``/``s``): each attribute
        reference so qualified is re-qualified in place, on the parsed
        reference itself — text inside a literal is never touched."""
        edits: list[tuple[int, int, str]] = []

        def walk(n, enclosing: frozenset) -> tuple[int | None, int | None]:
            span = _span(n)
            own = span not in enclosing and span[0] >= 0
            lo, hi = span if own else (None, None)
            if own and aliases and n.nodeName() == "UnresolvedAttribute":
                parts = _seq(n.nameParts())
                prefix = aliases.get(parts[0].lower())
                if len(parts) > 1 and prefix not in (None, parts[0]):
                    head = parts[0]
                    if not self.query.startswith(head, lo):
                        head = "`" + head.replace("`", "``") + "`"
                    edits.append((lo, lo + len(head), prefix))
            inner = enclosing | {span}
            for child in _seq(n.children()):
                clo, chi = walk(child, inner)
                if clo is not None:
                    lo = clo if lo is None else min(lo, clo)
                    hi = chi if hi is None else max(hi, chi)
            return lo, hi

        lo, hi = walk(node, frozenset({self.span, *map(_span, outer)}))
        if lo is None:
            raise ValueError(
                f"{self.kind}: cannot locate the text of {node.toString()!r} "
                "in the statement"
            )
        out = self.query[lo:hi]
        for a, b, prefix in sorted(edits, reverse=True):
            out = out[: a - lo] + prefix + out[b - lo :]
        return out

    def assignments(
        self,
        owner,
        qualifiers: set[str],
        aliases: dict[str, str] | None = None,
    ) -> dict[str, str]:
        """``SET``/``VALUES`` pairs of ``owner`` (an UPDATE plan or a
        MERGE action) → {column: value text}. A key qualified by the
        target (``t.col``) is stripped to the bare column — the
        manifest API keys assignments by column name."""
        out: dict[str, str] = {}
        for a in _seq(owner.assignments()):
            parts = _seq(a.key().nameParts())
            if len(parts) == 2 and parts[0].lower() in qualifiers:
                parts = parts[1:]
            if len(parts) != 1:
                raise ValueError(
                    f"{self.kind}: assignment target {'.'.join(parts)!r} "
                    "is not a column of the target table"
                )
            if parts[0] in out:
                raise ValueError(
                    f"{self.kind}: column {parts[0]!r} assigned twice"
                )
            out[parts[0]] = self.text(a.value(), owner, a, aliases=aliases)
        return out


# -- UPDATE / DELETE ---------------------------------------------------------


def _row_level_target(stmt: _Statement, tables, dml_mode):
    name, alias = stmt.target()
    if alias is not None:
        raise ValueError(
            f"{stmt.kind}: table alias {alias!r} is not supported — "
            "reference the table's columns by bare name"
        )
    t = _resolve_table(stmt.spark, tables, name, stmt.kind)
    return name, t, _resolve_mode(dml_mode, t)


def _run_update(stmt: _Statement, tables, dml_mode) -> DataFrame:
    name, t, mode = _row_level_target(stmt, tables, dml_mode)
    assigns = stmt.assignments(stmt.plan, {name.lower(), "t"})
    cond = _opt(stmt.plan.condition())
    pred = stmt.text(cond) if cond is not None else "true"
    v = t.update(pred, assigns, mode=mode)
    _refresh_head(stmt.spark, name, t)
    return _one_row(stmt.spark, "update", v)


def _run_delete(stmt: _Statement, tables, dml_mode) -> DataFrame:
    name, t, mode = _row_level_target(stmt, tables, dml_mode)
    cond = stmt.plan.condition()
    # no WHERE: the parser supplies a TRUE literal carrying the
    # statement's own span (a bare EXISTS carries it too, so the node
    # kind is checked as well)
    no_where = cond.nodeName() == "Literal" and _span(cond) == stmt.span
    pred = "true" if no_where else stmt.text(cond)
    v = t.delete(pred, mode=mode)
    _refresh_head(stmt.spark, name, t)
    return _one_row(stmt.spark, "delete", v)


# -- MERGE -------------------------------------------------------------------


def _merge_keys(stmt: _Statement, cond, talias: str, salias: str) -> list[str]:
    """A conjunction of shared-column equi-predicates → key list. The
    manifest merge joins on NAMED columns present in both sides, so
    every conjunct must be ``<talias>.k = <salias>.k`` (either order)
    with the SAME column name — anything else refuses with the reason
    rather than silently joining wrong."""
    if cond.nodeName() == "And":
        return _merge_keys(stmt, cond.left(), talias, salias) + _merge_keys(
            stmt, cond.right(), talias, salias
        )
    sides = [
        _seq(e.nameParts())
        for e in _seq(cond.children())
        if e.nodeName() == "UnresolvedAttribute"
    ]
    if cond.nodeName() != "EqualTo" or [len(p) for p in sides] != [2, 2]:
        raise ValueError(
            "MERGE: ON condition must be a conjunction of "
            "'t.key = s.key' equi-predicates over shared column "
            f"names (manifest merge keys are equi-join columns), "
            f"got conjunct {stmt.text(cond)!r}"
        )
    (a_al, a_col), (b_al, b_col) = sides
    if {a_al.lower(), b_al.lower()} != {talias.lower(), salias.lower()}:
        raise ValueError(
            f"MERGE: ON conjunct {stmt.text(cond)!r} must reference "
            f"both aliases ({talias!r} and {salias!r}) exactly once"
        )
    if a_col != b_col:
        raise ValueError(
            f"MERGE: ON conjunct {stmt.text(cond)!r} equates columns "
            "with different names — manifest merge keys are SHARED "
            "column names; alias the source column first"
        )
    return [a_col]


def _run_merge(stmt: _Statement, tables, dml_mode) -> DataFrame:
    spark, plan = stmt.spark, stmt.plan
    name, talias = stmt.target()
    talias = talias or name
    t = _resolve_table(spark, tables, name, "MERGE")
    mode = _resolve_mode(dml_mode, t)
    src = plan.sourceTable()
    salias = None
    if src.nodeName() == "SubqueryAlias":
        salias = src.alias()
        src = src.child()
    if src.nodeName() == "UnresolvedRelation":
        src_name = ".".join(_seq(src.multipartIdentifier()))
        # a registered VersionedTable reads its HEAD; anything else
        # resolves through the session catalog (temp views, catalog
        # tables) — same lookup order a reader would expect
        if src_name in tables:
            source_df = VersionedTable(spark, tables[src_name]).read()
        else:
            source_df = spark.table(src_name)
        salias = salias or src_name
    else:
        source_df = stmt.subquery(src)
        salias = salias or "s"
    if salias.lower() == talias.lower():
        raise ValueError(
            f"MERGE: source and target share the alias {salias!r} — "
            "clause references would be ambiguous"
        )
    keys = _merge_keys(stmt, plan.mergeCondition(), talias, salias)
    aliases = {talias.lower(): "t", salias.lower(): "s"}
    kw = dict(
        when_matched_update=None,
        when_matched_delete=None,
        when_not_matched_insert=None,
        when_not_matched_by_source_update=None,
        when_not_matched_by_source_delete=None,
        when_matched_update_condition=None,
        when_not_matched_insert_condition=None,
        when_not_matched_by_source_update_condition=None,
    )
    # statement position of each clause slot — Delta's WHEN clauses
    # are first-clause-wins in STATEMENT order, so the order must
    # survive into the dispatch (ADVICE r13 #1)
    order: dict[str, int] = {}

    def _set_once(slot: str, value, n: int) -> None:
        if kw[slot] is not None:
            raise ValueError(
                f"MERGE: duplicate clause for {slot} — one of each "
                "clause kind per statement"
            )
        kw[slot] = value
        order[slot] = n

    clauses = (
        [("when_matched", a) for a in _seq(plan.matchedActions())]
        + [("when_not_matched", a) for a in _seq(plan.notMatchedActions())]
        + [
            ("when_not_matched_by_source", a)
            for a in _seq(plan.notMatchedBySourceActions())
        ]
    )
    for n, (kind, action) in enumerate(clauses):
        act = action.nodeName()
        c = _opt(action.condition())
        cond = stmt.text(c, action, aliases=aliases) if c is not None else None
        if act == "DeleteAction":
            _set_once(f"{kind}_delete", cond or "true", n)
            continue
        slot = f"{kind}_{'insert' if act.startswith('Insert') else 'update'}"
        if cond is not None:
            _set_once(f"{slot}_condition", cond, n)
        if act == "InsertStarAction":
            value = "*"
        elif act == "UpdateStarAction":
            # Delta's UPDATE SET *: every non-key, non-generated target
            # column takes s.<col>. A target column ABSENT from the
            # source refuses (Delta errors here too without
            # autoMerge — silently keeping the old value would not be
            # SET *)
            gen = set(t.generated_columns())
            expand = [
                c for c in t.read().columns if c not in keys and c not in gen
            ]
            missing = [c for c in expand if c not in source_df.columns]
            if missing:
                raise ValueError(
                    "MERGE: UPDATE SET * needs every target "
                    f"column in the source; missing {missing} "
                    "— use an explicit SET list (or add the "
                    "columns to the source)"
                )
            if not expand:
                raise ValueError(
                    "MERGE: UPDATE SET * expands to no "
                    "columns — every target column is a merge "
                    "key or GENERATED"
                )
            value = {c: f"s.{c}" for c in expand}
        else:
            value = stmt.assignments(action, {talias.lower(), "t"}, aliases)
        _set_once(slot, value, n)

    # First-clause-wins in statement order (Delta semantics, ADVICE
    # r13 #1). The manifest merge always evaluates the delete clause
    # first, which already is the statement's order when the DELETE is
    # written first. With the UPDATE first, the delete predicate is
    # ANDed with NOT(coalesce(<update condition>, false)) so a row the
    # update clause takes never reaches the delete. Spark's parser
    # refuses a first clause without its AND condition (Delta's
    # only-the-last-may-be-unconditional rule), so that condition
    # exists.
    for kind in ("when_matched", "when_not_matched_by_source"):
        upd, dele = f"{kind}_update", f"{kind}_delete"
        if None not in (kw[upd], kw[dele]) and order[upd] < order[dele]:
            kw[dele] = (
                f"({kw[dele]}) AND NOT coalesce(({kw[upd + '_condition']}), "
                "false)"
            )
    v = t.merge(source_df, on=keys, mode=mode, **kw)
    _refresh_head(spark, name, t)
    return _one_row(spark, "merge", v)


# -- INSERT INTO / OVERWRITE / REPLACE WHERE ---------------------------------


def _run_insert(stmt: _Statement, tables) -> DataFrame:
    spark, plan = stmt.spark, stmt.plan
    name, _ = stmt.target()
    if name not in tables:
        # unregistered target: INSERT INTO is valid Spark SQL for
        # catalog tables — Catalyst owns it
        return spark.sql(stmt.query)
    rw_pred = None
    cols = None
    if stmt.node == "OverwriteByExpression":
        # Delta's INSERT INTO ... REPLACE WHERE (r15)
        rw_pred = stmt.text(plan.deleteExpr())
        op = "replace_where"
    else:
        if (
            not plan.partitionSpec().isEmpty()
            or plan.ifPartitionNotExists()
            or plan.byName()
        ):
            raise ValueError(
                "INSERT: PARTITION, IF NOT EXISTS and BY NAME clauses "
                "are not supported on a VersionedTable — name the "
                "columns in a list instead"
            )
        cols = _seq(plan.userSpecifiedCols()) or None
        op = "insert_overwrite" if plan.overwrite() else "insert"
    t = _resolve_table(spark, tables, name, "INSERT")
    # the query is everything after the statement header (INSERT INTO
    # <t> [(cols)] [REPLACE WHERE <pred>])
    src = spark.sql(stmt.query[stmt.span[1] :])
    schema = t.read().schema
    gen = dict(t.generated_columns())
    # identity columns behave like generated for arity/refusal:
    # the engine allocates them, an INSERT may never supply them
    gen.update({c: "IDENTITY" for c in t.identity_columns()})
    if cols is not None:
        bad = [c for c in cols if c not in schema.fieldNames()]
        if bad:
            raise ValueError(
                f"INSERT: column(s) {bad} not in table "
                f"{schema.fieldNames()}"
            )
        named_gen = set(cols) & set(gen)
        if named_gen:
            raise ValueError(
                f"INSERT: column(s) {sorted(named_gen)} are "
                "GENERATED — omit them; they are computed"
            )
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT: query produces {len(src.columns)} "
                f"column(s) but the list names {len(cols)}"
            )
    else:
        # positional against the full schema, or — on a table
        # with generated columns — against the non-generated
        # subset (the only arity an insert can sensibly supply)
        full = schema.fieldNames()
        nongen = [c for c in full if c not in gen]
        if len(src.columns) == len(full):
            cols = full
        elif len(src.columns) == len(nongen):
            cols = nongen
        else:
            raise ValueError(
                f"INSERT: query produces {len(src.columns)} "
                f"column(s); table {name!r} takes {len(full)}"
                + (
                    f" (or {len(nongen)} omitting the generated "
                    "columns)"
                    if gen
                    else ""
                )
            )
    types = {f.name: f.dataType for f in schema.fields}

    def _strict(src_col: str, target: str) -> str:
        # positional mapping + strict cast: a value that does not
        # fit the column type raises in-plan, never a silent NULL
        # (the engine-wide DML contract). SQL text, so the
        # selectExpr below parses the whole projection in one call
        # (r16: the Column-DSL version cost ~12 py4j round trips
        # per column)
        return VersionedTable._strict_cast_sql(
            f"`{src_col}`",
            target,
            types[target].simpleString(),
            "INSERT: value for",
        ) + f" AS `{target}`"

    # positional rename first: a VALUES/SELECT output column can
    # be named like "CAST(9.0 AS DOUBLE)", which F.col would parse
    # as a dotted path — synthetic names sidestep that entirely
    src = src.toDF(*[f"__ins_c{i}" for i in range(len(src.columns))])
    aligned = src.selectExpr(
        *[_strict(s, c) for s, c in zip(src.columns, cols)]
    )
    # unlisted non-generated columns NULL-fill; generated columns
    # are computed by the write path itself
    for fname in schema.fieldNames():
        if fname not in cols and fname not in gen:
            aligned = aligned.withColumn(
                fname, F.lit(None).cast(types[fname])
            )
    if rw_pred is not None:
        v = t.overwrite_where(aligned, rw_pred)
    elif op == "insert":
        v = t.append(aligned)
    else:
        v = t.overwrite(aligned)
    _refresh_head(spark, name, t)
    return _one_row(spark, op, v)


# -- CREATE TABLE ... USING versioned (r14 — VERDICT r13 #2) ---------------


def _column_defs(
    stmt: _Statement,
) -> tuple[list, dict[str, str], dict[str, str], dict[str, dict]]:
    """The parsed column list → (ordered [(name, DataType,
    gen_expr|None)], {gen_col: expr}, {constraint_name: check_expr},
    {identity_col: {"start", "step"}}). ``NOT NULL`` records as the
    CHECK constraint ``<col>_not_null`` (``<col> IS NOT NULL`` — NULL
    rows evaluate FALSE and refuse, the engine's constraint
    semantics), enforced by every data-adding commit like any other
    table constraint."""
    defs = []
    gen: dict[str, str] = {}
    constraints: dict[str, str] = {}
    identity: dict[str, dict] = {}
    for c in _seq(stmt.plan.columns()):
        cname = c.name()
        dtype = T._parse_datatype_json_string(c.dataType().json())
        if c.defaultValue().isDefined():
            raise ValueError(
                f"CREATE TABLE: column {cname!r} has a DEFAULT value — "
                "not supported; use GENERATED ALWAYS AS (<expr>)"
            )
        if any(cname == d[0] for d in defs):
            raise ValueError(
                f"CREATE TABLE: duplicate column name {cname!r}"
            )
        gexpr = _opt(c.generationExpression())
        if gexpr is not None:
            gexpr = stmt.restore(gexpr)
            gen[cname] = gexpr
        defs.append((cname, dtype, gexpr))
        spec = _opt(c.identityColumnSpec())
        if spec is not None:
            # Delta's GENERATED ALWAYS AS IDENTITY: engine-owned
            # monotonic BIGINT sequence; defaults START WITH 1
            # INCREMENT BY 1
            if spec.isAllowExplicitInsert():
                raise ValueError(
                    f"CREATE TABLE: identity column {cname!r} must be "
                    "GENERATED ALWAYS — the engine allocates every "
                    "value (BY DEFAULT is not supported)"
                )
            if dtype.simpleString() != "bigint":
                raise ValueError(
                    f"CREATE TABLE: identity column {cname!r} must be "
                    f"BIGINT, got {dtype.simpleString()}"
                )
            identity[cname] = {
                "start": int(spec.getStart()),
                "step": int(spec.getStep()),
            }
        if not c.nullable():
            constraints[f"{cname}_not_null"] = f"{cname} IS NOT NULL"
    return defs, gen, constraints, identity


def _run_create_versioned(stmt: _Statement, tables) -> DataFrame:
    """``CREATE TABLE <n> (cols) USING versioned LOCATION '<path>'
    [PARTITIONED BY (...)] [TBLPROPERTIES (...)]`` — an EMPTY
    VersionedTable with the declared schema — or the CTAS twin
    (``... USING versioned LOCATION '<path>' [...] AS SELECT ...``)
    seeded from the query. Closes the last Python-only lifecycle step
    (VERDICT r13 #2): a SQL-native user's first statement is CREATE
    TABLE. Refusal-first like the rest of the module: duplicate
    registered names, a missing LOCATION, partition columns outside
    the schema, and generated-column type disagreements all name the
    problem; a column list together with AS SELECT is Spark's own
    parse refusal."""
    spark, plan = stmt.spark, stmt.plan
    spec = plan.tableSpec()
    if (_opt(spec.provider()) or "").lower() != "versioned":
        # 'USING versioned' only in a comment: Catalyst's statement
        return spark.sql(stmt.query)
    name, _ = stmt.target()
    replace = stmt.node.startswith("Replace")
    if not replace and plan.ignoreIfExists():
        raise ValueError(
            "CREATE TABLE: IF NOT EXISTS is not supported — check "
            "registered_tables() first"
        )
    if (
        spec.comment().isDefined()
        or not spec.optionExpression().options().isEmpty()
        or not spec.constraints().isEmpty()
    ):
        raise ValueError(
            "CREATE TABLE: COMMENT, OPTIONS and table CONSTRAINT "
            "clauses are not supported — supported: CREATE TABLE <n> "
            "[(col type [GENERATED ALWAYS AS (<expr>)], ...)] USING "
            "versioned LOCATION '<path>' [PARTITIONED BY (cols)] "
            "[TBLPROPERTIES ('k'='v', ...)] [AS <query>]"
        )
    if name in tables and not replace:
        raise ValueError(
            f"CREATE TABLE: {name!r} is already a registered "
            f"VersionedTable — DROP TABLE {name} first (unregisters "
            "the name; the files stay on disk), use CREATE OR REPLACE "
            "TABLE, or pick another name"
        )
    location = _opt(spec.location())
    if location is None:
        raise ValueError(
            "CREATE TABLE: LOCATION '<path>' is required — this "
            "engine's tables are path-addressed (same contract as "
            "SHALLOW CLONE)"
        )
    location = stmt.restore(location)
    props = stmt.properties(spec.properties())
    pb = []
    for tr in _seq(plan.partitioning()):
        refs = tr.references()
        if tr.name() != "identity" or len(refs) != 1:
            raise ValueError(
                "CREATE TABLE: PARTITIONED BY takes plain column "
                f"names, got {tr.describe()!r}"
            )
        pb.append(".".join(refs[0].fieldNames()))
    gen: dict[str, str] = {}
    constraints: dict[str, str] = {}
    identity: dict[str, dict] = {}
    if stmt.node.endswith("AsSelect"):
        df = stmt.subquery(plan.query())
    else:
        defs, gen, constraints, identity = _column_defs(stmt)
        nongen = T.StructType(
            [T.StructField(n, d, True) for n, d, g in defs if g is None]
        )
        if not nongen.fields:
            raise ValueError(
                "CREATE TABLE: every column is GENERATED — at least "
                "one regular column is required (the expressions need "
                "inputs)"
            )
        base = spark.createDataFrame([], nongen)
        sel = []
        for n, declared, gexpr in defs:
            if gexpr is None:
                sel.append(F.col(n))
                continue
            computed = base.select(F.expr(gexpr).alias(n)).schema[
                n
            ].dataType
            if computed != declared:
                raise ValueError(
                    f"CREATE TABLE: generated column {n!r} declares "
                    f"type {declared.simpleString()} but its "
                    f"expression ({gexpr}) computes "
                    f"{computed.simpleString()} — declare the computed "
                    "type or cast inside the expression"
                )
            sel.append(F.expr(gexpr).alias(n))
        # generated columns are SUPPLIED (in declared order) so the
        # schema keeps the declaration's column order; on zero rows
        # the in-plan validation is trivially green
        df = base.select(*sel)
    if pb:
        missing = [c for c in pb if c not in df.columns]
        if missing:
            raise ValueError(
                f"CREATE TABLE: PARTITIONED BY column(s) {missing} "
                f"not in the table schema {df.columns}"
            )
    if replace and name in tables and tables[name] != location:
        raise ValueError(
            f"CREATE OR REPLACE TABLE: {name!r} is registered at "
            f"{tables[name]!r} but the statement names LOCATION "
            f"{location!r} — replacing a table at a different "
            "location is ambiguous; DROP TABLE first or match the "
            "location"
        )
    existing = VersionedTable(spark, location)
    if replace and existing.versions():
        # full redefinition in ONE data commit (Delta's REPLACE):
        # history is preserved — time travel to pre-replace versions
        # still reads; partition spec / generation map / constraints
        # AND the property map are all REPLACED atomically in that
        # single commit (ADVICE r14 #1 — no window where the new
        # definition carries the old table's behavior-affecting
        # properties)
        t = existing
        t.overwrite(
            df,
            replace_schema=True,
            partition_by=pb if pb else None,
            generated=gen or None,
            constraints=constraints,
            properties=props,
            identity=identity or None,
        )
        op = "replace"
    else:
        if existing.versions():
            # plain CREATE at an already-initialized LOCATION: refuse
            # in the module's refusal-first style instead of
            # surfacing VersionedTable.create's raw IOError
            # (ADVICE r14 #3)
            raise ValueError(
                f"CREATE TABLE: LOCATION {location!r} already holds "
                f"an initialized VersionedTable (head v"
                f"{existing.head_version()}) — use CREATE OR REPLACE "
                f"TABLE to redefine it in place, register_table to "
                "attach it as-is, or pick a fresh LOCATION"
            )
        t = VersionedTable.create(
            spark,
            location,
            df,
            partition_by=pb if pb else None,
            generated=gen or None,
            constraints=constraints or None,
            identity=identity or None,
        )
        if props:
            t.set_properties(props)
        op = "create"
    _tt.register_table(spark, name, t.path)
    return _one_row(spark, op, t.head_version())


# -- ALTER TABLE / SHOW / DROP TABLE / ANALYZE -------------------------------


def _run_alter(stmt: _Statement, tables) -> DataFrame:
    spark, plan, node = stmt.spark, stmt.plan, stmt.node
    name, _ = stmt.target()
    if name not in tables:
        # not a registered VersionedTable: ALTER TABLE is valid Spark
        # SQL for catalog tables — let Catalyst handle it (and produce
        # its own error for names it cannot resolve)
        return spark.sql(stmt.query)
    t = _resolve_table(spark, tables, name, "ALTER TABLE")
    v = op = None
    if node == "AddColumns":
        cols = _seq(plan.columnsToAdd())
        c = cols[0] if len(cols) == 1 else None
        if (
            c is not None
            and c.path().isEmpty()
            and c.nullable()
            and c.position().isEmpty()
            and c.default().isEmpty()
        ):
            v, op = t.add_column(c.colName(), c.dataType().sql()), "add_column"
    elif node == "RenameColumn":
        old = ".".join(_seq(plan.column().name()))
        v, op = t.rename_column(old, plan.newName()), "rename"
    elif node == "DropColumns":
        cols = _seq(plan.columnsToDrop())
        if len(cols) == 1 and not plan.ifExists():
            v, op = t.drop_column(".".join(_seq(cols[0].name()))), "drop"
    elif node == "AlterColumns":
        specs = _seq(plan.specs())
        s = specs[0] if len(specs) == 1 else None
        if (
            s is not None
            and s.newDataType().isDefined()
            and s.newNullability().isEmpty()
            and s.newComment().isEmpty()
            and s.newPosition().isEmpty()
            and s.newDefaultExpression().isEmpty()
            and not s.dropDefault()
        ):
            v = t.widen_column(
                ".".join(_seq(s.column().name())),
                s.newDataType().get().simpleString(),
            )
            op = "widen"
    elif node == "AddCheckConstraint":
        c = plan.checkConstraint()
        v = t.add_constraint(c.userProvidedName(), c.condition())
        return _one_row(spark, "add_constraint", v)
    elif node == "DropConstraint":
        if not plan.ifExists() and not plan.cascade():
            v = t.drop_constraint(plan.name())
            return _one_row(spark, "drop_constraint", v)
    elif node == "SetTableProperties":
        v = t.set_properties(stmt.properties(plan.properties()))
        return _one_row(spark, "set_properties", v)
    elif node == "UnsetTableProperties":
        v = t.unset_properties(
            [stmt.restore(k) for k in _seq(plan.propertyKeys())]
        )
        return _one_row(spark, "set_properties", v)
    if op is None:
        raise ValueError(
            f"ALTER TABLE: {_ALTER_FORMS}, got: {stmt.query.strip()!r}"
        )
    _refresh_head(spark, name, t)
    return _one_row(spark, op, v)


def _run_show_props(stmt: _Statement, tables) -> DataFrame:
    name, _ = stmt.target()
    if name not in tables or stmt.plan.propertyKey().isDefined():
        # unregistered name (or a single-key lookup): SHOW
        # TBLPROPERTIES is valid Spark SQL for catalog tables —
        # Catalyst owns it (same passthrough contract as ALTER TABLE /
        # INSERT INTO, ADVICE r13 #4)
        return stmt.spark.sql(stmt.query)
    t = _resolve_table(stmt.spark, tables, name, "SHOW TBLPROPERTIES")
    props = sorted(t.properties().items())
    return stmt.spark.createDataFrame(
        props or [("", "")], "key string, value string"
    ).filter("key != '' OR value != ''")


def _run_show_create(stmt: _Statement, tables) -> DataFrame:
    spark = stmt.spark
    name, _ = stmt.target()
    if name not in tables or stmt.plan.asSerde():
        # catalog tables keep Spark's own SHOW CREATE TABLE
        return spark.sql(stmt.query)
    t = _resolve_table(spark, tables, name, "SHOW CREATE TABLE")
    ptr = t._read_pointer(t.head_version())
    schema = t.read().schema
    gen = ptr.get("generated") or {}
    idcols = ptr.get("identity") or {}
    cons = dict(ptr.get("constraints") or {})
    col_lines = []
    for f in schema.fields:
        # simpleString as-is: lowercase type names are valid
        # DDL, and uppercasing would corrupt field names
        # inside nested struct<> types
        line = f"    {f.name} {f.dataType.simpleString()}"
        nn = f"{f.name}_not_null"
        if cons.get(nn) == f"{f.name} IS NOT NULL":
            line += " NOT NULL"
            cons.pop(nn)
        if f.name in gen:
            line += f" GENERATED ALWAYS AS ({gen[f.name]})"
        if f.name in idcols:
            spec = idcols[f.name]
            line += (
                " GENERATED ALWAYS AS IDENTITY (START WITH "
                f"{spec['start']} INCREMENT BY {spec['step']})"
            )
        col_lines.append(line)
    out = (
        f"CREATE TABLE {name} (\n"
        + ",\n".join(col_lines)
        + f"\n) USING versioned\nLOCATION '{t.path}'"
    )
    pb = ptr.get("partition_by")
    pb_list = [pb] if isinstance(pb, str) else list(pb) if pb else []
    if pb_list:
        out += f"\nPARTITIONED BY ({', '.join(pb_list)})"
    props = ptr.get("properties") or {}
    if props:
        kv = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
        out += f"\nTBLPROPERTIES ({kv})"
    # CHECK constraints beyond NOT NULL are ALTER-added —
    # rendered as the statements that recreate them
    for cname, cexpr in sorted(cons.items()):
        out += f";\nALTER TABLE {name} ADD CONSTRAINT {cname} CHECK ({cexpr})"
    return spark.createDataFrame([(out,)], "createtab_stmt string")


def _run_drop(stmt: _Statement, tables) -> DataFrame:
    name, _ = stmt.target()
    if name not in tables or stmt.plan.purge():
        # unregistered name (incl. IF EXISTS on unknowns) or PURGE:
        # DROP TABLE is valid Spark SQL for catalog tables — Catalyst
        # owns it
        return stmt.spark.sql(stmt.query)
    t = _resolve_table(stmt.spark, tables, name, "DROP TABLE")
    head_v = t.head_version()
    # EXTERNAL-table semantics (the honest contract for a
    # path-addressed engine): the registry entry and head view
    # go away; the manifest and data files stay on disk, and
    # register_table on the same path resurrects the table
    _tt.unregister_table(stmt.spark, name)
    return _one_row(stmt.spark, "drop_table", head_v)


def _analyze(spark, tables, name, stats_cols, bloom_cols) -> DataFrame:
    t = _resolve_table(spark, tables, name, "ANALYZE TABLE")
    if stats_cols is None and bloom_cols is None:
        raise ValueError(
            "ANALYZE TABLE (versioned): name the index to build — "
            "'FOR COLUMNS c1 [, ...]' backfills per-file range "
            "stats, 'BLOOM (c1 [, ...])' backfills bloom bitmaps; "
            "the engine keeps no table-level CBO stats to compute "
            "otherwise"
        )
    v = t.analyze(stats_cols=stats_cols, bloom_cols=bloom_cols)
    return _one_row(spark, "analyze", v)


def _run_analyze(stmt: _Statement, tables) -> DataFrame:
    plan = stmt.plan
    name, _ = stmt.target()
    if stmt.node == "AnalyzeColumn":
        cols = _opt(plan.columnNames())
        native = cols is None  # FOR ALL COLUMNS
    else:
        cols = None
        native = plan.noScan() or not plan.partitionSpec().isEmpty()
    if name not in tables or native:
        # unregistered name or a Spark-native form (NOSCAN, ALL
        # COLUMNS, partition specs …): ANALYZE TABLE is valid Spark
        # SQL for catalog tables — Catalyst owns it
        return stmt.spark.sql(stmt.query)
    return _analyze(
        stmt.spark, tables, name, _seq(cols) if cols else None, None
    )


# -- forms Spark's parser refuses: one regex each ----------------------------

_OPTIMIZE = re.compile(
    rf"^\s*OPTIMIZE\s+({_NAME})\s*"
    rf"(?:WHERE\s+(?P<where>.*?))?\s*"
    rf"(?:ZORDER\s+BY\s*\((?P<zorder>[^)]*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM = re.compile(
    rf"^\s*VACUUM\s+({_NAME})"
    rf"(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
    rf"(?:\s+MIN\s+AGE\s+(\d+(?:\.\d+)?)\s+SECONDS)?"
    rf"(\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
_RESTORE = re.compile(
    rf"^\s*RESTORE\s+(?:TABLE\s+)?({_NAME})\s+TO\s+(?:VERSION\s+AS\s+OF"
    rf"\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE = re.compile(
    rf"^\s*DESCRIBE\s+(HISTORY|DETAIL)\s+({_NAME})\s*;?\s*$", re.IGNORECASE
)
_COPY = re.compile(
    rf"^\s*COPY\s+INTO\s+({_NAME})\s+FROM\s+'([^']*)'\s*"
    rf"(?:FILEFORMAT\s*=\s*({_NAME}))?\s*"
    rf"(?:PATTERN\s*=\s*'([^']*)')?\s*;?\s*$",
    re.IGNORECASE,
)
_CLONE = re.compile(
    rf"^\s*CREATE\s+(?P<rep>OR\s+REPLACE\s+)?TABLE\s+({_NAME})\s+"
    rf"(?P<kind>SHALLOW|DEEP)\s+CLONE\s+({_NAME})"
    rf"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
    rf"(?:\s+LOCATION\s+'([^']*)')?\s*;?\s*$",
    re.IGNORECASE,
)
_SET_PARTITIONED = re.compile(
    rf"^\s*ALTER\s+TABLE\s+({_NAME})\s+(?:SET\s+PARTITIONED\s+BY\s*"
    rf"\(([^)]*)\)|CLEAR\s+PARTITIONING)\s*;?\s*$",
    re.IGNORECASE,
)
_ANALYZE_BLOOM = re.compile(
    rf"^\s*ANALYZE\s+TABLE\s+({_NAME})\s+COMPUTE\s+STATISTICS"
    rf"(?:\s+FOR\s+COLUMNS\s+(?P<cols>{_NAME}(?:\s*,\s*{_NAME})*))?"
    rf"\s+BLOOM\s*\((?P<bloom>[^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)


def _scalar(tok: str):
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        return float(tok)


def _optimize_ranges(spark: SparkSession, where: str) -> list[tuple]:
    """``col BETWEEN lo AND hi [AND ...]`` → [(col, lo, hi), ...], read
    by Spark's expression parser (BETWEEN parses as the function call
    ``between(col, lo, hi)``); each bound keeps its literal's type."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        expr = parser.parseExpression(where)
    except ParseException as exc:
        raise ValueError(f"OPTIMIZE: {str(exc).strip()}") from None

    def conjuncts(e) -> list:
        if e.nodeName() == "And":
            return conjuncts(e.left()) + conjuncts(e.right())
        return [e]

    out = []
    for e in conjuncts(expr):
        args = _seq(e.children())
        if (
            e.nodeName() != "UnresolvedFunction"
            or _seq(e.nameParts()) != ["between"]
            or args[0].nodeName() != "UnresolvedAttribute"
        ):
            lo, hi = _span(e)
            raise ValueError(
                "OPTIMIZE: WHERE supports only 'col BETWEEN lo AND hi' "
                f"conjuncts, got {where[lo:hi]!r}"
            )
        col = ".".join(_seq(args[0].nameParts()))
        lo, hi = (_scalar(where[slice(*_span(a))]) for a in args[1:])
        out.append((col, lo, hi))
    return out


def _run_optimize(spark, query, tables) -> DataFrame:
    m = _OPTIMIZE.match(query)
    if m is None:
        raise ValueError(
            "OPTIMIZE: expected 'OPTIMIZE <table> [WHERE col BETWEEN "
            "lo AND hi [AND ...]] [ZORDER BY (cols)]', got: "
            f"{query.strip()!r}"
        )
    t = _resolve_table(spark, tables, m.group(1), "OPTIMIZE")
    where = m.group("where")
    where = _optimize_ranges(spark, where) if where else None
    zorder = None
    if m.group("zorder"):
        zorder = [
            c.strip() for c in m.group("zorder").split(",") if c.strip()
        ]
    v = t.optimize(zorder_by=zorder, where=where)
    _refresh_head(spark, m.group(1), t)
    return _one_row(spark, "optimize", v)


def _run_vacuum(spark, query, tables) -> DataFrame:
    m = _VACUUM.match(query)
    if m is None:
        raise ValueError(
            "VACUUM: expected 'VACUUM <table> [RETAIN n VERSIONS] "
            "[MIN AGE s SECONDS] [DRY RUN]', got: "
            f"{query.strip()!r}"
        )
    t = _resolve_table(spark, tables, m.group(1), "VACUUM")
    keep_last = int(m.group(2)) if m.group(2) else 2
    min_age = float(m.group(3)) if m.group(3) else 3600.0
    if m.group(4):
        paths = t.vacuum(
            keep_last=keep_last, min_age_seconds=min_age, dry_run=True
        )
        return spark.createDataFrame(
            [(p,) for p in paths], "path string"
        )
    removed = t.vacuum(keep_last=keep_last, min_age_seconds=min_age)
    return spark.createDataFrame(
        [("vacuum", int(removed))], "op string, removed bigint"
    )


def _run_restore(spark, query, tables) -> DataFrame:
    m = _RESTORE.match(query)
    if m is None:
        raise ValueError(
            "RESTORE: expected 'RESTORE [TABLE] <table> TO VERSION AS "
            "OF <n>' or \"... TO TIMESTAMP AS OF '<ts>'\", got: "
            f"{query.strip()!r}"
        )
    name = m.group(1)
    t = _resolve_table(spark, tables, name, "RESTORE")
    if m.group(2) is not None:
        target = int(m.group(2))
    else:
        # resolution mirrors the TIMESTAMP AS OF read clause —
        # highest version committed at or before the instant,
        # UTC-naive like the whole engine
        target = t.version_as_of(_tt._ts_ms(m.group(3)))
    v = t.restore(target)
    _refresh_head(spark, name, t)
    return _one_row(spark, "restore", v)


def _run_describe(spark, query, tables) -> DataFrame:
    m = _DESCRIBE.match(query)
    if m is None:
        raise ValueError(
            "DESCRIBE: expected 'DESCRIBE HISTORY <table>' or "
            f"'DESCRIBE DETAIL <table>', got: {query.strip()!r}"
        )
    kind = m.group(1).upper()
    t = _resolve_table(spark, tables, m.group(2), f"DESCRIBE {kind}")
    if kind == "HISTORY":
        return t.history()
    # Delta's DESCRIBE DETAIL: a one-row ops snapshot of the head —
    # driver-side pointer reads only, nothing on executors
    import json as _json

    head_v = t.head_version()
    ptr = t._read_pointer(head_v)
    n_files = ptr.get("n_files")
    if n_files is None:
        n_files = len(t._read_manifest(head_v)["files"])
    pb = ptr.get("partition_by")
    pb_list = [pb] if isinstance(pb, str) else list(pb) if pb else []
    return spark.createDataFrame(
        [
            (
                "versioned",
                t.path,
                int(head_v),
                int(n_files),
                ",".join(pb_list),
                _json.dumps(ptr.get("properties") or {}, sort_keys=True),
                ",".join(sorted(ptr.get("features") or [])),
            )
        ],
        "format string, location string, version bigint, "
        "num_files bigint, partition_columns string, "
        "properties string, features string",
    )


def _run_copy(spark, query, tables) -> DataFrame:
    m = _COPY.match(query)
    if m is None:
        raise ValueError(
            "COPY INTO: expected \"COPY INTO <table> FROM '<path>' "
            "[FILEFORMAT = <fmt>] [PATTERN = '<glob>']\", got: "
            f"{query.strip()!r}"
        )
    name = m.group(1)
    t = _resolve_table(spark, tables, name, "COPY INTO")
    before = t.head_version()
    v = t.copy_into(
        m.group(2),
        file_format=(m.group(3) or "parquet").lower(),
        pattern=m.group(4),
    )
    _refresh_head(spark, name, t)
    return spark.createDataFrame(
        [("copy_into", int(v), bool(v != before))],
        "op string, version bigint, loaded boolean",
    )


def _run_clone(spark, query, tables) -> DataFrame:
    m = _CLONE.match(query)
    if m is None:
        raise ValueError(
            "CREATE TABLE: expected \"CREATE [OR REPLACE] TABLE "
            "<name> SHALLOW|DEEP CLONE <source> [VERSION AS OF "
            f"<n>] LOCATION '<path>'\", got: {query.strip()!r}"
        )
    kind = m.group("kind").upper()
    replace = m.group("rep") is not None
    dest_name, src_name = m.group(2), m.group(4)
    if m.group(6) is None:
        raise ValueError(
            f"{kind} CLONE: LOCATION '<path>' is required — this "
            "engine's tables are path-addressed, so the clone "
            "needs a destination directory (Delta's catalog-"
            "managed location has no analog here)"
        )
    src = _resolve_table(spark, tables, src_name, f"{kind} CLONE")
    dest_path = m.group(6)
    version = int(m.group(5)) if m.group(5) else None
    if replace and dest_name in tables and tables[dest_name] != dest_path:
        raise ValueError(
            f"CREATE OR REPLACE TABLE: {dest_name!r} is registered "
            f"at {tables[dest_name]!r} but the statement names "
            f"LOCATION {dest_path!r} — replacing a table at a "
            "different location is ambiguous; DROP TABLE first or "
            "match the location"
        )
    if kind == "DEEP":
        if replace:
            raise ValueError(
                "CREATE OR REPLACE TABLE ... DEEP CLONE is not "
                "supported — a deep clone initializes an "
                "independent copy at a FRESH location (DROP TABLE "
                "the destination and re-issue, or use SHALLOW "
                "CLONE for zero-copy replacement)"
            )
        dest = src.deep_clone(dest_path, version=version)
        op = "deep_clone"
    else:
        dest = src.clone(dest_path, version=version, replace=replace)
        op = "replace_clone" if replace and dest.head_version() else "clone"
    # register the new table under its SQL name, like
    # register_table does (same registry the caller passed in)
    _tt.register_table(spark, dest_name, dest.path)
    _refresh_head(spark, dest_name, dest)
    return _one_row(spark, op, dest.head_version())


def _run_partition_spec(spark, m: re.Match, tables) -> DataFrame:
    # Iceberg-style partition-spec evolution as SQL (VERDICT r14 #3):
    # metadata-only — zero files move; old files keep pruning under
    # their recorded spec, commits from here lay out under the new one
    name = m.group(1)
    t = _resolve_table(spark, tables, name, "ALTER TABLE")
    spec = None
    if m.group(2) is not None:
        cols = [c.strip() for c in m.group(2).split(",") if c.strip()]
        if not cols:
            raise ValueError(
                "ALTER TABLE SET PARTITIONED BY: empty column "
                "list — use CLEAR PARTITIONING to drop the spec"
            )
        spec = cols if len(cols) > 1 else cols[0]
    v = t.set_partition_spec(spec)
    _refresh_head(spark, name, t)
    return _one_row(spark, "set_partition_spec", v)


# -- dispatch -----------------------------------------------------------------

#: the statement kind every refusal names, by leading keyword
_KINDS = {
    "MERGE": "MERGE",
    "UPDATE": "UPDATE",
    "DELETE": "DELETE",
    "INSERT": "INSERT",
    "ALTER": "ALTER TABLE",
    "SHOW": "SHOW",
    "DROP": "DROP TABLE",
    "ANALYZE": "ANALYZE TABLE",
}
_REGEX_FORMS = {
    "OPTIMIZE": _run_optimize,
    "VACUUM": _run_vacuum,
    "RESTORE": _run_restore,
    "DESCRIBE": _run_describe,
    "COPY": _run_copy,
    "CREATE": _run_clone,
}
#: row-level statements take the COW/MoR ``dml_mode``
_ROW_LEVEL = {
    "UpdateTable": _run_update,
    "DeleteFromTable": _run_delete,
    "MergeIntoTable": _run_merge,
}
#: Spark's plan node for the statement → its handler
_PARSED = {
    "InsertIntoStatement": _run_insert,
    "OverwriteByExpression": _run_insert,
    "CreateTable": _run_create_versioned,
    "ReplaceTable": _run_create_versioned,
    "CreateTableAsSelect": _run_create_versioned,
    "ReplaceTableAsSelect": _run_create_versioned,
    **dict.fromkeys(
        (
            "AddColumns",
            "RenameColumn",
            "DropColumns",
            "AlterColumns",
            "AddCheckConstraint",
            "DropConstraint",
            "SetTableProperties",
            "UnsetTableProperties",
        ),
        _run_alter,
    ),
    "ShowTableProperties": _run_show_props,
    "ShowCreateTable": _run_show_create,
    "DropTable": _run_drop,
    "AnalyzeColumn": _run_analyze,
    "AnalyzeTable": _run_analyze,
}


def run_dml(
    spark: SparkSession,
    query: str,
    tables: dict[str, str],
    dml_mode: str | None = None,
) -> DataFrame:
    """Execute one DML statement against the registry. ``tables`` is
    the caller's name→path map (:func:`timetravel.registered_tables`);
    ``dml_mode`` overrides the table property ``smetl.dml.mode`` for
    the row-level statements (MERGE/UPDATE/DELETE)."""
    hm = _DML_HEAD.match(query)
    # CREATE TABLE ... USING versioned passes is_dml without matching
    # _DML_HEAD (whose CREATE branch is the SHALLOW/DEEP CLONE lookahead)
    head = hm.group(1).upper() if hm is not None else None
    if head in _REGEX_FORMS:
        return _REGEX_FORMS[head](spark, query, tables)
    if head == "ALTER" and (m := _SET_PARTITIONED.match(query)):
        if m.group(1) not in tables:
            return spark.sql(query)
        return _run_partition_spec(spark, m, tables)
    if head == "ANALYZE" and (m := _ANALYZE_BLOOM.match(query)):
        if m.group(1) not in tables:
            return spark.sql(query)
        stats = m.group("cols")
        bloom = [c.strip() for c in m.group("bloom").split(",") if c.strip()]
        return _analyze(
            spark,
            tables,
            m.group(1),
            [c.strip() for c in stats.split(",")] if stats else None,
            bloom or None,
        )
    stmt = _Statement(spark, query, _KINDS.get(head, "CREATE TABLE"))
    if stmt.node in _ROW_LEVEL:
        return _ROW_LEVEL[stmt.node](stmt, tables, dml_mode)
    handler = _PARSED.get(stmt.node)
    if handler is not None:
        return handler(stmt, tables)
    # a statement Spark reads but this module does not execute (ALTER
    # TABLE ... RENAME TO, SET LOCATION, ...): Catalyst's on catalog
    # tables, a refusal on a registered VersionedTable
    name, _ = stmt.target()
    if name not in tables:
        return spark.sql(query)
    hint = _ALTER_FORMS if head == "ALTER" else "not supported"
    raise ValueError(f"{stmt.kind}: {hint} — got: {query.strip()!r}")
