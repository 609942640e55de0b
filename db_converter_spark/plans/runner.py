"""Packet runner — the reference's worker/step/action executor rebuilt on
Spark (reference: worker_db_func + execute_step + execute_q,
dbccore/dbccore.py:379-627, 831-903, 905-1181).

Execution model:
- one *target* = one Spark catalog database + its own SQLite ledger; targets
  run in parallel driver threads over isolated ``spark.newSession()``
  children (session-scoped SQL conf / current database / temp views), which
  is the Spark analog of the reference's thread-per-DB fan-out
  (reference: db_converter.py:633-647) — intra-query parallelism comes from
  partitions, inter-target from threads sharing one SparkContext.
- one *step* = one SQL (or Python) file; one *action* = one placeholder
  binding of a step, identity = md5 of the final SQL, dedup'd against the
  ledger for idempotent resume (reference: dbccore/dbccore.py:941-951).
- "transaction" semantics: an action is recorded done only after every
  statement in it succeeded; re-runs skip completed actions. Cross-table
  atomicity is best-effort, same as the reference's reconnect-and-resume
  behavior (SURVEY §7.3).
"""

from __future__ import annotations

import fnmatch
import hashlib
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import SparkSession

from db_converter_spark.catalog import local_relation
from db_converter_spark.plans.export import export_statements
from db_converter_spark.plans.formatter import ANON_COLUMN, print_table
from db_converter_spark.plans.ledger import ActionTracker
from db_converter_spark.plans.model import (
    CommandType,
    DBCResult,
    PacketStatus,
    PacketType,
    PLRaiseError,
    ResultCode,
)
from db_converter_spark.plans.packet import (
    Packet,
    apply_gen_placeholders,
    parse_packet,
)
from db_converter_spark.plans.hooks import ChatHook, notify_error, notify_results
from db_converter_spark.plans.pgdialect import rewrite as pg_rewrite
from db_converter_spark.plans.sequences import (
    route_sequence_ddl,
    substitute_sequence_calls,
)
from db_converter_spark.plans.watchdog import StepWatchdog
from db_converter_spark.plans.sqlsplit import (
    _strip_leading_comments,
    is_read_only_ok,
    mask_strings,
    split_statements,
    statement_kind,
)
from db_converter_spark.operators.maintenance import route_maintenance


class ReadOnlyViolation(Exception):
    """Write statement inside a read-only packet (reference:
    ReadOnlyTransactionError path, dbccore/dbccore.py:1221-1402)."""


class PacketHashChanged(Exception):
    """Packet content changed since last (unfinished) run and --force not
    given (reference: dbccore/dbccore.py:449-463)."""


class RunContext:
    """Per-(target, packet) execution context; also the ``ctx`` object handed
    to Python steps (reference exposes ``self``/``db_local`` to py-steps,
    dbccore/dbccore.py:1113-1115)."""

    def __init__(self, spark: SparkSession, db_name: str, packet: Packet, read_only: bool):
        self.spark = spark
        self.db_name = db_name
        self.packet = packet
        self.read_only = read_only
        # "postgres" → run each statement through the PG→Spark rewriter so
        # reference-style packets execute unmodified (meta_data.json key
        # ``dialect``; SURVEY §7.1 L2 dialect level)
        self.dialect = packet.meta.get("dialect", "spark")
        # no_commit = dry-run: queries run; routed DML SHADOW-EXECUTES into
        # the noop sink and reports its would-be rowcount (the Spark analog
        # of the reference's execute+rollback, dbccore/dbccore.py:886-888);
        # remaining writes are validated with EXPLAIN EXTENDED (E13)
        self.no_commit = False
        self.messages: list[tuple[str, str]] = []  # (severity, text) — E16 channel
        self.current_step_results: list = []
        # per-target ledger; attached by the run loop when tracking is on
        self.tracker: ActionTracker | None = None
        # live-JDBC target (reference: every packet executes against a
        # remote conninfo, dbccore/dbccore.py:905-1181): when set, remote
        # tables are registered as snapshot temp views and INSERTs into
        # them route through the JDBC append sink. Keys: url, properties,
        # tables (lowercased names).
        self.jdbc_target: dict | None = None

    def sequence_tracker(self) -> ActionTracker:
        """Ledger holding this target's sequence counters (SURVEY §7.4.6).
        Untracked runs (tests, direct ctx.execute) get an in-memory ledger:
        sequence semantics without on-disk state."""
        if self.tracker is None:
            self.tracker = ActionTracker(":memory:")
        return self.tracker

    def raise_notice(self, severity: str, message: str) -> None:
        """Engine message channel — the RAISE NOTICE analog (reference:
        filter_notices, dbccore/dbccore.py:838-844)."""
        self.messages.append((severity.upper(), message))
        self.current_step_results.append([severity.upper(), message])

    def refresh_catalog(self) -> None:
        """Rebuild the pg_catalog / information_schema emulation views from
        the live Spark catalog. PG's catalog is transactionally live; the
        emulation is a snapshot — py-steps that create tables and then
        introspect them call this in between."""
        from db_converter_spark.catalog import create_information_schema_views
        from db_converter_spark.pg_catalog import (
            create_pg_catalog_views,
            create_pg_instance_views,
        )

        create_pg_catalog_views(self.spark, [self.db_name])
        create_pg_instance_views(self.spark)
        create_information_schema_views(self.spark, self.db_name)
        if self.tracker is not None:
            # pg_get_serial_sequence resolves against this target's recorded
            # ALTER SEQUENCE ... OWNED BY state (snapshot, like the other
            # catalog lookup UDFs)
            from db_converter_spark.functions.pg_compat import (
                register_serial_sequence_lookup,
            )

            register_serial_sequence_lookup(self.spark, self.tracker.seq_owned_map())

    def execute(self, sql: str) -> list:
        """Run one statement, capture like the engine does; for py-steps."""
        return _run_statement(self, sql)


def _job_label(packet: str, db: str, *parts: str) -> str:
    """Spark job description: ``packet P on D[ / step[ / action n]]``."""
    return " / ".join((f"packet {packet} on {db}", *parts))


def _capture_select(ctx: RunContext, df) -> list:
    cols = [f if f else ANON_COLUMN for f in df.columns]
    rows = [list(r) for r in df.collect()]
    return [cols] + rows


_JDBC_INSERT_RE = re.compile(
    r"^\s*insert\s+into\s+([\w.`\"]+)\s*(\([^)]*\))?\s*(.+)$", re.I | re.S
)
_JDBC_WRITE_TARGET_RE = re.compile(
    r"^\s*(update|delete\s+from|merge\s+into|truncate(?:\s+table)?)\s+([\w.`\"]+)",
    re.I,
)


def _jdbc_table_of(ctx: RunContext, name: str) -> "str | None":
    """Resolve a statement's table reference against the live target's
    remote tables (schema qualifiers are the remote's business — only the
    terminal name identifies the snapshot view)."""
    bare = name.strip().strip('`"').split(".")[-1].lower()
    return bare if ctx.jdbc_target and bare in ctx.jdbc_target["tables"] else None


def _route_jdbc_dml(ctx: RunContext, stmt: str, dry: bool = False) -> "list | None":
    """Write statements against a LIVE JDBC target (E11 over a remote;
    reference: every packet statement executes on the target connection,
    dbccore/dbccore.py:905-1181).

    INSERT is the Spark-expressible remote write: the source query runs as
    a Spark plan and the rows stream through the JDBC append sink (one
    INSERT batch per partition — the bounded-transaction shape of the
    reference's migration packets); the snapshot view refreshes after, so
    later statements see the write (PG statement visibility). Under
    no_commit the plan SHADOW-EXECUTES — the rowcount is computed, nothing
    is written (the execute+rollback analog, dbccore/dbccore.py:886-888).

    UPDATE/DELETE/MERGE/TRUNCATE have no Spark JDBC sink spelling —
    Spark's writer only appends/overwrites; rewriting them as
    read-filter-overwrite would silently drop concurrent remote writes.
    They fail loudly with the py-step escape hatch named."""
    if ctx.jdbc_target is None:
        return None
    head = _strip_leading_comments(stmt)
    im = _JDBC_INSERT_RE.match(head)
    if im:
        table = _jdbc_table_of(ctx, im.group(1))
        if table is None:
            return None
        df = ctx.spark.sql(im.group(3))
        if im.group(2):
            cols = [c.strip().strip('`"') for c in im.group(2)[1:-1].split(",")]
        else:
            cols = ctx.spark.table(table).columns
        df = df.toDF(*cols)
        if dry:
            return ["INSERT", df.count()]
        df.write.jdbc(
            ctx.jdbc_target["url"],
            table,
            mode="append",
            properties=ctx.jdbc_target["properties"],
        )
        from db_converter_spark.sources.jdbc import register_remote_views

        register_remote_views(
            ctx.spark, ctx.jdbc_target["url"], ctx.jdbc_target["properties"], [table]
        )
        return ["INSERT"]
    wm = _JDBC_WRITE_TARGET_RE.match(head)
    if wm and _jdbc_table_of(ctx, wm.group(2)):
        raise RuntimeError(
            f"{wm.group(1).split()[0].upper()} against live JDBC table"
            f" {wm.group(2)}: Spark's JDBC sink can only append — run remote"
            " in-place DML from a py-step over the remote's own client"
        )
    return None


def _run_statement(ctx: RunContext, stmt: str) -> list:
    kind = statement_kind(stmt)
    if ctx.read_only and not is_read_only_ok(stmt):
        raise ReadOnlyViolation(f"write statement in read-only packet: {stmt[:80]}...")
    if ctx.dialect == "postgres":
        stmt = pg_rewrite(stmt, ctx.packet.session_conf)
    # Sequence surface (SURVEY §7.4.6): CREATE/ALTER/DROP SEQUENCE → ledger
    # counters; nextval/currval/setval inlined via block allocation. nextval
    # consumption under no_commit matches PG (sequences are non-transactional
    # — the reference's execute+rollback consumes values too).
    if re.match(r"^\s*(create|drop|alter)\s+sequence\b", _strip_leading_comments(stmt), re.I):
        status, notices = route_sequence_ddl(
            ctx.sequence_tracker(), _strip_leading_comments(stmt), dry_run=ctx.no_commit
        )
        for sev, msg in notices:
            ctx.raise_notice(sev, msg)
        ctx.current_step_results.append([status])
        return [status]
    # PG maintenance surface (VACUUM/ANALYZE/CREATE INDEX/ALTER…DEFAULT/...)
    # — no direct Spark statement, each maps per operators/maintenance.py;
    # under no_commit the router validates without executing. Routed BEFORE
    # sequence-call inlining: a recorded DEFAULT must keep nextval() as TEXT,
    # not consume a value at ALTER time.
    maint = route_maintenance(ctx.spark, stmt, dry_run=ctx.no_commit)
    if maint is not None:
        status, notices = maint
        for sev, msg in notices:
            ctx.raise_notice(sev, msg)
        ctx.current_step_results.append([status])
        return [status]
    stmt = _expand_insert_defaults(ctx, stmt)
    stmt = substitute_sequence_calls(ctx, stmt)
    # PG RETURNING: rows the DML touches, surfaced as a resultset
    # (reference clients consume psycopg rows; pairs with sequence
    # defaults — the standard way to read back generated ids). Rows are
    # computed from the pre-statement snapshot (PG semantics), then the
    # stripped statement executes through the normal flow below (a
    # recursive call — every rewrite above is idempotent on its output).
    if re.match(r"^\s*(insert|update|delete)\b", _strip_leading_comments(stmt), re.I):
        head, ret = _split_returning(stmt)
        if ret is not None:
            table_rows = _capture_select(ctx, _returning_rows(ctx, head, ret))
            _run_statement(ctx, head)
            ctx.current_step_results.append(table_rows)
            return table_rows
    if ctx.no_commit and kind != "query":
        # dry-run. Routed UPDATE/DELETE get SHADOW EXECUTION: the exact
        # rewrite plan runs end-to-end into the noop sink and the status
        # carries the would-be rowcount — the Spark analog of the
        # reference's execute-then-rollback (dbccore/dbccore.py:886-888).
        # Everything else goes through EXPLAIN EXTENDED, where a missing
        # Physical Plan section marks failure (Spark prints the error text
        # in place of the plan — never the literal word 'Exception' the
        # old sniff looked for).
        routed = _route_jdbc_dml(ctx, stmt, dry=True)
        if routed is None:
            routed = _route_v1_dml(ctx, stmt, dry=True)
        if routed is None:
            plan = ctx.spark.sql(f"EXPLAIN EXTENDED {stmt}").collect()[0][0]
            if "== Physical Plan ==" not in plan or "Error occurred during query planning" in plan:
                raise RuntimeError(f"no_commit validation failed: {plan[:500]}")
            status = [_strip_leading_comments(stmt).split()[0].upper(), "no_commit"]
        else:
            status = routed + ["no_commit"]
        ctx.current_step_results.append([status])
        return [status]
    routed = _route_jdbc_dml(ctx, stmt)
    if routed is None:
        routed = _route_v1_dml(ctx, stmt)
    if routed is not None:
        ctx.current_step_results.append([routed])
        return [routed]
    df = ctx.spark.sql(stmt)
    if kind == "query":
        table = _capture_select(ctx, df)
        ctx.current_step_results.append(table)
        return table
    # DML/DDL/utility: Spark reports no rowcount; capture the command word as
    # the status tuple (the reference captures e.g. ('UPDATE 100',),
    # dbccore/dbccore.py:866-883 — rowcount is a documented gap on Spark)
    df.collect()
    status = [_strip_leading_comments(stmt).split()[0].upper()]
    ctx.current_step_results.append([status])
    return [status]


_INSERT_COLS_RE = re.compile(
    r"^\s*insert\s+into\s+([\w.`\"]+)\s*\(([^)]*)\)\s*(.+)$", re.I | re.S
)


def _expand_insert_defaults(ctx: RunContext, stmt: str) -> str:
    """``INSERT INTO t(cols…) …`` where an omitted column carries a recorded
    ``dbc.default.<col>`` property (operators/maintenance.py `_alter_default`,
    reference: packets/test_int4_to_int8/07_step.sql inserting through a
    serial DEFAULT) → rewrite to a full-projection INSERT with the default
    expression inlined. Defaults containing sequence calls get block-inlined
    by :func:`substitute_sequence_calls` immediately after. Statements whose
    omitted columns have no recorded default are left to Spark (by-name
    column-list INSERT fills NULLs natively)."""
    from db_converter_spark.operators.maintenance import DEFAULT_PROP_PREFIX

    body = _strip_leading_comments(stmt)
    dm = re.match(
        r"^\s*insert\s+into\s+([\w.`\"]+)\s+default\s+values\s*"
        r"(returning\s.+)?$",
        body.rstrip().rstrip(";"),
        re.I | re.S,
    )
    if dm:
        # PG `INSERT INTO t DEFAULT VALUES` (beyond-corpus): one row, every
        # column from its recorded default (sequence calls inline next) or
        # NULL — rewritten onto the same full-projection path
        table = dm.group(1).strip('`"')
        try:
            props = {
                r["key"][len(DEFAULT_PROP_PREFIX):].lower(): r["value"]
                for r in ctx.spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
                if r["key"].startswith(DEFAULT_PROP_PREFIX)
            }
        except Exception:  # noqa: BLE001 — unknown table: let Spark report it
            props = {}
        proj = []
        for f in ctx.spark.table(table).schema:
            n = f.name.lower()
            if n in props:
                proj.append(f"({props[n]}) AS `{f.name}`")
            else:
                proj.append(f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`")
        out = f"INSERT INTO {table} SELECT {', '.join(proj)}"
        return f"{out} {dm.group(2)}" if dm.group(2) else out
    m = _INSERT_COLS_RE.match(body)
    if not m:
        return stmt
    table = m.group(1).strip('`"')
    try:
        props = {
            r["key"][len(DEFAULT_PROP_PREFIX):].lower(): r["value"]
            for r in ctx.spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
            if r["key"].startswith(DEFAULT_PROP_PREFIX)
        }
    except Exception:  # noqa: BLE001 — temp view / unknown table: not ours
        return stmt
    if not props:
        return stmt
    cols = [c.strip().strip('`"').lower() for c in m.group(2).split(",")]
    schema = ctx.spark.table(table).schema
    if not any(f.name.lower() in props and f.name.lower() not in cols for f in schema):
        return stmt
    src = m.group(3).rstrip().rstrip(";")
    # trailing RETURNING / ON CONFLICT clauses are not part of the row
    # source — detach both and re-attach to the rewritten INSERT (the
    # upsert router / RETURNING capture handle them downstream)
    src, returning = _split_returning(src)
    src, conflict_clause = _split_on_conflict(src)
    # bind the source's outputs to the provided column names positionally
    # (arbitrary expressions have no usable names), then project the table's
    # full column order with defaults/NULLs for the omitted ones
    tmp = f"__dbc_ins_src_{hashlib.md5(stmt.encode()).hexdigest()[:8]}"
    ctx.spark.sql(src).toDF(*cols).createOrReplaceTempView(tmp)
    proj = []
    for f in schema:
        n = f.name.lower()
        if n in cols:
            proj.append(f"`{f.name}`")
        elif n in props:
            proj.append(f"({props[n]}) AS `{f.name}`")
        else:
            proj.append(f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`")
    out = f"INSERT INTO {table} SELECT {', '.join(proj)} FROM {tmp}"
    if conflict_clause:
        out = f"{out} {conflict_clause}"
    if returning:
        out = f"{out} RETURNING {returning}"
    return out


def _split_returning(stmt: str) -> tuple[str, str | None]:
    """Split a top-level trailing ``RETURNING <exprs>`` off a DML
    statement (mask-aware: never matches inside strings/comments)."""
    masked = mask_strings(stmt)
    for m in re.finditer(r"\breturning\b", masked, re.I):
        pre = masked[: m.start()]
        if pre.count("(") == pre.count(")"):
            return stmt[: m.start()].rstrip(), stmt[m.end() :].strip().rstrip(";")
    return stmt, None


def _returning_rows(ctx: RunContext, stmt: str, ret: str):
    """DataFrame of PG ``RETURNING`` rows for ``stmt`` (already stripped of
    the clause, defaults expanded, sequence calls inlined): DELETE returns
    the OLD rows, UPDATE the NEW values of matched rows, INSERT the rows
    being inserted, upsert the inserted + updated post-image. Evaluated
    against the pre-statement state, like PG (the statement sees the same
    snapshot)."""
    from db_converter_spark.operators import migration
    from db_converter_spark.plans.pgdialect import UnsupportedConstruct
    from pyspark.sql import functions as F

    spark = ctx.spark
    s = _strip_leading_comments(stmt).rstrip().rstrip(";")
    ups = _parse_insert_on_conflict(ctx, s)
    if ups is not None:
        table, src_df, keys, set_map, upd_where = ups
        df = migration.upsert_affected_plan(spark, table, src_df, keys, set_map, upd_where)
        df.createOrReplaceTempView("__dbc_ret")
        return spark.sql(f"SELECT {ret} FROM __dbc_ret")
    du = _parse_delete_using(ctx, s)
    if du is not None:
        table, talias, src_df, salias, cond = du
        doomed = (
            spark.table(table).alias(talias).join(src_df.alias(salias), _F_expr(cond), "left_semi")
        )
        doomed.createOrReplaceTempView("__dbc_ret")
        # re-alias to the target's name so qualified RETURNING refs resolve
        return spark.sql(f"SELECT {ret} FROM __dbc_ret {talias}")
    m = _DELETE_RE.match(s)
    if m:
        table, pred = m.group(1).strip("`"), m.group(2)
        where = f" WHERE ({pred})" if pred else ""
        return spark.sql(f"SELECT {ret} FROM (SELECT * FROM {table}{where}) __dbc_ret")
    m = _UPDATE_RE.match(s)
    if m:
        table, talias = m.group(1).strip("`"), m.group(2)
        rest = s[m.end() :].rstrip().rstrip(";")
        if _find_top_level(rest, "from") != -1:
            raise UnsupportedConstruct(
                "RETURNING on UPDATE ... FROM is not supported — port to a py-step"
            )
        set_map, pred = _split_set_clause(rest)
        cols = [f.name for f in spark.table(table).schema]
        proj = ", ".join(
            f"({set_map[c]}) AS `{c}`" if c in set_map else f"`{c}`" for c in cols
        )
        alias = f" {talias}" if talias else ""
        where = f" WHERE ({pred})" if pred else ""
        return spark.sql(
            f"SELECT {ret} FROM (SELECT {proj} FROM {table}{alias}{where}) __dbc_ret"
        )
    im = _INSERT_HEAD_RE.match(s)
    if im:
        table = im.group(1).strip('`"')
        src = spark.sql(im.group(3))
        schema = spark.table(table).schema
        if im.group(2):
            cols = [c.strip().strip('`"') for c in im.group(2).split(",")]
        else:
            cols = [f.name for f in schema][: len(src.columns)]
        src = src.toDF(*cols)
        for f in schema:
            if f.name not in src.columns:
                src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
        src.createOrReplaceTempView("__dbc_ret")
        return spark.sql(f"SELECT {ret} FROM __dbc_ret")
    raise UnsupportedConstruct(
        "RETURNING is supported on INSERT/UPDATE/DELETE statements only"
    )


def _split_on_conflict(stmt: str) -> tuple[str, str | None]:
    """Split a top-level ``ON CONFLICT …`` clause off an INSERT statement.
    Returns ``(head, clause)`` with ``clause=None`` when absent. Detection
    runs on the literal-masked text so the keywords never match inside
    strings/comments."""
    masked = mask_strings(stmt)
    for m in re.finditer(r"\bon\s+conflict\b", masked, re.I):
        if masked[: m.start()].count("(") == masked[: m.start()].count(")"):
            return stmt[: m.start()].rstrip(), stmt[m.start() :].rstrip().rstrip(";")
    return stmt, None


_DELETE_RE = re.compile(
    r"^\s*delete\s+from\s+([\w.`]+)\s*(?:where\s+(.+))?$", re.I | re.S
)
_DELETE_USING_RE = re.compile(
    r"^\s*delete\s+from\s+([\w.`]+)(?:\s+(?:as\s+)?(?!using\b|where\b)(\w+))?"
    r"\s+using\s+(.+)$",
    re.I | re.S,
)


def _parse_delete_using(ctx: RunContext, stmt: str):
    """``DELETE FROM t [alias] USING <rel> WHERE cond`` (PG delete-join;
    beyond-corpus) → (table, talias, source_df, salias, condition), or
    None. Compiled onto operators.migration.delete_using."""
    m = _DELETE_USING_RE.match(stmt)
    if m is None:
        return None
    table, talias = m.group(1).strip("`"), m.group(2) or m.group(1).split(".")[-1].strip("`")
    rest = m.group(3).rstrip().rstrip(";")
    wi = _find_top_level(rest, "where")
    if wi == -1:
        raise ValueError("DELETE ... USING requires a WHERE join condition")
    src_text, cond = rest[:wi].strip(), rest[wi + 5 :].strip()
    src_sql, salias = _parse_relation(src_text, "DELETE ... USING")
    return table, talias, ctx.spark.sql(src_sql), salias, cond
_UPDATE_RE = re.compile(
    r"^\s*update\s+([\w.`]+)(?:\s+(?:as\s+)?(?!set\b)(\w+))?\s+set\s+", re.I
)


def _find_top_level(text: str, word: str) -> int:
    """Index of keyword ``word`` at paren depth 0 (word-bounded), or -1.
    Scans the literal-masked copy (sqlsplit.mask_strings) so a keyword
    inside a string literal, quoted identifier, or comment never matches —
    ``SET note = 'a where b'`` keeps its literal intact."""
    tl, wl = mask_strings(text).lower(), word.lower()
    depth = 0
    for i in range(len(tl)):
        ch = tl[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and tl.startswith(wl, i):
            before = tl[i - 1] if i else " "
            j = i + len(wl)
            after = tl[j] if j < len(tl) else " "
            if not (before.isalnum() or before == "_") and not (
                after.isalnum() or after == "_"
            ):
                return i
    return -1


def _split_top_level_and(text: str) -> list[str]:
    parts, last = [], 0
    rest = text
    while True:
        i = _find_top_level(rest, "and")
        if i == -1:
            parts.append(rest.strip())
            return parts
        parts.append(rest[:i].strip())
        rest = rest[i + 3 :]


def _split_set_clause(tail: str) -> tuple[dict[str, str], str | None]:
    """Parse ``c1 = e1, c2 = e2 [WHERE p]``. All keyword/comma/= scanning
    runs over the literal-masked copy so quoted text never splits a clause
    (top-level WHERE and commas only; indices map 1:1 onto the original)."""
    wi = _find_top_level(tail, "where")
    set_part, predicate = (
        (tail[:wi], tail[wi + 5 :].strip()) if wi != -1 else (tail, None)
    )
    set_map: dict[str, str] = {}
    mask = mask_strings(set_part)
    depth, parts, last = 0, [], 0
    for i, ch in enumerate(mask):
        depth += ch == "("
        depth -= ch == ")"
        if ch == "," and depth == 0:
            parts.append(set_part[last:i])
            last = i + 1
    parts.append(set_part[last:])
    for p in parts:
        eq = mask_strings(p).find("=")
        if eq < 0:
            raise ValueError(f"cannot parse SET clause item: {p!r}")
        col, expr = p[:eq], p[eq + 1 :]
        set_map[col.strip().strip("`")] = expr.strip()
    return set_map, predicate


_INSERT_HEAD_RE = re.compile(
    r"^\s*insert\s+into\s+([\w.`\"]+)\s*(?:\(([^)]*)\))?\s*(.+)$", re.I | re.S
)


def _parse_insert_on_conflict(ctx: RunContext, stmt: str):
    """``INSERT INTO t[(cols)] <src> ON CONFLICT (keys) DO NOTHING |
    DO UPDATE SET … [WHERE …]`` → (table, source_df, keys, set_map,
    update_where), or None when the statement is not an upsert. PG's
    upsert idiom (reference runs it server-side like all DML); compiled
    onto operators.migration.upsert. In SET expressions reference the
    proposed row as ``excluded.col`` and the existing row as ``t.col``."""
    head, clause = _split_on_conflict(stmt.rstrip().rstrip(";"))
    if clause is None:
        return None
    cm = re.match(
        r"^on\s+conflict\s*\(([^)]*)\)\s*do\s+(nothing\b|update\s+set\s+)(.*)$",
        clause,
        re.I | re.S,
    )
    if cm is None:
        raise ValueError(f"cannot parse ON CONFLICT clause: {clause!r}")
    hm = _INSERT_HEAD_RE.match(head)
    if hm is None:
        raise ValueError(f"cannot parse INSERT head of upsert: {head!r}")
    table = hm.group(1).strip('`"')
    src_df = ctx.spark.sql(hm.group(3))
    if hm.group(2):
        cols = [c.strip().strip('`"') for c in hm.group(2).split(",")]
        src_df = src_df.toDF(*cols)
    keys = [k.strip().strip('`"').lower() for k in cm.group(1).split(",")]
    if cm.group(2).lower().startswith("nothing"):
        return table, src_df, keys, None, None
    set_map, upd_where = _split_set_clause(cm.group(3))
    return table, src_df, keys, set_map, upd_where


def _F_expr(cond: str):
    from pyspark.sql import functions as F

    return F.expr(cond)


def _route_v1_dml(ctx: RunContext, stmt: str, dry: bool = False) -> list | None:
    """Spark cannot run DELETE/UPDATE against v1 (parquet) catalog tables —
    route them through the migration rewrites (anti-filter delete,
    conditional-projection update; operators/migration.py) so reference
    packets like test_insert_info/01_step.sql:1 run unmodified. Returns the
    command-status tuple, or None for statements Spark handles natively.
    ``dry=True`` shadow-executes the same rewrite plan into the noop sink
    (surfacing bad tables/columns/expressions and runtime errors) and
    reports the count it observed, without writing — the no-commit path."""
    from db_converter_spark.operators import migration

    # reference packets wrap statements in '-- tx start/end' comment markers;
    # the route match must see the first keyword, not the comment
    stmt = _strip_leading_comments(stmt)
    ups = _parse_insert_on_conflict(ctx, stmt)
    if ups is not None:
        table, src_df, keys, set_map, upd_where = ups
        if dry:
            return [
                "INSERT",
                migration.shadow_execute(
                    migration.upsert_plan(ctx.spark, table, src_df, keys, set_map, upd_where)
                ),
            ]
        n = migration.upsert(ctx.spark, table, src_df, keys, set_map, upd_where)
        return ["INSERT", n]
    du = _parse_delete_using(ctx, stmt)
    if du is not None:
        table, talias, src_df, salias, cond = du
        if dry:
            return [
                "DELETE",
                migration.shadow_execute(
                    migration.delete_using_plan(ctx.spark, table, talias, src_df, salias, cond)
                ),
            ]
        return [
            "DELETE",
            migration.delete_using(ctx.spark, table, talias, src_df, salias, cond),
        ]
    m = _DELETE_RE.match(stmt)
    if m:
        table, predicate = m.group(1).strip("`"), m.group(2)
        if dry:
            plan = migration.delete_plan(ctx.spark, table, predicate)
            return ["DELETE", migration.shadow_execute(plan)]
        n = migration.delete_where(ctx.spark, table, predicate)
        # reference surfaces py-postgresql's ('DELETE', n) command tuple
        # (dbccore/dbccore.py:866-870) — carry the affected-row count
        return ["DELETE", n]
    m = _UPDATE_RE.match(stmt)
    if m:
        table, talias = m.group(1).strip("`"), m.group(2)
        rest = stmt[m.end() :].rstrip().rstrip(";")
        fi = _find_top_level(rest, "from")
        if fi == -1:
            set_map, predicate = _split_set_clause(rest)
            if dry:
                plan = migration.update_plan(ctx.spark, table, set_map, predicate)
                return ["UPDATE", migration.shadow_execute(plan)]
            n = migration.update_where(ctx.spark, table, set_map, predicate)
            return ["UPDATE", n]
        n = _update_from(ctx, table, talias, rest[:fi], rest[fi + 4 :], dry=dry)
        return ["UPDATE", n]
    return None


def _parse_relation(src_text: str, what: str) -> tuple[str, str]:
    """``(subquery) [AS] alias`` or ``table [AS] alias`` → (sql, alias)."""
    sm = re.match(r"^\((.*)\)\s*(?:as\s+)?(\w+)\s*$", src_text, re.I | re.S)
    if sm:
        return sm.group(1), sm.group(2)
    tm = re.match(r"^([\w.`]+)(?:\s+(?:as\s+)?(\w+))?\s*$", src_text, re.I)
    if not tm:
        raise ValueError(f"cannot parse {what} source: {src_text!r}")
    alias = tm.group(2) or tm.group(1).split(".")[-1].strip("`")
    return f"SELECT * FROM {tm.group(1)}", alias


def _update_from(
    ctx: RunContext,
    table: str,
    talias: str | None,
    set_part: str,
    from_part: str,
    dry: bool = False,
) -> int:
    """PostgreSQL ``UPDATE tgt [a] SET ... FROM (subquery|table) s WHERE
    <cond>`` — the reference's canonical chunked-migration statement
    (reference: packets/test_int4_to_int8/02_step.sql:3-5) — compiled onto
    operators.migration.merge_update. Same-named ``t.k = s.k`` equi-key
    conjunctions take the broadcast left-join path (target never shuffles);
    anything else (range predicates, cross-named keys, OR trees) compiles
    to the arbitrary-``condition`` path, which updates each target row at
    most once via a first-match window — full PG UPDATE...FROM surface."""
    from db_converter_spark.operators import migration

    talias = talias or table.split(".")[-1]
    wi = _find_top_level(from_part, "where")
    if wi == -1:
        raise ValueError("UPDATE ... FROM requires a WHERE join condition")
    src_text, where_text = from_part[:wi].strip(), from_part[wi + 5 :].strip()
    src_sql, salias = _parse_relation(src_text, "UPDATE ... FROM")

    def realias(expr: str) -> str:
        expr = re.sub(rf"\b{re.escape(salias)}\.", "\x02.", expr)
        expr = re.sub(rf"\b{re.escape(talias)}\.", "t.", expr)
        return expr.replace("\x02.", "s.")

    on: list[str] | None = []
    for cond in _split_top_level_and(where_text):
        cm = re.match(r"^\s*(\w+)\.`?(\w+)`?\s*=\s*(\w+)\.`?(\w+)`?\s*$", cond)
        if not cm or {cm.group(1), cm.group(3)} != {talias, salias}:
            on = None  # not a pure equi conjunction → general condition path
            break
        tcol, scol = (
            (cm.group(2), cm.group(4))
            if cm.group(1) == talias
            else (cm.group(4), cm.group(2))
        )
        if tcol != scol:
            on = None
            break
        on.append(tcol)
    condition = None if on else realias(where_text)
    if on == []:
        on = None

    raw_set, _ = _split_set_clause(set_part)
    set_map = {c: realias(e) for c, e in raw_set.items()}
    src_df = ctx.spark.sql(src_sql)
    if dry:
        return migration.shadow_execute(
            migration.merge_update_plan(
                ctx.spark, table, src_df, on, set_map, condition=condition
            )
        )
    return migration.merge_update(
        ctx.spark, table, src_df, on, set_map, condition=condition
    )




def _run_maint(ctx: RunContext, command: str) -> None:
    """The generator's field-0 maintenance side channel (reference:
    dbccore/dbccore.py:954-965). ``vacuum analyze t`` → ANALYZE TABLE;
    other commands run verbatim; failures are notices, not errors."""
    try:
        routed = route_maintenance(ctx.spark, command)
        if routed is None:
            ctx.spark.sql(command).collect()
        ctx.raise_notice("LOG", f"maint done: {command}")
    except Exception as e:  # noqa: BLE001 — maint is advisory
        ctx.raise_notice("WARNING", f"maint failed: {command}: {e}")


class PacketRunner:
    """Packet executor over per-target child sessions.

    NOTE on visibility: each target runs in ``spark.newSession()``; Spark
    caches parquet-table file listings per session, so a session that read
    a table BEFORE a packet wrote to it must ``catalog.refreshTable(t)``
    to see the writes. Fresh sessions (and the packet's own statements)
    always see current data."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str | Path,
        hook: ChatHook | None = None,
        jdbc_targets: dict[str, dict] | None = None,
        pg_targets: dict[str, dict] | None = None,
    ):
        self.spark = spark
        self.warehouse = Path(warehouse_dir)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self.hook = hook  # chat webhook (E17/E18); None = no notifications
        # db-name → {"url", "properties"}: targets backed by a LIVE JDBC
        # remote instead of the local Spark warehouse (the reference's
        # db alias → PG conninfo map, db_converter.py/conf; every packet
        # there executes against a remote connection). Reads register the
        # remote's tables as snapshot views; INSERTs append via the Spark
        # JDBC sink. The ledger/lock stay local per target, same as the
        # reference keeping its actiontracker in the dbc schema.
        self.jdbc_targets = jdbc_targets or {}
        # db-name → {"server": PgServer, "db": <pg database, default
        # 'postgres'>, "schema": <ledger schema, default 'dbc'>}: targets
        # that ARE a live PostgreSQL database (r11, the reference's core
        # deployment shape — db_converter.py:556-685 routes every packet
        # to a PG conninfo with the dbc_* ledger IN that database,
        # actiontracker/actiontracker.py:38-95). Packets on these targets
        # execute natively server-side (sources/pg_live.py) with lock,
        # hash guard, exactly-once action resume, and status all recorded
        # in the target's own dbc schema.
        self.pg_targets = pg_targets or {}
        self._stop_requested: set[str] = set()
        self._stop_lock = threading.Lock()

    # -- target selection (reference: init_dbs_list, db_converter.py:459-484)

    def expand_targets(self, mask: str, known: list[str]) -> list[str]:
        """'ALL', 'ALL,exclude:a,b', glob masks, or comma lists."""
        if mask.startswith("ALL"):
            excl: list[str] = []
            if ",exclude:" in mask:
                excl = mask.split(",exclude:", 1)[1].split(",")
            return [d for d in known if not any(fnmatch.fnmatch(d, e) for e in excl)]
        out = []
        for part in mask.split(","):
            matched = [d for d in known if fnmatch.fnmatch(d, part)]
            # non-glob names pass through verbatim — targets need not be
            # pre-declared (Spark databases are created on demand)
            if not matched and not any(c in part for c in "*?["):
                matched = [part]
            out.extend(matched)
        return sorted(dict.fromkeys(out))

    def stop(self, db_name: str, packet_name: str) -> None:
        """--stop analog: cancel the job group (reference terminates backends
        by application_name, db_converter.py:390-411)."""
        with self._stop_lock:
            self._stop_requested.add(f"{db_name}:{packet_name}")
        self.spark.sparkContext.cancelJobGroup(f"dbc_{db_name}_{packet_name}")

    # -- main entry (reference: MainRoutine.run → run_on_db) ---------------

    def run(
        self,
        packet_dir: str | Path,
        dbs: list[str] | None = None,
        placeholders: dict[str, str] | None = None,
        packet_type: PacketType | None = None,
        force: bool = False,
        seq: bool = False,
        skip_step_cancel: bool = False,
        skip_action_cancel: bool = False,
        export_dir: str | Path | None = None,
    ) -> DBCResult:
        pkt = parse_packet(packet_dir, placeholders)
        ptype = packet_type or pkt.packet_type
        dbs = dbs or ["default"]
        result = DBCResult(CommandType.RUN, ptype)

        def one(db: str) -> None:
            try:
                if db in self.pg_targets:
                    code, status, data = self._run_on_pg(pkt, ptype, db, force)
                else:
                    code, status, data = self._run_on_db(
                        pkt, ptype, db, force, skip_step_cancel, skip_action_cancel,
                        export_dir,
                    )
            except Exception as e:  # noqa: BLE001 — surface as FAIL
                code, status, data = ResultCode.FAIL, PacketStatus.EXCEPTION, {
                    "__error__": [str(e)]
                }
                notify_error(self.hook, pkt.name, db, str(e))
            result.result_code[db] = code
            result.packet_status[db] = status
            result.result_data[db] = data
            if code == ResultCode.SUCCESS:
                notify_results(
                    self.hook, pkt.name, db, data,
                    verbosity=pkt.meta.get("verbosity", "all"),
                )

        if seq or len(dbs) == 1:
            for db in dbs:
                one(db)
        else:
            with ThreadPoolExecutor(max_workers=min(len(dbs), 16)) as pool:
                list(pool.map(one, dbs))
        return result

    # -- live-PostgreSQL target (reference: run_on_db, db_converter.py:
    # -- 556-685 — every packet executes against a PG conninfo with the
    # -- dbc_* ledger in that database) ------------------------------------

    def _run_on_pg(self, pkt: Packet, ptype: PacketType, db: str, force: bool):
        """Route the packet NATIVELY to a live PostgreSQL target (r11).

        Reference parity, in the reference's own order (db_converter.py:
        556-685 + dbccore): init the dbc_* ledger tables in the target DB,
        take the packet lock there (LOCKED + STARTED when already held —
        reference tests/test_packets.py TestDBCLock), enforce the
        hash-change guard (E27), execute every statement server-side with
        exactly-once action resume against the live ``dbc_actions`` (E6),
        stamp step/packet status, and release the lock. READ_ONLY /
        NO_COMMIT / EXPORT_DATA types run untracked (reference: those
        types never consult the ActionTracker, db_converter.py:564-570)
        and LOCKED still applies."""
        from db_converter_spark.sources.pg_live import (
            PgActionTracker,
            PgServerError,
            execute_packet_native,
        )

        cfg = self.pg_targets[db]
        pg_db = cfg.get("db", "postgres")
        tracker = PgActionTracker(
            cfg["server"], db=pg_db, schema=cfg.get("schema", "dbc")
        )
        track = ptype in (PacketType.DEFAULT, PacketType.MAINTENANCE)
        if not tracker.try_lock(pkt.name):
            # reference: ResultCode.LOCKED + PacketStatus.STARTED
            # (db_converter.py:619-627, asserted by TestDBCLock)
            return ResultCode.LOCKED, PacketStatus.STARTED, {}
        try:
            prev_hash = tracker.packet_hash(pkt.name)
            if track and prev_hash not in (None, pkt.packet_hash) and not force:
                raise PacketHashChanged(
                    f"packet {pkt.name} changed (was {prev_hash}, now"
                    f" {pkt.packet_hash}); wipe or force"
                )
            try:
                data = execute_packet_native(
                    cfg["server"], pkt, db=pg_db,
                    tracker=tracker if track else None,
                )
            except PgServerError as e:
                notify_error(self.hook, pkt.name, db, str(e))
                return ResultCode.FAIL, PacketStatus.EXCEPTION, {
                    "__error__": [str(e)]
                }
            return ResultCode.SUCCESS, PacketStatus.DONE, data
        finally:
            tracker.unlock(pkt.name)

    # -- per-target worker (reference: worker_db_func) ---------------------

    def _run_on_db(
        self,
        pkt: Packet,
        ptype: PacketType,
        db: str,
        force: bool,
        skip_step_cancel: bool,
        skip_action_cancel: bool,
        export_dir: str | Path | None,
    ):
        session = self.spark.newSession()
        for k, v in pkt.session_conf.items():
            session.conf.set(k, v)
        session.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        session.catalog.setCurrentDatabase(db)
        # one job group per (target, packet), which the step watchdog and
        # stop() cancel; the job description names the step and action that
        # own each job, so the status store can attribute every one of them
        session.sparkContext.setJobGroup(
            f"dbc_{db}_{pkt.name}", _job_label(pkt.name, db), interruptOnCancel=True
        )

        tracker = ActionTracker(self.warehouse / db / "dbc_ledger.sqlite")
        lock_name = pkt.name
        if not tracker.try_lock(lock_name):
            return ResultCode.LOCKED, PacketStatus.NEW, {}
        try:
            # READ_ONLY gates writes; EXPORT_DATA does NOT — in the reference
            # only all-SELECT steps export, any other step executes normally
            # (test_export_data/01_test.sql creates its tables in-packet;
            # reference: export_data returns False on mixed statements and
            # the step falls through to normal execution, dbccore:724-831)
            read_only = ptype == PacketType.READ_ONLY
            track = ptype == PacketType.DEFAULT or ptype == PacketType.MAINTENANCE
            # per-step budget in seconds (reference: statement_timeout GUC,
            # db_converter.py:78; enforced here by the job-group watchdog E21)
            step_timeout = pkt.meta.get("statement_timeout")

            prev_hash = tracker.packet_hash(pkt.name)
            if track and prev_hash not in (None, pkt.packet_hash) and not force:
                raise PacketHashChanged(
                    f"packet {pkt.name} changed (was {prev_hash}, now {pkt.packet_hash});"
                    " wipe or force"
                )
            packet_id = tracker.upsert_packet(pkt.name, pkt.packet_hash, pkt.meta) if track else -1

            ctx = RunContext(session, db, pkt, read_only)
            if track:
                ctx.tracker = tracker  # sequence counters share the ledger
            ctx.no_commit = ptype == PacketType.NO_COMMIT
            jdbc_cfg = self.jdbc_targets.get(db)
            if jdbc_cfg:
                # LIVE target: every remote table becomes a snapshot view
                # BEFORE generators evaluate, so fan-out SQL reads the
                # remote (reference: generators run server-side on the
                # target connection, dbccore/dbccore.py:538-541)
                from db_converter_spark.sources.jdbc import register_remote_views

                props = dict(jdbc_cfg.get("properties") or {})
                tables = register_remote_views(session, jdbc_cfg["url"], props)
                ctx.jdbc_target = {
                    "url": jdbc_cfg["url"],
                    "properties": props,
                    "tables": {t.lower() for t in tables},
                }
            if ctx.dialect == "postgres":
                # PG-dialect packets get the full introspection surface the
                # reference's alert_*/dba_* family expects: pg_catalog +
                # information_schema emulation views and the PG-named SQL
                # shims (quote_ident etc.). Driver-side metadata, no scans.
                from db_converter_spark.functions import register_pg_compat

                register_pg_compat(session)
                ctx.refresh_catalog()
                # Live ledger snapshot as the dbc_packets view — reference
                # packets introspect their own ledger row (reference:
                # packets/test_insert_delete_select/01_step.sql)
                local_relation(
                    session,
                    tracker.dump_packets(),
                    "id bigint, name string, status string, dt string,"
                    " packet_hash string, meta_data string",
                ).createOrReplaceTempView("dbc_packets")
            data: dict[str, list] = {}
            status = PacketStatus.DONE

            if ptype == PacketType.EXPORT_DATA:
                out_dir = Path(export_dir or (self.warehouse / db / "export"))
                for step in pkt.steps:
                    ctx.current_step_results = []
                    stmts = split_statements(step.text)
                    if stmts and all(statement_kind(s) == "query" for s in stmts):
                        files = export_statements(
                            session, db, stmts, out_dir,
                            export_options=pkt.meta.get("export_options"),
                        )
                        ctx.current_step_results.append(
                            [["exported"], *[[f] for f in files]]
                        )
                    else:
                        # mixed/DDL step: executes normally (reference
                        # behavior — setup steps live inside export packets)
                        for stmt in stmts:
                            _run_statement(ctx, stmt)
                    data[step.name] = ctx.current_step_results
                tracker.set_packet_status(pkt.name, "done") if track else None
                return ResultCode.SUCCESS, PacketStatus.DONE, data

            # generators are evaluated AFTER run_once (reference ordering,
            # dbccore/dbccore.py:536-541)
            steps = ([pkt.run_once] if pkt.run_once else []) + pkt.steps
            gen_cache: dict[str, list] = {}

            seen_hashes: set[str] = set()
            for step in steps:
                ctx.current_step_results = []
                session.sparkContext.setJobDescription(_job_label(pkt.name, db, step.name))
                step_id = tracker.upsert_step(packet_id, step.name) if track else -1
                try:
                    with StepWatchdog(
                        session, f"dbc_{db}_{pkt.name}", step_timeout
                    ) as wd:
                        if step.kind == "py":
                            # A py step is one action: same md5 exactly-once
                            # dedup as SQL actions (reference applies the
                            # ActionTracker to every statement; py twins of
                            # plpgsql steps must skip on rerun the same way —
                            # reference: tests/test_packets.py:669-702 reruns
                            # test_dba_clone_schema expecting dedup).
                            h = hashlib.md5(step.text.encode()).hexdigest()
                            if track and tracker.is_action_done(
                                packet_id, step_id, h
                            ):
                                ctx.raise_notice(
                                    "LOG",
                                    f"action {h[:8]} already applied, skipping",
                                )
                            else:
                                self._run_py_step(ctx, step.text)
                                if track:
                                    tracker.apply_action(packet_id, step_id, h)
                        else:
                            self._run_sql_step(
                                ctx, tracker, track, packet_id, step_id, step, pkt,
                                gen_cache, seen_hashes, skip_action_cancel,
                            )
                    if wd.fired:
                        raise TimeoutError(
                            f"step {step.name} exceeded statement_timeout="
                            f"{step_timeout}s; job group cancelled"
                        )
                    if track:
                        tracker.set_step_status(step_id, "done")
                except PLRaiseError as e:
                    # Deliberate RAISE EXCEPTION = alert, not failure: fire
                    # the error hook and continue; the step counts as done
                    # (reference: dbccore:1126-1128 → raise_error_logic).
                    notify_error(self.hook, pkt.name, db, str(e))
                    ctx.raise_notice("RAISE", str(e))
                    if track:
                        tracker.set_step_status(step_id, "done")
                except Exception as e:  # noqa: BLE001
                    if track:
                        tracker.set_step_status(step_id, "exception", str(e)[:2000])
                    ctx.raise_notice("EXCEPTION", str(e))
                    if skip_step_cancel:
                        continue
                    status = PacketStatus.EXCEPTION
                    data[step.name] = ctx.current_step_results
                    break
                finally:
                    if ctx.current_step_results:
                        data[step.name] = ctx.current_step_results

                if step is pkt.run_once:
                    if ctx.dialect == "postgres":
                        # run_once DDL changed the catalog; re-snapshot the
                        # emulation views before generators query them
                        ctx.refresh_catalog()
                    if not gen_cache:
                        # evaluate generators once run_once completed
                        gen_cache.update(self._eval_generators(session, pkt))

            if not pkt.run_once and not gen_cache:
                pass  # generators were evaluated lazily inside the step loop

            if track:
                tracker.set_packet_status(
                    pkt.name, "done" if status == PacketStatus.DONE else "exception"
                )
            code = ResultCode.SUCCESS if status == PacketStatus.DONE else ResultCode.FAIL
            return code, status, data
        finally:
            tracker.unlock(lock_name)
            tracker.close()

    # -- generators --------------------------------------------------------

    def _eval_generators(self, session: SparkSession, pkt: Packet) -> dict[str, list]:
        """collect() every generator resultset once (reference:
        dbccore/dbccore.py:538-541). Generators are small parameter grids —
        driver-side materialization is the point. PG-dialect packets run
        their generator SQL through the same rewriter as step SQL."""
        out: dict[str, list] = {}
        if pkt.meta.get("dialect") == "postgres":
            gen_obj = {i: pg_rewrite(s, pkt.session_conf) for i, s in pkt.gen_obj.items()}
            gen_nsp = {i: pg_rewrite(s, pkt.session_conf) for i, s in pkt.gen_nsp.items()}
        else:
            gen_obj, gen_nsp = pkt.gen_obj, pkt.gen_nsp
        for idx, sql in gen_obj.items():
            out[f"obj:{idx}"] = [tuple(r) for r in session.sql(sql).collect()]
        for idx, sql in gen_nsp.items():
            out[f"nsp:{idx}"] = [tuple(r) for r in session.sql(sql).collect()]
        return out

    def _run_sql_step(
        self,
        ctx: RunContext,
        tracker: ActionTracker,
        track: bool,
        packet_id: int,
        step_id: int,
        step,
        pkt: Packet,
        gen_cache: dict[str, list],
        seen_hashes: set[str],
        skip_action_cancel: bool,
    ) -> None:
        session = ctx.spark
        # lazily evaluate generators if not yet done (packets without
        # run_once) — but NEVER while executing run_once itself: generators
        # may reference tables run_once is about to create (reference
        # evaluates generators strictly after run_once, dbccore:536-541)
        if step is not pkt.run_once and (pkt.gen_obj or pkt.gen_nsp) and not gen_cache:
            gen_cache.update(self._eval_generators(session, pkt))

        obj_rows = gen_cache.get(f"obj:{step.index}")
        nsp_rows = gen_cache.get(f"nsp:{step.index}")

        def actions():
            """Yield (action_sql, [maint_cmds]) per binding — the reference's
            three fan-out cases (dbccore/dbccore.py:921-1087). In the
            cartesian case the reference runs BOTH maintenance commands —
            the nsp row's first, then the obj row's with GEN_NSP
            placeholders applied to it."""
            if obj_rows is not None and nsp_rows is not None:
                for nrow in nsp_rows:  # cartesian nsp × obj (case 1)
                    for orow in obj_rows:
                        sql = apply_gen_placeholders(step.text, nrow, "GEN_NSP")
                        sql = apply_gen_placeholders(sql, orow, "GEN_OBJ")
                        maints = []
                        if nrow and nrow[0]:
                            maints.append(str(nrow[0]))
                        if orow and orow[0]:
                            maints.append(
                                apply_gen_placeholders(str(orow[0]), nrow, "GEN_NSP")
                            )
                        yield sql, maints
            elif obj_rows is not None:
                for orow in obj_rows:  # case 2
                    yield (
                        apply_gen_placeholders(step.text, orow, "GEN_OBJ"),
                        [str(orow[0])] if orow and orow[0] else [],
                    )
            elif nsp_rows is not None:
                for nrow in nsp_rows:  # case 3
                    yield (
                        apply_gen_placeholders(step.text, nrow, "GEN_NSP"),
                        [str(nrow[0])] if nrow and nrow[0] else [],
                    )
            else:
                yield step.text, []

        for i, (action_sql, maints) in enumerate(actions(), 1):
            session.sparkContext.setJobDescription(
                _job_label(pkt.name, ctx.db_name, step.name, f"action {i}")
            )
            h = hashlib.md5(action_sql.encode()).hexdigest()
            if h in seen_hashes or (track and tracker.is_action_done(packet_id, step_id, h)):
                ctx.raise_notice("LOG", f"action {h[:8]} already applied, skipping")
                continue
            for mc in maints:
                _run_maint(ctx, mc)
            try:
                for stmt in split_statements(action_sql):
                    _run_statement(ctx, stmt)
            except ReadOnlyViolation:
                raise
            except Exception as e:  # noqa: BLE001
                if skip_action_cancel:
                    ctx.raise_notice("WARNING", f"action {h[:8]} failed, skipped: {e}")
                    continue
                raise
            seen_hashes.add(h)
            if track:
                tracker.apply_action(packet_id, step_id, h)

    # -- python steps (reference: dbccore/dbccore.py:1113-1115) ------------

    def _run_py_step(self, ctx: RunContext, code: str) -> None:
        scope = {
            "spark": ctx.spark,
            "ctx": ctx,
            "db_local": ctx,
            "PLRaiseError": PLRaiseError,
        }
        exec(compile(code, "<py_step>", "exec"), scope)  # noqa: S102 — packet
        # steps are trusted engine inputs, same stance as the reference


def render_results(data: dict[str, list]) -> str:
    """stdout sink: fixed-width tables per captured resultset (E15)."""
    out = []
    for step, results in data.items():
        out.append(f"== {step} ==")
        for res in results:
            if res and isinstance(res[0], list):
                out.append(print_table(res))
            else:
                out.append(str(res))
    return "\n".join(out)
