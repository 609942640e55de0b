"""Packet runner — the reference's worker/step/action executor rebuilt on
Spark (reference: worker_db_func + execute_step + execute_q,
dbccore/dbccore.py:379-627, 831-903, 905-1181).

Execution model:
- one loop, :meth:`PacketRunner._run_on_db`, runs every packet type on
  every target: lock, hash guard, ledger rows, ``run_once`` then
  generators, action binding and md5 dedup, skip flags, status.
- a *target* is a Spark database or a live PostgreSQL database; it
  supplies only its channel (a :class:`RunContext`: run one statement,
  evaluate a generator, run a maintenance command, export) and its
  ledger. A Spark target is one catalog database in an isolated
  ``spark.newSession()`` child with a SQLite ledger; a live-PostgreSQL
  target (``pg_targets``, ``sources/pg_live.PgRunContext``) runs
  server-side over psql with the ``dbc_*`` ledger in that database.
  Targets run in parallel driver threads (reference:
  db_converter.py:633-647).
- one *step* = one SQL (or Python) file; one *action* = one placeholder
  binding of a step, identity = md5 of the final SQL, dedup'd against the
  ledger for idempotent resume (reference: dbccore/dbccore.py:941-951).
  An action is recorded done only after every statement in it succeeded;
  cross-table atomicity is best-effort, as in the reference (SURVEY §7.3).
- export: in an EXPORT_DATA packet an action whose statements are all
  SELECTs writes one CSV per statement; any other action runs normally
  (reference: ``execute_q`` → ``export_data``, dbccore/dbccore.py:724-831).
- DML on Spark: statement text is parsed only by ``sqlsplit.parse_dml``.
  Every parsed statement Spark cannot run natively (UPDATE/DELETE on
  parquet, upserts, the join forms) maps to one counted plan
  (:func:`_dml_plan`), and :func:`_run_statement` checks ``ctx.no_commit``
  once: the plan shadow-executes into the noop sink or is committed
  (``migration.commit``). Intermediates reach ``spark.sql`` as DataFrame
  arguments; the runner registers no temp view other than the
  ``dbc_packets`` ledger snapshot.
"""

from __future__ import annotations

import fnmatch
import hashlib
import re
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from db_converter_spark.catalog import local_relation
from db_converter_spark.operators import migration
from db_converter_spark.operators.maintenance import DEFAULT_PROP_PREFIX, route_maintenance
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
from db_converter_spark.plans.packet import Packet, bind_actions, parse_packet
from db_converter_spark.plans.hooks import ChatHook, notify_error, notify_results
from db_converter_spark.plans.pgdialect import UnsupportedConstruct
from db_converter_spark.plans.pgdialect import rewrite as pg_rewrite
from db_converter_spark.plans.sequences import (
    route_sequence_ddl,
    substitute_sequence_calls,
)
from db_converter_spark.plans.watchdog import StepWatchdog
from db_converter_spark.plans.sqlsplit import (
    Dml,
    _strip_leading_comments,
    is_read_only_ok,
    parse_dml,
    split_statements,
    statement_kind,
)


class ReadOnlyViolation(Exception):
    """Write statement inside a read-only packet (reference:
    ReadOnlyTransactionError path, dbccore/dbccore.py:1221-1402)."""


class PacketHashChanged(Exception):
    """Packet content changed since last (unfinished) run and --force not
    given (reference: dbccore/dbccore.py:449-463)."""


class RunContext:
    """Per-(target, packet) execution context and a Spark target's channel;
    also the ``ctx`` object handed to Python steps (reference exposes
    ``self``/``db_local`` to py-steps, dbccore/dbccore.py:1113-1115).

    The packet loop reaches its target only through ``prepare``,
    ``execute`` (which applies the READ ONLY gate, then the channel's
    ``_execute``), ``generator_rows``, ``maint``, ``export``, ``label``,
    ``watchdog`` and ``refresh_catalog``; a live-PostgreSQL target
    overrides all of them but ``execute`` (``sources/pg_live.PgRunContext``)."""

    # False: the target has no Python channel; the loop lists its py steps
    # under ``skipped_py`` instead of running them
    python_steps = True

    def __init__(self, spark: SparkSession, db_name: str, packet: Packet, read_only: bool):
        self.spark = spark
        self.db_name = db_name
        self.packet = packet
        self.read_only = read_only
        # "postgres" → run each statement through the PG→Spark rewriter so
        # reference-style packets execute unmodified (meta_data.json key
        # ``dialect``; SURVEY §7.1 L2 dialect level). Actions are split
        # under the same dialect's lexer rules (plans/sqlsplit.lex).
        self.dialect = packet.meta.get("dialect", "spark")
        # no_commit = dry-run: queries run; routed DML SHADOW-EXECUTES into
        # the noop sink and reports its would-be rowcount (the Spark analog
        # of the reference's execute+rollback, dbccore/dbccore.py:886-888);
        # remaining writes are validated with EXPLAIN EXTENDED (E13)
        self.no_commit = False
        # set for an EXPORT_DATA run: where all-SELECT actions write CSVs
        self.export_dir: Path | None = None
        self.messages: list[tuple[str, str]] = []  # (severity, text) — E16 channel
        self.current_step_results: list = []
        # per-target ledger; attached by the run loop when tracking is on
        self.tracker: ActionTracker | None = None

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

    def prepare(self, ledger: ActionTracker) -> None:
        """Once the packet row is in ``ledger``, PG-dialect packets get the
        surface the reference's alert_*/dba_* family introspects: pg_catalog
        + information_schema views, PG-named SQL shims and the ledger as the
        ``dbc_packets`` view (packets/test_insert_delete_select/01_step.sql
        reads its own row). Driver-side metadata, no scans."""
        if self.dialect != "postgres":
            return
        from db_converter_spark.functions import register_pg_compat

        register_pg_compat(self.spark)
        self.refresh_catalog()
        local_relation(
            self.spark,
            ledger.dump_packets(),
            "id bigint, name string, status string, dt string,"
            " packet_hash string, meta_data string",
        ).createOrReplaceTempView("dbc_packets")

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
        """Run one statement and capture it (also for py-steps). Every
        target's statements pass here, so a READ ONLY packet's write is
        refused before any channel sees it."""
        if self.read_only and not is_read_only_ok(sql):
            raise ReadOnlyViolation(f"write statement in read-only packet: {sql[:80]}...")
        return self._execute(sql)

    def _execute(self, sql: str) -> list:
        """The target's statement channel: dialect rewrite, routing and the
        counted DML plans on Spark."""
        return _run_statement(self, sql)

    def generator_rows(self, sql: str) -> list[tuple]:
        """One generator's rows, collected to the driver: generators are
        small parameter grids. PG-dialect packets run their generator SQL
        through the same rewriter as step SQL."""
        if self.dialect == "postgres":
            sql = pg_rewrite(sql, self.packet.session_conf)
        return [tuple(r) for r in self.spark.sql(sql).collect()]

    def maint(self, command: str) -> None:
        """A generator row's maintenance command: ``vacuum analyze t`` →
        ANALYZE TABLE (operators/maintenance.py); anything else verbatim."""
        if route_maintenance(self.spark, command) is None:
            self.spark.sql(command).collect()

    def export(self, statements: list[str]) -> list[str]:
        """Write each SELECT to a CSV under ``export_dir`` (plans/export.py)."""
        return export_statements(
            self.spark, self.db_name, statements, self.export_dir,
            export_options=self.packet.meta.get("export_options"),
        )

    def label(self, *parts: str) -> None:
        """Name the step or action that owns the Spark jobs that follow."""
        self.spark.sparkContext.setJobDescription(
            _job_label(self.packet.name, self.db_name, *parts)
        )

    def watchdog(self, timeout_s: float | None) -> StepWatchdog:
        """Cancel the target's job group when a step overruns ``timeout_s``."""
        return StepWatchdog(self.spark, _job_group(self.packet.name, self.db_name), timeout_s)


def _job_group(packet: str, db: str) -> str:
    """The Spark job group of one (target, packet) run; stop() cancels it."""
    return f"dbc_{db}_{packet}"


def _job_label(packet: str, db: str, *parts: str) -> str:
    """Spark job description: ``packet P on D[ / step[ / action n]]``."""
    return " / ".join((f"packet {packet} on {db}", *parts))


def _capture_select(df) -> list:
    cols = [f if f else ANON_COLUMN for f in df.columns]
    rows = [list(r) for r in df.collect()]
    return [cols] + rows


# the PG command word a parsed DML statement reports
_COMMAND = {
    "insert": "INSERT",
    "upsert": "INSERT",
    "update": "UPDATE",
    "update-from": "UPDATE",
    "delete": "DELETE",
    "delete-using": "DELETE",
}
_EQUI_RE = re.compile(r"\s*(\w+)\.`?(\w+)`?\s*=\s*(\w+)\.`?(\w+)`?\s*")


def _run_statement(ctx: RunContext, stmt: str) -> list:
    kind = statement_kind(stmt)
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
    dml = parse_dml(stmt)
    if dml is not None and dml.returning is not None:
        # PG RETURNING: rows the DML touches, surfaced as a resultset
        # (reference clients consume psycopg rows; pairs with sequence
        # defaults — the standard way to read back generated ids). Rows are
        # computed from the pre-statement snapshot (PG semantics), then the
        # statement without the clause executes through the normal flow (a
        # recursive call — every rewrite above is idempotent on its output).
        table_rows = _capture_select(_returning_rows(ctx, dml))
        _run_statement(ctx, dml.statement)
        ctx.current_step_results.append(table_rows)
        return table_rows
    routed = _dml_plan(ctx, dml) if dml is not None else None
    if routed is not None:
        command, (table, counted) = _COMMAND[dml.kind], routed
        # the reference surfaces py-postgresql's ('UPDATE', n) command tuple
        # (dbccore/dbccore.py:866-870); n is observed on the plan that runs.
        # no_commit SHADOW-EXECUTES the exact plan a commit would write into
        # the noop sink — the reference's execute-then-rollback
        # (dbccore/dbccore.py:886-888) — and reports the would-be count
        if ctx.no_commit:
            status = [command, migration.shadow_execute(counted), "no_commit"]
        else:
            status = [command, migration.commit(ctx.spark, table, counted)]
        ctx.current_step_results.append([status])
        return [status]
    if ctx.no_commit and kind != "query":
        # dry-run of every other write: EXPLAIN EXTENDED, where a missing
        # Physical Plan section marks failure (Spark prints the error text
        # in place of the plan)
        plan = ctx.spark.sql(f"EXPLAIN EXTENDED {stmt}").collect()[0][0]
        if "== Physical Plan ==" not in plan or "Error occurred during query planning" in plan:
            raise RuntimeError(f"no_commit validation failed: {plan[:500]}")
        status = [_strip_leading_comments(stmt).split()[0].upper(), "no_commit"]
        ctx.current_step_results.append([status])
        return [status]
    df = ctx.spark.sql(stmt)
    if kind == "query":
        table = _capture_select(df)
        ctx.current_step_results.append(table)
        return table
    # DML/DDL/utility: Spark reports no rowcount; capture the command word as
    # the status tuple (the reference captures e.g. ('UPDATE 100',),
    # dbccore/dbccore.py:866-883 — rowcount is a documented gap on Spark)
    df.collect()
    status = [_strip_leading_comments(stmt).split()[0].upper()]
    ctx.current_step_results.append([status])
    return [status]


def _dml_plan(ctx: RunContext, dml: Dml) -> "tuple[str, migration.CountedPlan] | None":
    """The table a parsed DML statement writes and its counted plan
    (operators/migration.py), or None for an INSERT Spark runs natively.

    Spark cannot UPDATE/DELETE v1 (parquet) catalog tables, so those,
    upserts and the join forms compile onto the migration rewrites, and
    reference packets like test_insert_info/01_step.sql:1 run unmodified."""
    spark = ctx.spark
    if dml.kind == "insert":
        return None
    if dml.kind == "upsert":
        source = _insert_source(spark, dml)
        return dml.table, migration.upsert_plan(
            spark, dml.table, source, list(dml.conflict_keys), dml.set_map, dml.predicate
        )
    if dml.kind == "update":
        return dml.table, migration.update_plan(spark, dml.table, dml.set_map, dml.predicate)
    if dml.kind == "delete":
        return dml.table, migration.delete_plan(spark, dml.table, dml.predicate)
    source = spark.sql(dml.source)
    if dml.kind == "delete-using":
        return dml.table, migration.delete_using_plan(
            spark, dml.table, dml.alias, source, dml.source_alias, dml.predicate
        )
    on, condition, set_map = _merge_args(dml)
    return dml.table, migration.merge_update_plan(
        spark, dml.table, source, on, set_map, condition=condition
    )


def _merge_args(dml: Dml) -> tuple[list[str] | None, str | None, dict[str, str]]:
    """``(on, condition, set_map)`` of :func:`migration.merge_update_plan`
    for ``UPDATE tgt [a] SET ... FROM (subquery|table) s WHERE <cond>`` —
    the reference's canonical chunked-migration statement (reference:
    packets/test_int4_to_int8/02_step.sql:3-5). A condition made only of
    same-named ``t.k = s.k`` conjunctions takes the broadcast equi-join
    path (the target never shuffles); anything else (range predicates,
    cross-named keys, OR trees) takes the arbitrary-``condition`` path,
    which updates each target row at most once via a first-match window —
    the full PG UPDATE...FROM surface. A conjunct holding a literal or a
    parenthesis never matches the equi shape, so splitting on ``and``
    without masking cannot take the equi path wrongly."""
    talias, salias = dml.alias, dml.source_alias

    def realias(expr: str) -> str:
        expr = re.sub(rf"\b{re.escape(salias)}\.", "\x02.", expr)
        expr = re.sub(rf"\b{re.escape(talias)}\.", "t.", expr)
        return expr.replace("\x02.", "s.")

    on: list[str] | None = []
    for cond in re.split(r"\s+and\s+", dml.predicate, flags=re.I):
        m = _EQUI_RE.fullmatch(cond)
        if m is None or {m[1], m[3]} != {talias, salias} or m[2] != m[4]:
            on = None
            break
        on.append(m[2])
    set_map = {c: realias(e) for c, e in dml.set_map.items()}
    return on, None if on else realias(dml.predicate), set_map


def _insert_source(spark: SparkSession, dml: Dml):
    """An INSERT's row source as a DataFrame whose columns are named after
    the ``dml.table`` columns they fill (PG binds a missing column list by
    position)."""
    df = spark.sql(dml.source)
    return df.toDF(*(dml.columns or spark.table(dml.table).columns[: len(df.columns)]))


def _recorded_defaults(spark: SparkSession, table: str) -> dict[str, str]:
    """Lowercased column → recorded ``dbc.default.<col>`` expression
    (operators/maintenance.py `_alter_default`); empty for a temp view or
    an unknown table."""
    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    except Exception:  # noqa: BLE001 — temp view / unknown table: not ours
        return {}
    return {
        r["key"][len(DEFAULT_PROP_PREFIX) :].lower(): r["value"]
        for r in rows
        if r["key"].startswith(DEFAULT_PROP_PREFIX)
    }


def _expand_insert_defaults(ctx: RunContext, stmt: str) -> str:
    """``INSERT INTO t(cols…) …`` where an omitted column carries a recorded
    ``dbc.default.<col>`` property (operators/maintenance.py `_alter_default`,
    reference: packets/test_int4_to_int8/07_step.sql inserting through a
    serial DEFAULT) → rewrite to a full-projection INSERT with the default
    expression inlined; PG's ``INSERT INTO t DEFAULT VALUES`` takes the
    same path with one row of defaults (or NULLs). Defaults containing
    sequence calls get block-inlined by :func:`substitute_sequence_calls`
    immediately after. Statements whose omitted columns have no recorded
    default are left to Spark (by-name column-list INSERT fills NULLs
    natively)."""
    dml = parse_dml(stmt)
    if dml is None or dml.kind not in ("insert", "upsert"):
        return stmt
    props = _recorded_defaults(ctx.spark, dml.table)
    cols = [c.lower() for c in dml.columns or ()]
    if dml.source is not None and not (cols and props):
        return stmt
    schema = ctx.spark.table(dml.table).schema
    omitted = {f.name.lower() for f in schema} - set(cols)
    if dml.source is not None and not omitted & props.keys():
        return stmt
    proj = []
    for f in schema:
        n = f.name.lower()
        if n in cols:
            proj.append(f"`{f.name}`")
        elif n in props:
            proj.append(f"({props[n]}) AS `{f.name}`")
        else:
            proj.append(f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`")
    out = f"INSERT INTO {dml.table} SELECT {', '.join(proj)}"
    if dml.source is not None:
        # the source's outputs bind to the provided column names by position
        # (arbitrary expressions have no usable names)
        names = ", ".join(f"`{c}`" for c in cols)
        out = f"{out} FROM ({dml.source}) AS __dbc_src({names})"
    if dml.kind == "upsert":
        keys = ", ".join(dml.conflict_keys)
        action = "NOTHING"
        if dml.set_map is not None:
            action = "UPDATE SET " + ", ".join(f"`{c}` = {e}" for c, e in dml.set_map.items())
            action += f" WHERE {dml.predicate}" if dml.predicate else ""
        out = f"{out} ON CONFLICT ({keys}) DO {action}"
    return f"{out} RETURNING {dml.returning}" if dml.returning else out


def _returning_rows(ctx: RunContext, dml: Dml):
    """DataFrame of PG ``RETURNING`` rows for a parsed statement (defaults
    expanded, sequence calls inlined): DELETE returns the OLD rows, UPDATE
    the NEW values of matched rows, INSERT the rows being inserted, upsert
    the inserted + updated post-image. Evaluated against the pre-statement
    state, like PG (the statement sees the same snapshot)."""
    spark, table = ctx.spark, dml.table
    where = f" WHERE ({dml.predicate})" if dml.predicate else ""
    if dml.kind == "update-from":
        raise UnsupportedConstruct(
            "RETURNING on UPDATE ... FROM is not supported — port to a py-step"
        )
    if dml.kind == "update":
        proj = ", ".join(
            f"({dml.set_map[c]}) AS `{c}`" if c in dml.set_map else f"`{c}`"
            for c in spark.table(table).columns
        )
        alias = f" {dml.alias}" if dml.alias else ""
        return spark.sql(
            f"SELECT {dml.returning} FROM (SELECT {proj} FROM {table}{alias}{where}) __dbc_ret"
        )
    if dml.kind == "delete":
        return spark.sql(f"SELECT {dml.returning} FROM (SELECT * FROM {table}{where}) __dbc_ret")
    alias = ""
    if dml.kind == "delete-using":
        rows = spark.table(table).alias(dml.alias).join(
            spark.sql(dml.source).alias(dml.source_alias), F.expr(dml.predicate), "left_semi"
        )
        # re-alias to the target's name so qualified RETURNING refs resolve
        alias = f" {dml.alias}"
    elif dml.kind == "upsert":
        rows = migration.upsert_affected_plan(
            spark, table, _insert_source(spark, dml), list(dml.conflict_keys),
            dml.set_map, dml.predicate,
        )
    else:
        rows = _insert_source(spark, dml)
        for f in spark.table(table).schema:
            if f.name not in rows.columns:
                rows = rows.withColumn(f.name, F.lit(None).cast(f.dataType))
    # the rows are a DataFrame argument, never a temp view; literal braces
    # in the RETURNING list are escaped for the argument formatter
    ret = dml.returning.replace("{", "{{").replace("}", "}}")
    return spark.sql(f"SELECT {ret} FROM {{rows}}{alias}", rows=rows)


def _run_maint(ctx: RunContext, command: str) -> None:
    """The generator's field-0 maintenance side channel (reference:
    dbccore/dbccore.py:954-965), on the target's own channel; failures are
    notices, not errors."""
    try:
        ctx.maint(command)
        ctx.raise_notice("LOG", f"maint done: {command}")
    except Exception as e:  # noqa: BLE001 — maint is advisory
        ctx.raise_notice("WARNING", f"maint failed: {command}: {e}")


def expand_targets(mask: str, known: list[str]) -> list[str]:
    """Target names for a ``--db`` mask over ``known`` (reference:
    init_dbs_list, db_converter.py:459-484): 'ALL', 'ALL,exclude:a,b', glob
    masks, or comma lists."""
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


def open_ledger(warehouse: Path, db: str, pg_targets: dict[str, dict]) -> ActionTracker:
    """Target ``db``'s ``dbc_*`` ledger (reference: run_on_db,
    db_converter.py:556-685): in the target database for a live-PostgreSQL
    target, else a SQLite file in the warehouse. Starts no Spark session."""
    cfg = pg_targets.get(db)
    if cfg is None:
        return ActionTracker(Path(warehouse) / db / "dbc_ledger.sqlite")
    from db_converter_spark.sources.pg_live import PsqlChannel

    return ActionTracker(
        PsqlChannel(cfg["server"], cfg.get("db", "postgres"), cfg.get("schema", "dbc"))
    )


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
        pg_targets: dict[str, dict] | None = None,
    ):
        self.spark = spark
        self.warehouse = Path(warehouse_dir)
        self.warehouse.mkdir(parents=True, exist_ok=True)
        self.hook = hook  # chat webhook (E17/E18); None = no notifications
        # db-name → {"server": PgServer, "db": <pg database, default
        # 'postgres'>, "schema": <ledger schema, default 'dbc'>}: targets
        # that ARE a live PostgreSQL database (the reference's core
        # deployment shape — db_converter.py:556-685 routes every packet
        # to a PG conninfo with the dbc_* ledger IN that database,
        # actiontracker/actiontracker.py:38-95). The same packet loop runs
        # them; statements execute server-side (sources/pg_live.py) and
        # the ledger is the target's own dbc schema.
        self.pg_targets = pg_targets or {}

    def stop(self, db_name: str, packet_name: str) -> None:
        """--stop analog: cancel the job group (reference terminates backends
        by application_name, db_converter.py:390-411)."""
        self.spark.sparkContext.cancelJobGroup(_job_group(packet_name, db_name))

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
        if dbs is None:
            dbs = ["default"]
        result = DBCResult(CommandType.RUN, ptype)

        def one(db: str) -> None:
            try:
                code, status, data = self._run_on_db(
                    *self._open_target(pkt, db), ptype, force, skip_step_cancel,
                    skip_action_cancel, export_dir,
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

        if seq or len(dbs) <= 1:
            for db in dbs:
                one(db)
        else:
            with ThreadPoolExecutor(max_workers=min(len(dbs), 16)) as pool:
                list(pool.map(one, dbs))
        return result

    # -- targets (reference: run_on_db, db_converter.py:556-685) -----------

    def _open_target(self, pkt: Packet, db: str):
        """``(ctx, ledger)`` for target ``db``: a live-PostgreSQL target runs
        over psql; any other is a Spark catalog database."""
        cfg = self.pg_targets.get(db)
        if cfg is not None:
            from db_converter_spark.sources.pg_live import PgRunContext

            ctx = PgRunContext(cfg["server"], cfg.get("db", "postgres"), pkt, db)
            return ctx, open_ledger(self.warehouse, db, self.pg_targets)
        session = self.spark.newSession()
        for k, v in pkt.session_conf.items():
            session.conf.set(k, v)
        session.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        session.catalog.setCurrentDatabase(db)
        # one job group per (target, packet), which the step watchdog and
        # stop() cancel; the job description names the step and action that
        # own each job, so the status store can attribute every one of them
        session.sparkContext.setJobGroup(
            _job_group(pkt.name, db), _job_label(pkt.name, db), interruptOnCancel=True
        )
        ctx = RunContext(session, db, pkt, read_only=False)
        return ctx, open_ledger(self.warehouse, db, self.pg_targets)

    # -- the packet loop (reference: worker_db_func) -----------------------

    def _run_on_db(
        self,
        ctx: RunContext,
        tracker: ActionTracker,
        ptype: PacketType,
        force: bool,
        skip_step_cancel: bool,
        skip_action_cancel: bool,
        export_dir: str | Path | None,
    ):
        """Run ``ctx.packet`` on ``ctx``'s target with ``tracker`` as its
        ledger; returns ``(ResultCode, PacketStatus, step results)``."""
        pkt, db = ctx.packet, ctx.db_name
        if not tracker.try_lock(pkt.name):
            # reference: ResultCode.LOCKED + PacketStatus.STARTED
            # (db_converter.py:619-627, asserted by TestDBCLock)
            tracker.close()
            return ResultCode.LOCKED, PacketStatus.STARTED, {}
        try:
            # READ_ONLY gates writes; EXPORT_DATA does NOT — only all-SELECT
            # actions export, any other action executes normally
            # (test_export_data/01_test.sql creates its tables in-packet)
            ctx.read_only = ptype == PacketType.READ_ONLY
            ctx.no_commit = ptype == PacketType.NO_COMMIT
            if ptype == PacketType.EXPORT_DATA:
                ctx.export_dir = Path(export_dir or (self.warehouse / db / "export"))
            # READ_ONLY / NO_COMMIT / EXPORT_DATA never consult the ledger
            # (reference: db_converter.py:564-570); the lock still applies
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
            if track:
                ctx.tracker = tracker  # sequence counters share the ledger
            ctx.prepare(tracker)
            data: dict[str, list] = {}
            status = PacketStatus.DONE

            # generators are evaluated AFTER run_once (reference ordering,
            # dbccore/dbccore.py:536-541)
            steps = ([pkt.run_once] if pkt.run_once else []) + pkt.steps
            gen_cache: dict[str, list] = {}

            seen_hashes: set[str] = set()
            for step in steps:
                if step.kind == "py" and not ctx.python_steps:
                    data.setdefault("skipped_py", []).append(step.name)
                    continue
                ctx.current_step_results = []
                ctx.label(step.name)
                step_id = tracker.upsert_step(packet_id, step.name) if track else -1
                try:
                    with ctx.watchdog(step_timeout) as wd:
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
                    notify_error(self.hook, pkt.name, db, str(e))
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
                        gen_cache.update(self._eval_generators(ctx, pkt))

            if track:
                tracker.set_packet_status(
                    pkt.name, "done" if status == PacketStatus.DONE else "exception"
                )
            code = ResultCode.SUCCESS if status == PacketStatus.DONE else ResultCode.FAIL
            return code, status, data
        finally:
            tracker.unlock(pkt.name)
            tracker.close()

    # -- generators and actions --------------------------------------------

    def _eval_generators(self, ctx: RunContext, pkt: Packet) -> dict[str, list]:
        """Every generator resultset, evaluated once on the target
        (reference: dbccore/dbccore.py:538-541)."""
        out: dict[str, list] = {}
        for idx, sql in pkt.gen_obj.items():
            out[f"obj:{idx}"] = ctx.generator_rows(sql)
        for idx, sql in pkt.gen_nsp.items():
            out[f"nsp:{idx}"] = ctx.generator_rows(sql)
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
        # lazily evaluate generators if not yet done (packets without
        # run_once) — but NEVER while executing run_once itself: generators
        # may reference tables run_once is about to create (reference
        # evaluates generators strictly after run_once, dbccore:536-541)
        if step is not pkt.run_once and (pkt.gen_obj or pkt.gen_nsp) and not gen_cache:
            gen_cache.update(self._eval_generators(ctx, pkt))

        actions = bind_actions(
            step.text, gen_cache.get(f"obj:{step.index}"), gen_cache.get(f"nsp:{step.index}")
        )
        for i, (action_sql, maints) in enumerate(actions, 1):
            ctx.label(step.name, f"action {i}")
            # the duplicate binding skips its maintenance command too
            # (reference steps_hashes, dbccore/dbccore.py:941-943)
            h = hashlib.md5(action_sql.encode()).hexdigest()
            if h in seen_hashes or (track and tracker.is_action_done(packet_id, step_id, h)):
                ctx.raise_notice("LOG", f"action {h[:8]} already applied, skipping")
                continue
            for mc in maints:
                _run_maint(ctx, mc)
            try:
                stmts = split_statements(action_sql, ctx.dialect)
                if ctx.export_dir and stmts and all(statement_kind(s) == "query" for s in stmts):
                    files = ctx.export(stmts)
                    ctx.current_step_results.append([["exported"], *[[f] for f in files]])
                else:
                    for stmt in stmts:
                        ctx.execute(stmt)
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
