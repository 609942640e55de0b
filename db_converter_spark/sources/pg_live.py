"""Live-PostgreSQL adapter: a managed local server, the COPY pipeline and
the packet target.

The reference's entire runtime is a live PostgreSQL connection (reference:
psc/postgresql/driver/pq3.py; every packet executes server-side through
dbccore/dbccore.py:905-1181). This environment gained the server binaries
(PostgreSQL 15, ``initdb``/``pg_ctl``/``postgres`` + the ``psql`` client)
but ships NO Python wire driver and NO PG JDBC jar — so the one channel a
Spark engine can legitimately drive is the one the binaries themselves
provide: ``psql`` over a unix socket, and PostgreSQL's COPY bulk pipeline.

What lives here:

1. :class:`PgServer` — initdb/start/stop a throwaway cluster on a unix
   socket (no TCP), plus ``sql()`` statement execution with CSV capture.
   The server process must run unprivileged (PostgreSQL refuses root), so
   when invoked as root the server runs via ``runuser -u postgres`` while
   clients stay root over the trust-auth socket.

2. The COPY source/sink (reference component E36, SURVEY §2.1 — previously
   environment-gated): ``read_pg_query`` bulk-extracts an arbitrary query
   via ``COPY (…) TO`` CSV and loads it as a Spark DataFrame with the
   schema taken from live-PG introspection (types mapped through the same
   PG→Spark table the dialect rewriter uses); ``write_pg_table`` streams a
   DataFrame back through ``COPY … FROM`` in bounded per-part batches —
   the bulk path the reference used COPY for, and the shape a cluster
   deployment keeps (each executor COPYs its own partition; here the
   part files COPY sequentially through one client).

3. A live-PostgreSQL packet target: :class:`PgRunContext` is its channel
   for the packet loop in plans/runner.py, and :class:`PsqlChannel` runs
   the ledger's statements (plans/ledger.py ``ActionTracker``) against the
   ``dbc_*`` tables in the target database; :func:`run_packet_native` runs
   one packet on it untracked (reference test layer 5).
"""

from __future__ import annotations

import csv
import io
import os
import re
import shutil
import subprocess
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from db_converter_spark.plans.export import export_queries, write_rows
from db_converter_spark.plans.pgdialect import _map_type
from db_converter_spark.plans.runner import RunContext
from db_converter_spark.plans.sqlsplit import split_statements
from db_converter_spark.plans.watchdog import StepWatchdog

PG_BIN_CANDIDATES = ("/usr/local/bin", "/usr/bin")


def find_pg_binaries() -> "dict[str, str] | None":
    """Locate initdb/pg_ctl/psql, or None when the environment gate is
    closed (see COVERAGE.md)."""
    out = {}
    for name in ("initdb", "pg_ctl", "psql"):
        for d in PG_BIN_CANDIDATES:
            p = Path(d) / name
            if p.is_file():
                out[name] = str(p)
                break
        else:
            found = shutil.which(name)
            if not found:
                return None
            out[name] = found
    return out


class PgServerError(RuntimeError):
    pass


class PgServer:
    """A throwaway local PostgreSQL cluster on a unix socket.

    Lifecycle: ``PgServer(base_dir).start()`` → ``sql()`` / COPY helpers →
    ``stop()``. ``base_dir`` must be creatable; it is chmod'd 777 so the
    unprivileged server user can own the socket while root clients
    connect (trust auth on a private socket dir — test posture, not a
    production one)."""

    def __init__(self, base_dir: "str | Path", user: str = "postgres"):
        self.base = Path(base_dir)
        self.user = user
        self.bins = find_pg_binaries()
        if self.bins is None:
            raise PgServerError("no PostgreSQL binaries on this host")
        self.data = self.base / "data"
        self._as_pg = ["runuser", "-u", user, "--"] if os.geteuid() == 0 else []

    def start(self) -> "PgServer":
        self.base.mkdir(parents=True, exist_ok=True)
        os.chmod(self.base, 0o777)
        env = dict(os.environ, LC_ALL="C")
        r = subprocess.run(
            self._as_pg
            + [self.bins["initdb"], "-D", str(self.data), "-A", "trust", "-U", "postgres"],
            capture_output=True, text=True, env=env, cwd="/tmp",
        )
        if r.returncode != 0:
            raise PgServerError(f"initdb failed: {r.stderr[-800:]}")
        r = subprocess.run(
            self._as_pg
            + [
                self.bins["pg_ctl"], "-D", str(self.data),
                "-l", str(self.base / "log"),
                "-o", f"-k {self.base} -c listen_addresses=''",
                "-w", "start",
            ],
            capture_output=True, text=True, env=env, cwd="/tmp",
        )
        if r.returncode != 0:
            log = ""
            try:
                log = (self.base / "log").read_text()[-800:]
            except OSError:
                pass
            raise PgServerError(f"pg_ctl start failed: {r.stderr[-400:]} {log}")
        return self

    def stop(self) -> None:
        subprocess.run(
            self._as_pg + [self.bins["pg_ctl"], "-D", str(self.data), "-m", "fast", "stop"],
            capture_output=True, text=True, cwd="/tmp",
        )

    # -- statement execution over psql (client runs as the CURRENT user;
    # -- the trust socket accepts it as role postgres) ---------------------

    def _psql(self, args: "list[str]", sql: "str | None" = None) -> str:
        cmd = [
            self.bins["psql"], "-h", str(self.base), "-U", "postgres",
            "-v", "ON_ERROR_STOP=1", "-X", "-q",
        ] + args
        r = subprocess.run(cmd, input=sql, capture_output=True, text=True)
        if r.returncode != 0:
            raise PgServerError(f"psql failed: {r.stderr[-800:]}")
        return r.stdout

    def sql(self, statement: str, db: str = "postgres") -> "list[list[str]]":
        """Run ONE statement; SELECT output comes back as [header, *rows]
        (all strings, PG text rendering — booleans t/f, NULL as empty);
        non-queries return [] (the command tag goes to stderr/quiet)."""
        out = self._psql(["-d", db, "--csv", "-c", statement])
        if not out.strip():
            return []
        return [row for row in csv.reader(io.StringIO(out))]

    def columns(self, table: str, db: str = "postgres") -> "list[tuple[str, str]]":
        rows = self.sql(
            "SELECT column_name, data_type FROM information_schema.columns"
            f" WHERE table_name = '{table}' ORDER BY ordinal_position",
            db=db,
        )
        return [(r[0], r[1]) for r in rows[1:]]


# ---------------------------------------------------------------------------
# COPY pipeline (reference E36): PG → Spark and Spark → PG in bulk
# ---------------------------------------------------------------------------

# read_pg_query loads an unconstrained ``numeric`` column as decimal(38,6);
# every other type maps as in the dialect's casts.
_PG_TO_SPARK_EXTRA = {"numeric": "decimal(38,6)"}


def _spark_type(pg_type: str) -> str:
    t = pg_type.strip().lower()
    return _PG_TO_SPARK_EXTRA.get(t) or _map_type(t)


def read_pg_query(
    spark: SparkSession,
    server: PgServer,
    query: str,
    scratch_dir: "str | Path",
    db: str = "postgres",
) -> DataFrame:
    """Bulk-extract ``query`` from live PG via ``COPY (…) TO`` CSV and
    load it as a DataFrame with an EXPLICIT schema introspected from the
    server (one extra LIMIT-0 round trip — never schema inference, which
    re-reads the data). The COPY runs client-side (``\\copy``) so the file
    lands under the caller's scratch dir, not the server's."""
    scratch = Path(scratch_dir)
    scratch.mkdir(parents=True, exist_ok=True)
    out = scratch / f"pg_copy_{uuid.uuid4().hex}.csv"
    # schema probe: LIMIT 0 through a temp view of the query
    probe = f"CREATE TEMP VIEW _pgread_probe AS {query}"
    cols_sql = (
        "SELECT column_name, data_type FROM information_schema.columns"
        " WHERE table_name = '_pgread_probe' ORDER BY ordinal_position"
    )
    probe_out = server._psql(
        ["-d", db, "--csv"],
        sql=f"{probe};\n{cols_sql};",
    )
    rows = [r for r in csv.reader(io.StringIO(probe_out)) if r]
    cols = [(r[0], r[1]) for r in rows[1:]]
    if not cols:
        raise PgServerError(f"schema probe returned nothing: {probe_out[:200]}")
    server._psql(
        ["-d", db],
        sql=f"\\copy ({query}) to '{out}' with (format csv)",
    )
    schema = ", ".join(f"`{c}` {_spark_type(t)}" for c, t in cols)
    return spark.read.csv(str(out), schema=schema, header=False, nullValue="")


def write_pg_table(
    spark: SparkSession,
    server: PgServer,
    df: DataFrame,
    table: str,
    scratch_dir: "str | Path",
    db: str = "postgres",
) -> int:
    """Stream a DataFrame into an EXISTING PG table through ``COPY … FROM``
    — one bounded COPY transaction per written part file (the Spark-side
    analog of the reference's 10k-row bounded INSERT transactions; on a
    real cluster each executor runs its part's COPY in parallel). Returns
    the number of part files shipped."""
    scratch = Path(scratch_dir)
    out_dir = scratch / f"pg_write_{uuid.uuid4().hex}"
    df.write.csv(str(out_dir), header=False, nullValue="\\N", emptyValue="")
    n = 0
    for part in sorted(out_dir.glob("part-*.csv")):
        server._psql(
            ["-d", db],
            sql=f"\\copy {table} from '{part}' with (format csv, null '\\N')",
        )
        n += 1
    return n


# ---------------------------------------------------------------------------
# A live-PostgreSQL target's channel for the packet loop
# ---------------------------------------------------------------------------


class PgRunContext(RunContext):
    """A live-PostgreSQL target as the packet loop sees it
    (plans/runner.py ``PacketRunner._run_on_db``): statements, generators
    and maintenance commands execute server-side through psql, the way the
    reference's wire driver did (dbccore/dbccore.py:905-1181); a capture is
    psql's ``[header, *rows]`` (strings) or ``[]`` for a non-query.

    Python steps have no channel without a wire driver: the loop lists them
    under ``"skipped_py"`` instead of dropping them silently. PG's catalog
    is live, so there is no emulation to prepare or refresh, and no Spark
    job group for a step watchdog to cancel. A no_commit packet's
    statements run inside ``BEGIN … ROLLBACK``; the READ ONLY gate is
    :meth:`RunContext.execute`'s, shared with Spark targets."""

    python_steps = False

    def __init__(self, server: PgServer, pg_db: str, packet, db_name: str):
        super().__init__(None, db_name, packet, read_only=False)
        self.dialect = "postgres"  # the server reads every statement as PG text
        self.server = server
        self.pg_db = pg_db

    def prepare(self, ledger) -> None:
        pass

    def refresh_catalog(self) -> None:
        pass

    def label(self, *parts: str) -> None:
        pass

    def watchdog(self, timeout_s: "float | None") -> StepWatchdog:
        return StepWatchdog(None, "", None)  # never starts

    def _execute(self, sql: str) -> list:
        if self.no_commit:
            # execute, then roll back (reference: dbccore/dbccore.py:886-888);
            # the newlines end a trailing line comment before ROLLBACK
            sql = f"BEGIN;\n{sql}\n;ROLLBACK"
        capture = self.server.sql(sql, db=self.pg_db)
        self.current_step_results.append(capture)
        return capture

    def maint(self, command: str) -> None:
        for stmt in split_statements(command):
            self.server.sql(stmt, db=self.pg_db)

    def generator_rows(self, sql: str) -> "list[tuple]":
        """A generator's rows with SQL NULL kept apart from empty text.

        The reference's driver rendered SQL NULL as the literal ``'None'``
        (alert_int4_capacity tests ``'GEN_OBJ_FLD_5' = 'None'``) and kept
        empty text ``''``; psql's CSV output collapses both to an empty
        field, so the generator is re-selected through
        ``coalesce(col::text, E'\\x01None')`` (the control character cannot
        appear in real settings text): NULL becomes ``'None'`` in fields 1+
        and no maintenance command in field 0. Column names come from a
        temp view of the query, the probe :func:`read_pg_query` uses."""
        body = sql.strip().rstrip(";")
        probe_out = self.server._psql(
            ["-d", self.pg_db, "--csv"],
            sql=(
                f"CREATE TEMP VIEW _dbc_gen_probe AS {body};\n"
                "SELECT column_name FROM information_schema.columns"
                " WHERE table_name = '_dbc_gen_probe' ORDER BY ordinal_position;"
            ),
        )
        cols = [r[0] for r in list(csv.reader(io.StringIO(probe_out)))[1:] if r]
        sel = ", ".join(f"coalesce(_g.\"{c}\"::text, E'\\x01None')" for c in cols)
        null = "\x01None"
        return [
            ("" if r[0] == null else r[0], *("None" if c == null else c for c in r[1:]))
            for r in self.server.sql(f"SELECT {sel} FROM ({body}) _g", db=self.pg_db)[1:]
        ]

    def export(self, statements: "list[str]") -> "list[str]":
        def write(stmt: str, path: Path) -> int:
            header, *rows = self.server.sql(stmt, db=self.pg_db)
            return write_rows(header, rows, path)

        return export_queries(
            write, self.db_name, statements, self.export_dir,
            export_options=self.packet.meta.get("export_options"),
        )


def run_packet_native(
    server: PgServer,
    packet_dir: "str | Path",
    db: str = "postgres",
    placeholders: "dict[str, str] | None" = None,
) -> "dict[str, list]":
    """Execute a packet NATIVELY on live PostgreSQL — the live twin of the
    reference's test layer 5 (reference tests/test_packets.py:547-583 runs
    every alert_*/dba_* packet against a live DB and requires SUCCESS).

    The packet runs through the packet loop on a :class:`PgRunContext`,
    untracked and lock-free: its ledger is an in-memory one that ends with
    the call, so nothing is written to the target besides what the packet
    itself does (an export packet's files go to a temporary directory
    removed on return). Returns ``{step_file_name: [capture or notice,
    ...]}``.
    Raises :class:`PgServerError` on the first failing statement, i.e. a
    clean return IS the layer-5 SUCCESS criterion."""
    import tempfile

    from db_converter_spark.plans.ledger import ActionTracker
    from db_converter_spark.plans.model import ResultCode
    from db_converter_spark.plans.packet import parse_packet
    from db_converter_spark.plans.runner import PacketRunner

    pkt = parse_packet(packet_dir, placeholders)
    ctx = PgRunContext(server, db, pkt, db)
    with tempfile.TemporaryDirectory() as warehouse:
        code, _, data = PacketRunner(None, warehouse)._run_on_db(
            ctx, ActionTracker(":memory:"), pkt.packet_type, False, False, False, None
        )
    if code != ResultCode.SUCCESS:
        raise PgServerError(next(m for sev, m in reversed(ctx.messages) if sev == "EXCEPTION"))
    return data


# ---------------------------------------------------------------------------
# The dbc_* ledger in the target database
# ---------------------------------------------------------------------------

_LEDGER_DDL = """
CREATE SCHEMA IF NOT EXISTS {s};
CREATE TABLE IF NOT EXISTS {s}.dbc_packets (
  id serial PRIMARY KEY,
  name varchar(128) NOT NULL UNIQUE,
  status varchar(10) DEFAULT 'started'
    CHECK (status IN ('done', 'started', 'exception')),
  dt timestamptz DEFAULT now(),
  packet_hash varchar(32) NOT NULL,
  meta_data jsonb NOT NULL DEFAULT '{{}}'
);
CREATE TABLE IF NOT EXISTS {s}.dbc_steps (
  id serial PRIMARY KEY,
  name varchar(128) NOT NULL,
  packet_id integer REFERENCES {s}.dbc_packets (id),
  status varchar(10) DEFAULT 'started'
    CHECK (status IN ('done', 'started', 'exception')),
  dt timestamptz DEFAULT now(),
  exception_descr text
);
CREATE TABLE IF NOT EXISTS {s}.dbc_actions (
  dt timestamptz DEFAULT now(),
  packet_id integer REFERENCES {s}.dbc_packets (id),
  step_id integer REFERENCES {s}.dbc_steps (id),
  step_hash varchar(32) NOT NULL,
  UNIQUE (packet_id, step_id, step_hash)
);
CREATE INDEX IF NOT EXISTS dbc_actions_step_hash_idx
  ON {s}.dbc_actions (step_hash);
CREATE TABLE IF NOT EXISTS {s}.dbc_locks (
  id serial PRIMARY KEY,
  name varchar(128) NOT NULL UNIQUE,
  locked boolean NOT NULL DEFAULT true,
  dt timestamptz DEFAULT now()
);
"""


def _literal(value) -> str:
    """A ledger parameter as PG literal text (standard_conforming_strings:
    only ``'`` is special inside a literal)."""
    if value is None:
        return "NULL"
    if isinstance(value, int):
        return str(int(value))
    return "'" + str(value).replace("'", "''") + "'"


class PsqlChannel:
    """The ``dbc_*`` ledger in the target database, for
    :class:`~db_converter_spark.plans.ledger.ActionTracker` — the
    reference's deployment shape (actiontracker/actiontracker.py:38-95
    creates the tables in every target under ``schema_location``, default
    ``dbc``). Each statement runs as one ``psql -c`` with its ``?``
    parameters rendered as literals; rows come back as psql's text (NULL as
    empty). There is no ``dbc_sequences``: the target has real sequences."""

    def __init__(self, server: PgServer, db: str = "postgres", schema: str = "dbc"):
        self.server, self.db, self.prefix = server, db, f"{schema}."
        server._psql(["-d", db], sql=_LEDGER_DDL.format(s=schema))

    def run(self, sql: str, params: tuple = ()) -> "list[tuple]":
        values = iter(params)
        text = re.sub(r"\?", lambda _: _literal(next(values)), sql)
        return [tuple(r) for r in self.server.sql(text, db=self.db)[1:]]

    def close(self) -> None:  # psql is per-call; nothing held open
        pass
