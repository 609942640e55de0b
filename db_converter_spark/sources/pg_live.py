"""Live-PostgreSQL adapter: a managed local server + the COPY pipeline.

The reference's entire runtime is a live PostgreSQL connection (reference:
psc/postgresql/driver/pq3.py; every packet executes server-side through
dbccore/dbccore.py:905-1181). This environment gained the server binaries
(PostgreSQL 15, ``initdb``/``pg_ctl``/``postgres`` + the ``psql`` client)
but ships NO Python wire driver and NO PG JDBC jar — so the one channel a
Spark engine can legitimately drive is the one the binaries themselves
provide: ``psql`` over a unix socket, and PostgreSQL's COPY bulk pipeline.

Two things live here:

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
"""

from __future__ import annotations

import csv
import hashlib
import io
import os
import shutil
import subprocess
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from db_converter_spark.plans.pgdialect import _map_type

PG_BIN_CANDIDATES = ("/usr/local/bin", "/usr/bin")


def find_pg_binaries() -> "dict[str, str] | None":
    """Locate initdb/pg_ctl/psql, or None when the environment gate is
    closed (reprobed every round, COVERAGE.md)."""
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

    def run_script(self, statements: "list[str]", db: str = "postgres") -> "list[list[list[str]]]":
        """Execute statements in order (one autocommitted session each —
        the same per-statement execute-and-capture cadence the packet
        runner uses), returning each statement's capture in order: the
        live twin of the runner's per-step results."""
        return [self.sql(s, db=db) for s in statements]

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

_PG_TO_SPARK_EXTRA = {
    "character varying": "string", "character": "string",
    "double precision": "double", "timestamp without time zone": "timestamp",
    "timestamp with time zone": "timestamp", "integer": "int",
    "numeric": "decimal(38,6)",
}


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
# Native packet execution — the live twin of reference test layer 5
# ---------------------------------------------------------------------------


def run_packet_native(
    server: PgServer,
    packet_dir: "str | Path",
    db: str = "postgres",
    placeholders: "dict[str, str] | None" = None,
    tracker: "PgActionTracker | None" = None,
) -> "dict[str, list]":
    """Execute a packet NATIVELY on live PostgreSQL — the live twin of the
    reference's test layer 5 (reference tests/test_packets.py:547-583 runs
    every alert_*/dba_* packet against a live DB and requires SUCCESS).
    Reuses the engine's own packet parser and placeholder engine
    (plans/packet.py — reference dbccore/dbccore.py:280-345, fan-out
    :921-1087) but every statement executes server-side through psql, the
    way the reference's wire driver did. With ``tracker`` (r11: the dbc_*
    ledger IN the target database) actions dedup against the live ledger
    and step/packet status land server-side — PacketRunner's pg-target
    path drives :func:`execute_packet_native` this way.

    Semantics mirrored from plans/runner.py:

    - ``run_once.sql`` executes first; generators evaluate strictly AFTER
      it (they may read tables it creates);
    - per-step ``NN_gen_obj.sql`` / ``NN_gen_nsp.sql`` generators evaluate
      server-side; the step text executes once per binding (cartesian
      nsp × obj when both exist), with ``GEN_NSP_FLD_i`` applied before
      ``GEN_OBJ_FLD_i``;
    - a generator row's field 0 is the maintenance side channel: when
      non-empty it executes natively before the bound action (the
      reference ran it on a dedicated maintenance connection);
    - multi-statement steps split dollar-quote-aware (plans/sqlsplit.py).

    - each bound action dedups on md5 of the final SQL across the whole
      packet run (reference ``steps_hashes``, dbccore/dbccore.py:941-943 —
      the duplicate ``continue``s BEFORE its maintenance command, so a
      dedup'd binding runs neither the action nor its maint side-channel;
      plans/runner.py ``seen_hashes`` applies the same rule).

    Python steps have no native channel without a wire driver — they are
    recorded under the ``"skipped_py"`` key, not silently dropped.

    Channel note: the reference's driver yielded Python ``None`` for SQL
    NULL, which the placeholder engine rendered as the literal ``'None'``
    (packets test for it — alert_int4_capacity's ``'GEN_OBJ_FLD_5' =
    'None'``), while a genuinely empty (non-NULL) text field stayed ``''``.
    psql's CSV output collapses BOTH to the bare empty field (probed live:
    ``SELECT NULL::text, ''::text`` → ``,,``), so generators re-select
    through a ``coalesce(col::text, E'\\x01None')`` wrapper — the control
    character cannot appear in real settings text — and only true NULLs
    map to ``'None'`` (fields 1+) / no-op (field 0).

    Returns ``{step_file_name: [capture, ...]}`` — one psql capture
    (header + string rows, [] for non-queries) per executed statement.
    Raises :class:`PgServerError` on the first failing statement, i.e. a
    clean return IS the layer-5 SUCCESS criterion.
    """
    from db_converter_spark.plans.packet import parse_packet

    pkt = parse_packet(packet_dir, placeholders)
    return execute_packet_native(server, pkt, db=db, tracker=tracker)


def execute_packet_native(
    server: PgServer,
    pkt,
    db: str = "postgres",
    tracker: "PgActionTracker | None" = None,
) -> "dict[str, list]":
    """Native execution over an already-parsed :class:`~db_converter_spark.
    plans.packet.Packet` (see :func:`run_packet_native` for the execution
    contract). When ``tracker`` is given, the run is LEDGERED in the
    target database exactly like plans/runner.py's tracked path: packet +
    step rows upsert to started, each successful action records its md5
    in ``dbc_actions`` (exactly-once resume, E6), a failing step stamps
    ``exception`` + the error text before the raise propagates, and a
    clean finish stamps packet ``done``. ``run_once.sql`` participates as
    the first tracked step (generator-free — generators still evaluate
    strictly after it), so a resumed run skips it like any applied
    action."""
    from db_converter_spark.plans.packet import bind_actions
    from db_converter_spark.plans.sqlsplit import split_statements

    captures: "dict[str, list]" = {}

    def _exec(text: str) -> "list[list[list[str]]]":
        return [server.sql(s, db=db) for s in split_statements(text) if s.strip()]

    gen_cache: "dict[str, list[tuple]]" = {}

    def _gen_rows(sql: str) -> "list[tuple]":
        # NULL/empty disambiguation (see docstring): probe the generator's
        # column names via a temp view (same single-session trick as
        # read_pg_query), then re-select each column through
        # coalesce(col::text, E'\x01None') so true NULL survives the CSV
        # channel distinctly from empty text.
        body = sql.strip().rstrip(";")
        probe_out = server._psql(
            ["-d", db, "--csv"],
            sql=(
                f"CREATE TEMP VIEW _dbc_gen_probe AS {body};\n"
                "SELECT column_name FROM information_schema.columns"
                " WHERE table_name = '_dbc_gen_probe' ORDER BY ordinal_position;"
            ),
        )
        cols = [r[0] for r in list(csv.reader(io.StringIO(probe_out)))[1:] if r]
        sel = ", ".join(f"coalesce(_g.\"{c}\"::text, E'\\x01None')" for c in cols)
        rows = server.sql(f"SELECT {sel} FROM ({body}) _g", db=db)[1:]
        # field 0 (maint): NULL -> no-op (empty); fields 1+: NULL -> the
        # literal 'None' for reference-driver parity; real '' stays ''.
        null_tok = "\x01None"
        return [
            tuple(
                [("" if r[0] == null_tok else r[0])]
                + [("None" if c == null_tok else c) for c in r[1:]]
            )
            for r in rows
        ]

    def _bindings(step):
        if (pkt.gen_obj or pkt.gen_nsp) and not gen_cache:
            for idx, sql in pkt.gen_obj.items():
                gen_cache[f"obj:{idx}"] = _gen_rows(sql)
            for idx, sql in pkt.gen_nsp.items():
                gen_cache[f"nsp:{idx}"] = _gen_rows(sql)
        return bind_actions(
            step.text, gen_cache.get(f"obj:{step.index}"), gen_cache.get(f"nsp:{step.index}")
        )

    # bound-action dedup, packet-wide (reference steps_hashes, dbccore:
    # 941-943; the duplicate skips maint AND action). With a tracker the
    # live dbc_actions ledger extends the dedup across RUNS (E6 resume).
    # run_once leads the step loop exactly as in plans/runner.py —
    # generator-free, so generators never evaluate before it completes.
    track = tracker is not None
    packet_id = (
        tracker.upsert_packet(pkt.name, pkt.packet_hash, pkt.meta) if track else -1
    )
    seen_hashes: "set[str]" = set()
    steps = ([pkt.run_once] if pkt.run_once else []) + pkt.steps

    for step in steps:
        if step.kind == "py":
            captures.setdefault("skipped_py", []).append(step.name)
            continue
        step_id = tracker.upsert_step(packet_id, step.name) if track else -1
        caps: list = []
        try:
            binds = (
                [(step.text, [])] if step is pkt.run_once else _bindings(step)
            )
            for action_sql, maints in binds:
                h = hashlib.md5(action_sql.encode()).hexdigest()
                if h in seen_hashes or (
                    track and tracker.is_action_done(packet_id, step_id, h)
                ):
                    continue
                for mc in maints:
                    _exec(mc)
                caps.extend(_exec(action_sql))
                seen_hashes.add(h)
                if track:
                    tracker.apply_action(packet_id, step_id, h)
            if track:
                tracker.set_step_status(step_id, "done")
        except PgServerError as e:
            if track:
                tracker.set_step_status(step_id, "exception", str(e)[:2000])
                tracker.set_packet_status(pkt.name, "exception")
            captures[step.name] = caps
            raise
        captures[step.name] = caps
    if track:
        tracker.set_packet_status(pkt.name, "done")
    return captures


# ---------------------------------------------------------------------------
# The dbc_* ledger IN the target database (r11 — VERDICT Next #1)
# ---------------------------------------------------------------------------


class PgActionTracker:
    """Idempotency ledger living in the TARGET PostgreSQL database — the
    reference's core deployment shape (reference: actiontracker/
    actiontracker.py:38-95 creates ``dbc_packets``/``dbc_steps``/
    ``dbc_actions``/``dbc_locks`` in every target under the configured
    ``schema_location``, default ``dbc`` in conf/db_converter.conf.example;
    db_converter.py:556-685 routes every run through it).

    Same method surface as :class:`db_converter_spark.plans.ledger.
    ActionTracker` (the SQLite twin PacketRunner uses for Spark-warehouse
    targets), same table/column names as the reference (a reference
    deployment's ledger is readable in place) — but this repo's own
    implementation: single-statement psql round-trips with atomic
    ``ON CONFLICT`` upserts where the reference used check-then-set DO
    blocks (one driver process is the writer here; atomicity still wins
    when two operators race a lock).

    Sequences (the SQLite ledger's ``dbc_sequences``) are deliberately
    absent: a live PostgreSQL target has REAL sequences server-side."""

    def __init__(self, server: PgServer, db: str = "postgres", schema: str = "dbc"):
        self.server = server
        self.db = db
        self.schema = schema
        self._init_tbls()

    # -- helpers -----------------------------------------------------------

    @staticmethod
    def _q(s: str) -> str:
        return str(s).replace("'", "''")

    def _sql(self, statement: str) -> "list[list[str]]":
        return self.server.sql(statement, db=self.db)

    def _scalar(self, statement: str) -> "str | None":
        rows = self._sql(statement)
        return rows[1][0] if len(rows) > 1 and rows[1] else None

    def _init_tbls(self) -> None:
        s = self.schema
        self.server._psql(
            ["-d", self.db],
            sql=f"""
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
""",
        )

    def close(self) -> None:  # psql is per-call; nothing held open
        pass

    # -- packets -----------------------------------------------------------

    def upsert_packet(self, name: str, packet_hash: str, meta: "dict | None" = None) -> int:
        import json as _json

        meta_j = self._q(_json.dumps(meta or {}))
        rid = self._scalar(
            f"INSERT INTO {self.schema}.dbc_packets(name, status, packet_hash, meta_data)"
            f" VALUES ('{self._q(name)}', 'started', '{self._q(packet_hash)}',"
            f" '{meta_j}'::jsonb)"
            f" ON CONFLICT (name) DO UPDATE SET status = 'started', dt = now(),"
            f" packet_hash = EXCLUDED.packet_hash, meta_data = EXCLUDED.meta_data"
            f" RETURNING id"
        )
        return int(rid)

    def packet_hash(self, name: str) -> "str | None":
        return self._scalar(
            f"SELECT packet_hash FROM {self.schema}.dbc_packets"
            f" WHERE name = '{self._q(name)}'"
        )

    def set_packet_status(self, name: str, status: str) -> None:
        self._sql(
            f"UPDATE {self.schema}.dbc_packets SET status = '{self._q(status)}',"
            f" dt = now() WHERE name = '{self._q(name)}'"
        )

    def dump_packets(self) -> "list[tuple]":
        rows = self._sql(
            f"SELECT id, name, status, dt, packet_hash, meta_data::text"
            f" FROM {self.schema}.dbc_packets ORDER BY id"
        )
        return [tuple(r) for r in rows[1:]]

    # -- steps / actions ---------------------------------------------------

    def upsert_step(self, packet_id: int, step_name: str) -> int:
        rid = self._scalar(
            f"SELECT id FROM {self.schema}.dbc_steps"
            f" WHERE packet_id = {int(packet_id)} AND name = '{self._q(step_name)}'"
        )
        if rid is not None:
            self._sql(
                f"UPDATE {self.schema}.dbc_steps SET status = 'started', dt = now()"
                f" WHERE id = {int(rid)}"
            )
            return int(rid)
        return int(
            self._scalar(
                f"INSERT INTO {self.schema}.dbc_steps(name, packet_id, status)"
                f" VALUES ('{self._q(step_name)}', {int(packet_id)}, 'started')"
                f" RETURNING id"
            )
        )

    def set_step_status(
        self, step_id: int, status: str, exception_descr: "str | None" = None
    ) -> None:
        descr = "NULL" if exception_descr is None else f"'{self._q(exception_descr)}'"
        self._sql(
            f"UPDATE {self.schema}.dbc_steps SET status = '{self._q(status)}',"
            f" dt = now(), exception_descr = {descr} WHERE id = {int(step_id)}"
        )

    def is_action_done(self, packet_id: int, step_id: int, step_hash: str) -> bool:
        got = self._scalar(
            f"SELECT EXISTS(SELECT 1 FROM {self.schema}.dbc_actions"
            f" WHERE packet_id = {int(packet_id)} AND step_id = {int(step_id)}"
            f" AND step_hash = '{self._q(step_hash)}')"
        )
        return got == "t"

    def apply_action(self, packet_id: int, step_id: int, step_hash: str) -> None:
        self._sql(
            f"INSERT INTO {self.schema}.dbc_actions(packet_id, step_id, step_hash)"
            f" VALUES ({int(packet_id)}, {int(step_id)}, '{self._q(step_hash)}')"
            f" ON CONFLICT (packet_id, step_id, step_hash) DO NOTHING"
        )

    # -- locks (E25) -------------------------------------------------------

    def try_lock(self, name: str) -> bool:
        """Atomic acquire: the upsert only flips rows whose ``locked`` is
        false, so RETURNING yields a row iff this caller got the lock
        (reference: is_packet_locked + set_packet_lock check-then-set,
        actiontracker:118-164)."""
        got = self._scalar(
            f"INSERT INTO {self.schema}.dbc_locks(name, locked)"
            f" VALUES ('{self._q(name)}', true)"
            f" ON CONFLICT (name) DO UPDATE SET locked = true, dt = now()"
            f" WHERE {self.schema}.dbc_locks.locked = false"
            f" RETURNING id"
        )
        return got is not None

    def is_locked(self, name: str) -> bool:
        got = self._scalar(
            f"SELECT EXISTS(SELECT 1 FROM {self.schema}.dbc_locks"
            f" WHERE name = '{self._q(name)}' AND locked = true)"
        )
        return got == "t"

    def unlock(self, name: str) -> None:
        self._sql(
            f"UPDATE {self.schema}.dbc_locks SET locked = false, dt = now()"
            f" WHERE name = '{self._q(name)}'"
        )

    # -- commands ----------------------------------------------------------

    def status(self, packet_name: "str | None" = None) -> "list[tuple]":
        q = (
            f"SELECT p.name, p.status, p.dt, s.name, s.status, s.exception_descr"
            f" FROM {self.schema}.dbc_packets p"
            f" LEFT JOIN {self.schema}.dbc_steps s ON s.packet_id = p.id"
        )
        if packet_name:
            q += f" WHERE p.name = '{self._q(packet_name)}'"
        rows = self._sql(q + " ORDER BY p.name, s.id")
        return [tuple(r) for r in rows[1:]]

    def wipe(self, packet_name: str) -> int:
        """--wipe: cascade-delete packet history (reference: wipe_packet,
        actiontracker:257-294). Returns number of packets wiped."""
        pid = self._scalar(
            f"SELECT id FROM {self.schema}.dbc_packets"
            f" WHERE name = '{self._q(packet_name)}'"
        )
        if pid is None:
            return 0
        self.server._psql(
            ["-d", self.db],
            sql=(
                f"DELETE FROM {self.schema}.dbc_actions WHERE packet_id = {int(pid)};\n"
                f"DELETE FROM {self.schema}.dbc_steps WHERE packet_id = {int(pid)};\n"
                f"DELETE FROM {self.schema}.dbc_packets WHERE id = {int(pid)};\n"
            ),
        )
        return 1
