"""Idempotency ledger: the reference's ActionTracker over a SQL channel.

The reference keeps four relational tables in each target PostgreSQL
(``dbc_packets``/``dbc_steps``/``dbc_actions``/``dbc_locks``; reference:
actiontracker/actiontracker.py:38-95) providing: exactly-once actions (md5
dedup), packet status, per-packet locks, wipe and status commands.

:class:`ActionTracker` writes each ledger statement once, with ``?``
parameters and ``{p}`` for the table prefix. A backend is a channel that
runs one statement and returns its rows:

- :class:`SqliteChannel` (this module) holds a SQLite file per Spark
  target (or ``":memory:"``); each call is one transaction under its
  thread lock. Its schema adds ``dbc_sequences``, the driver-side home of
  PG sequences (SURVEY §7.4.6).
- ``sources/pg_live.PsqlChannel`` runs the statement in the target
  PostgreSQL through psql, under the configured schema, the deployment
  shape of the reference (a reference deployment's ledger reads in place).

A read-modify-write is one statement (upsert, ``UPDATE … RETURNING``), so
two processes sharing a ledger serialize on the backend: the packet lock
is held iff ``try_lock``'s upsert returns a row.
"""

from __future__ import annotations

import json
import sqlite3
import threading
from datetime import datetime, timezone
from pathlib import Path
from typing import Protocol

_SCHEMA = """
CREATE TABLE IF NOT EXISTS dbc_packets (
  id INTEGER PRIMARY KEY AUTOINCREMENT,
  name TEXT NOT NULL UNIQUE,
  status TEXT NOT NULL DEFAULT 'started'
    CHECK (status IN ('done', 'started', 'exception')),
  dt TEXT,
  packet_hash TEXT NOT NULL,
  meta_data TEXT NOT NULL DEFAULT '{}'
);
CREATE TABLE IF NOT EXISTS dbc_steps (
  id INTEGER PRIMARY KEY AUTOINCREMENT,
  name TEXT NOT NULL,
  packet_id INTEGER NOT NULL REFERENCES dbc_packets(id),
  status TEXT CHECK (status IN ('done', 'started', 'exception')),
  dt TEXT,
  exception_descr TEXT
);
CREATE TABLE IF NOT EXISTS dbc_actions (
  dt TEXT,
  packet_id INTEGER NOT NULL REFERENCES dbc_packets(id),
  step_id INTEGER NOT NULL REFERENCES dbc_steps(id),
  step_hash TEXT NOT NULL,
  UNIQUE (packet_id, step_id, step_hash)
);
CREATE INDEX IF NOT EXISTS dbc_actions_hash ON dbc_actions(step_hash);
CREATE TABLE IF NOT EXISTS dbc_locks (
  id INTEGER PRIMARY KEY AUTOINCREMENT,
  name TEXT NOT NULL UNIQUE,
  locked INTEGER NOT NULL DEFAULT 1,
  dt TEXT
);
CREATE TABLE IF NOT EXISTS dbc_sequences (
  name TEXT PRIMARY KEY,
  last_value INTEGER,               -- NULL until first nextval (PG semantics)
  start_value INTEGER NOT NULL DEFAULT 1,
  increment INTEGER NOT NULL DEFAULT 1,
  owned_by TEXT                     -- 'schema.table.column' or NULL
);
"""


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


class Channel(Protocol):
    """Runs one ledger statement (``?`` parameters) and returns its rows;
    ``prefix`` qualifies the ``dbc_*`` table names."""

    prefix: str

    def run(self, sql: str, params: tuple) -> list[tuple]: ...

    def close(self) -> None: ...


class SqliteChannel:
    """A ledger in a SQLite file: every statement, reads included, runs
    under the thread lock inside its own transaction."""

    prefix = ""

    def __init__(self, path: str | Path):
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        self._lock = threading.Lock()
        self._conn = sqlite3.connect(str(path), check_same_thread=False)
        with self._lock, self._conn:
            self._conn.executescript(_SCHEMA)

    def run(self, sql: str, params: tuple = ()) -> list[tuple]:
        with self._lock, self._conn:
            return self._conn.execute(sql, params).fetchall()

    def close(self) -> None:
        self._conn.close()


def _missing(name: str) -> KeyError:
    return KeyError(f'sequence "{name}" does not exist')


class ActionTracker:
    """Per-target ledger (reference: actiontracker/actiontracker.py) over a
    channel, or over a SQLite file when given a path."""

    def __init__(self, ledger: str | Path | Channel):
        self._channel = SqliteChannel(ledger) if isinstance(ledger, (str, Path)) else ledger

    def _run(self, sql: str, *params) -> list[tuple]:
        return self._channel.run(sql.format(p=self._channel.prefix), params)

    def close(self) -> None:
        self._channel.close()

    # -- packets ----------------------------------------------------------

    def upsert_packet(self, name: str, packet_hash: str, meta: dict | None = None) -> int:
        """A re-run restarts the packet row and replaces its meta."""
        [(pid,)] = self._run(
            "INSERT INTO {p}dbc_packets (name, status, dt, packet_hash, meta_data)"
            " VALUES (?, 'started', ?, ?, ?)"
            " ON CONFLICT (name) DO UPDATE SET status = 'started', dt = excluded.dt,"
            " packet_hash = excluded.packet_hash, meta_data = excluded.meta_data"
            " RETURNING id",
            name, _now(), packet_hash, json.dumps(meta or {}),
        )
        return int(pid)

    def dump_packets(self) -> list[tuple]:
        """Ledger rows for the ``dbc_packets`` introspection view — the
        reference's packets SELECT from their own ledger table
        (reference: packets/test_insert_delete_select/01_step.sql:4); the
        runner snapshots them into a temp view."""
        return self._run(
            "SELECT id, name, status, dt, packet_hash, meta_data FROM {p}dbc_packets"
            " ORDER BY id"
        )

    def packet_hash(self, name: str) -> str | None:
        """For the hash-change guard (reference: dbccore/dbccore.py:449-463)."""
        rows = self._run("SELECT packet_hash FROM {p}dbc_packets WHERE name = ?", name)
        return rows[0][0] if rows else None

    def set_packet_status(self, name: str, status: str) -> None:
        self._run(
            "UPDATE {p}dbc_packets SET status = ?, dt = ? WHERE name = ?",
            status, _now(), name,
        )

    # -- steps / actions --------------------------------------------------

    def upsert_step(self, packet_id: int, step_name: str) -> int:
        # dbc_steps has no (packet_id, name) key to upsert on; the packet
        # lock makes its holder the only writer of these rows
        rows = self._run(
            "UPDATE {p}dbc_steps SET status = 'started', dt = ?"
            " WHERE packet_id = ? AND name = ? RETURNING id",
            _now(), packet_id, step_name,
        ) or self._run(
            "INSERT INTO {p}dbc_steps (name, packet_id, status, dt)"
            " VALUES (?, ?, 'started', ?) RETURNING id",
            step_name, packet_id, _now(),
        )
        return int(rows[0][0])

    def set_step_status(self, step_id: int, status: str, exception_descr: str | None = None) -> None:
        self._run(
            "UPDATE {p}dbc_steps SET status = ?, dt = ?, exception_descr = ? WHERE id = ?",
            status, _now(), exception_descr, step_id,
        )

    def is_action_done(self, packet_id: int, step_id: int, step_hash: str) -> bool:
        """Exactly-once dedup (reference: actiontracker:101-116, dbccore:941-951)."""
        return bool(self._run(
            "SELECT 1 FROM {p}dbc_actions WHERE packet_id = ? AND step_id = ? AND step_hash = ?",
            packet_id, step_id, step_hash,
        ))

    def apply_action(self, packet_id: int, step_id: int, step_hash: str) -> None:
        """Record a completed action (reference: actiontracker:200-223)."""
        self._run(
            "INSERT INTO {p}dbc_actions (dt, packet_id, step_id, step_hash)"
            " VALUES (?, ?, ?, ?) ON CONFLICT (packet_id, step_id, step_hash) DO NOTHING",
            _now(), packet_id, step_id, step_hash,
        )

    # -- locks ------------------------------------------------------------

    def try_lock(self, name: str) -> bool:
        """Per-(target, packet) mutex (reference: actiontracker:118-164).
        The upsert flips only an unlocked row, so a row comes back iff this
        caller got the lock; the reference's check-then-set lets two
        callers both take it."""
        return bool(self._run(
            "INSERT INTO {p}dbc_locks (name, locked, dt) VALUES (?, TRUE, ?)"
            " ON CONFLICT (name) DO UPDATE SET locked = TRUE, dt = excluded.dt"
            " WHERE {p}dbc_locks.locked = FALSE RETURNING id",
            name, _now(),
        ))

    def unlock(self, name: str) -> None:
        self._run("UPDATE {p}dbc_locks SET locked = FALSE, dt = ? WHERE name = ?", _now(), name)

    # -- sequences --------------------------------------------------------
    # PG sequences re-homed in the SQLite ledger (SURVEY §7.4.6): the
    # counter is driver-side orchestration state exactly like action dedup —
    # small, transactional, serialized by design (PG serializes nextval
    # too). Executors never touch it: statements reserve a contiguous BLOCK
    # up front and distribute base+row_number, so 100 TB inserts cost ONE
    # counter update, not one per row. A live-PG target has real sequences.

    def seq_create(
        self,
        name: str,
        start: int = 1,
        increment: int = 1,
        if_not_exists: bool = False,
    ) -> None:
        created = self._run(
            "INSERT INTO {p}dbc_sequences (name, start_value, increment) VALUES (?, ?, ?)"
            " ON CONFLICT (name) DO NOTHING RETURNING name",
            name, start, increment,
        )
        if not created and not if_not_exists:
            raise ValueError(f'relation "{name}" already exists')

    def seq_drop(self, name: str, if_exists: bool = False) -> None:
        if not self._run("DELETE FROM {p}dbc_sequences WHERE name = ? RETURNING name", name):
            if not if_exists:
                raise _missing(name)

    def seq_alter(
        self,
        name: str,
        restart: int | None = None,
        restart_default: bool = False,
        increment: int | None = None,
        owned_by: str | None = None,
    ) -> None:
        """Bare RESTART (``restart_default``) makes the next nextval return
        the stored START WITH value (last_value NULL). RESTART WITH n keeps
        START as PG does: last_value becomes n minus the old increment.
        OWNED BY NONE clears the owner."""
        owner = None if owned_by is None or owned_by.upper() == "NONE" else owned_by
        if not self._run(
            "UPDATE {p}dbc_sequences SET"
            " last_value = CASE WHEN ? = 1 THEN NULL"
            " ELSE COALESCE(? - increment, last_value) END,"
            " increment = COALESCE(?, increment),"
            " owned_by = CASE WHEN ? = 1 THEN ? ELSE owned_by END"
            " WHERE name = ? RETURNING name",
            int(restart_default), restart, increment, int(owned_by is not None), owner, name,
        ):
            raise _missing(name)

    def seq_nextval(self, name: str, block: int = 1) -> int:
        """Reserve ``block`` consecutive values; return the FIRST. One
        transactional counter bump regardless of block size."""
        if block < 1:
            raise ValueError("block must be >= 1")
        rows = self._run(
            "UPDATE {p}dbc_sequences"
            " SET last_value = COALESCE(last_value + increment, start_value) + ? * increment"
            " WHERE name = ? RETURNING last_value, increment",
            block - 1, name,
        )
        if not rows:
            raise _missing(name)
        last, inc = rows[0]
        return last - (block - 1) * inc

    def seq_info(self, name: str) -> tuple[int | None, int, int]:
        """(last_value, start_value, increment) — raises on unknown name."""
        rows = self._run(
            "SELECT last_value, start_value, increment FROM {p}dbc_sequences WHERE name = ?",
            name,
        )
        if not rows:
            raise _missing(name)
        return rows[0]

    def seq_currval(self, name: str) -> int:
        last = self.seq_info(name)[0]
        if last is None:
            raise ValueError(f'currval of sequence "{name}" is not yet defined')
        return last

    def seq_setval(self, name: str, value: int, is_called: bool = True) -> int:
        """PG ``setval(seq, n[, is_called])``: with ``is_called`` true
        (default) the next nextval returns n+increment; with false it
        returns n (stored as last_value=n-increment). Returns n."""
        if not self._run(
            "UPDATE {p}dbc_sequences SET last_value = ? - ? * increment"
            " WHERE name = ? RETURNING name",
            value, int(not is_called), name,
        ):
            raise _missing(name)
        return value

    def seq_owned_map(self) -> dict[str, str]:
        """All recorded ownerships: {'table.column' → sequence name}."""
        return dict(self._run(
            "SELECT owned_by, name FROM {p}dbc_sequences WHERE owned_by IS NOT NULL"
        ))

    def seq_owned_by(self, qualified_column: str) -> str | None:
        """pg_get_serial_sequence lookup: 'schema.table.column' → name."""
        rows = self._run("SELECT name FROM {p}dbc_sequences WHERE owned_by = ?", qualified_column)
        return rows[0][0] if rows else None

    # -- commands ---------------------------------------------------------

    def status(self, packet_name: str | None = None) -> list[tuple]:
        """--status output (reference: db_converter.py:526-539)."""
        return self._run(
            "SELECT p.name, p.status, p.dt, s.name, s.status, s.exception_descr"
            " FROM {p}dbc_packets p LEFT JOIN {p}dbc_steps s ON s.packet_id = p.id"
            " WHERE ? IS NULL OR p.name = ? ORDER BY p.name, s.id",
            packet_name or None, packet_name or None,
        )

    def wipe(self, packet_name: str) -> int:
        """--wipe: cascade-delete packet history, children first (reference:
        actiontracker:257-294). Returns number of packets wiped."""
        self._run(
            "DELETE FROM {p}dbc_actions WHERE packet_id IN"
            " (SELECT id FROM {p}dbc_packets WHERE name = ?)",
            packet_name,
        )
        self._run(
            "DELETE FROM {p}dbc_steps WHERE packet_id IN"
            " (SELECT id FROM {p}dbc_packets WHERE name = ?)",
            packet_name,
        )
        return len(self._run("DELETE FROM {p}dbc_packets WHERE name = ? RETURNING id", packet_name))
