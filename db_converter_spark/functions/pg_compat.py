"""PostgreSQL-dialect compatibility shims (SURVEY §4.3 item 1).

Everything here is built from native ``pyspark.sql.functions`` expressions so
it stays inside whole-stage codegen — no Python UDFs in the hot path. The
pure and constant shims packet SQL calls by their PG names are registered as
SQL functions (``CREATE TEMPORARY FUNCTION … RETURN <expr>``, the same
expressions written in SQL), which Catalyst inlines: a query that calls them
starts no Python worker. Only ``pg_sleep`` and the per-refresh catalog
lookups (dict closures: ``pg_get_serial_sequence`` here, ``pg_relation_size``
and friends in ``pg_catalog``) stay Python UDFs. The driver-side
(plain-Python) variants exist for the engine layer's string formatting
(hooks, export filenames) and are the reference the SQL shims are tested
against.

Reference behaviors emulated:
- ``pg_size_pretty`` — reference: dba_top_tables/01_step.sql result columns.
- ``quote_ident`` / ``format('%I')`` — reference: dbccore usage in
  alert_check_autovacuum/01_step.sql:10, alert_int4_capacity/01_step.sql:21-27.
- int-division semantics: PG ``int/int`` truncates; Spark ``/`` is double —
  use ``F.expr('a div b')`` / :func:`int_div` for parity (SURVEY §2.9 math).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

_IDENT_RE = re.compile(r"^[a-z_][a-z0-9_$]*$")


# ---------------------------------------------------------------------------
# Column-level (JVM-side) shims
# ---------------------------------------------------------------------------

def pg_size_pretty(nbytes: Column) -> Column:
    """PG's pg_size_pretty: bytes → '123 MB' style text, halving by 1024.

    Mirrors PostgreSQL numeric formatting: unit thresholds at 10*unit with
    round-half-even division (PG src: dbsize.c). Pure expression — codegen'd.
    """
    b = nbytes.cast("double")
    kb, mb, gb, tb = 1024.0, 1024.0**2, 1024.0**3, 1024.0**4
    return (
        F.when(F.abs(b) < 10 * kb, F.concat(nbytes.cast("long").cast("string"), F.lit(" bytes")))
        .when(F.abs(b) < 10 * mb, F.concat(F.bround(b / kb).cast("long").cast("string"), F.lit(" kB")))
        .when(F.abs(b) < 10 * gb, F.concat(F.bround(b / mb).cast("long").cast("string"), F.lit(" MB")))
        .when(F.abs(b) < 10 * tb, F.concat(F.bround(b / gb).cast("long").cast("string"), F.lit(" GB")))
        .otherwise(F.concat(F.bround(b / tb).cast("long").cast("string"), F.lit(" TB")))
    )


def quote_ident(ident: Column) -> Column:
    """PG quote_ident as a native expression: quote unless a safe lowercase
    identifier; embedded double-quotes doubled."""
    safe = ident.rlike("^[a-z_][a-z0-9_$]*$")
    quoted = F.concat(F.lit('"'), F.regexp_replace(ident, '"', '""'), F.lit('"'))
    return F.when(safe, ident).otherwise(quoted)


def int_div(a: Column, b: Column) -> Column:
    """PG integer/integer division (truncating toward zero), like SQL `div`."""
    al, bl = a.cast("long"), b.cast("long")
    # Spark's % follows the dividend's sign (like PG), so (a - a%b) is exactly
    # divisible and the quotient truncates toward zero (PG int-div semantics).
    return ((al - al % bl) / bl).cast("long")


def generate_series(start, stop, step: int = 1) -> Column:
    """PG generate_series(a,b[,step]) as an array column; pair with
    ``F.explode`` for the set-returning form (SURVEY §2.2)."""
    return F.sequence(F.lit(start), F.lit(stop), F.lit(step))


# ---------------------------------------------------------------------------
# Driver-side (plain Python) variants for the engine layer
# ---------------------------------------------------------------------------

def py_quote_ident(ident: str) -> str:
    if _IDENT_RE.match(ident):
        return ident
    return '"' + ident.replace('"', '""') + '"'


def pg_format(fmt: str, *args) -> str:
    """PG format(): supports %s (literal), %I (identifier), %L (quoted
    literal), %% (percent). Used by the packet engine for dynamic SQL —
    reference: dbccore format() usages in packets."""
    out: list[str] = []
    it = iter(args)
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            spec = fmt[i + 1]
            if spec == "%":
                out.append("%")
            elif spec == "s":
                out.append(str(next(it)))
            elif spec == "I":
                out.append(py_quote_ident(str(next(it))))
            elif spec == "L":
                v = next(it)
                out.append("NULL" if v is None else "'" + str(v).replace("'", "''") + "'")
            else:
                raise ValueError(f"unsupported format spec %{spec}")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def py_pg_size_pretty(nbytes) -> str | None:
    """Driver/UDF twin of :func:`pg_size_pretty` (same PG thresholds)."""
    if nbytes is None:
        return None
    b = float(nbytes)
    if abs(b) < 10 * 1024:
        return f"{int(nbytes)} bytes"
    for unit, div in (("kB", 1024), ("MB", 1024**2), ("GB", 1024**3)):
        if abs(b) < 10 * div * 1024:
            return f"{round(b / div)} {unit}"
    return f"{round(b / 1024**4)} TB"


def _pg_sleep(seconds) -> bool:
    """PG pg_sleep: driver-side wait. Packets use it as a pacing/test
    primitive (reference: packets/test_sleep/01_step.sql, test_common/
    06_step.sql) — a control-flow function, never a data-path operator."""
    import time

    time.sleep(float(seconds or 0))
    return True


def _size_unit_sql(div: str, unit: str) -> str:
    return f"concat(CAST(bround(n / {div}) AS BIGINT), ' {unit}')"


# PG name -> (SQL parameter list, return type, body): the SQL spelling of
# the Column-level shims above, plus the constant answers of the
# introspection functions Spark has no counterpart for.
_SQL_SHIMS = {
    # python's round is half-even, like bround: parity with py_pg_size_pretty
    "pg_size_pretty": (
        "n DOUBLE",
        "STRING",
        "CASE WHEN abs(n) < 10240 THEN concat(CAST(n AS BIGINT), ' bytes')"
        f" WHEN abs(n) < 10485760 THEN {_size_unit_sql('1024', 'kB')}"
        f" WHEN abs(n) < 10737418240 THEN {_size_unit_sql('1048576', 'MB')}"
        f" WHEN abs(n) < 10995116277760 THEN {_size_unit_sql('1073741824', 'GB')}"
        f" ELSE {_size_unit_sql('1099511627776', 'TB')} END",
    ),
    "quote_ident": (
        "s STRING",
        "STRING",
        f"CASE WHEN s RLIKE '{_IDENT_RE.pattern}' THEN s"
        " ELSE concat('\"', replace(s, '\"', '\"\"'), '\"') END",
    ),
    # WAL-position introspection (reference: packets/dba_lag/01_step.sql):
    # Spark has no WAL; pg_stat_replication is the typed-empty view, and the
    # LSN functions return the zero position / zero byte-lag consistently.
    "pg_current_wal_lsn": ("", "STRING", "'0/0'"),
    "pg_last_wal_replay_lsn": ("", "STRING", "'0/0'"),
    "pg_wal_lsn_diff": ("a STRING, b STRING", "BIGINT", "0"),
    # Spark has no backend processes; -1 never equals a pg_stat_activity pid
    "pg_backend_pid": ("", "INT", "-1"),
    # no constraints exist on parquet tables — NULL, like PG for unknown oid
    "pg_get_constraintdef": ("oid BIGINT", "STRING", "CAST(NULL AS STRING)"),
}


def register_sql_shims(spark: SparkSession, *names: str) -> None:
    """(Re)register the named :data:`_SQL_SHIMS` as session-scoped SQL
    functions — each a driver-side catalog command, no Spark job."""
    for name in names:
        params, returns, body = _SQL_SHIMS[name]
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params})"
            f" RETURNS {returns} RETURN {body}"
        )


def register_pg_compat(spark: SparkSession) -> None:
    """Register SQL-callable shims so packet SQL can use PG names directly:
    the pure and constant ones as SQL functions (inlined, no Python worker),
    ``pg_sleep`` as a driver-side Python UDF."""
    register_sql_shims(
        spark,
        "quote_ident",
        "pg_size_pretty",
        "pg_current_wal_lsn",
        "pg_last_wal_replay_lsn",
        "pg_wal_lsn_diff",
    )
    spark.udf.register("pg_sleep", _pg_sleep, "boolean")
    # default: no sequence ownership known → NULL for every column, which is
    # PG's answer for a non-serial column. The runner re-registers a
    # ledger-backed version per target (RunContext.refresh_catalog) so
    # ALTER SEQUENCE ... OWNED BY makes this resolve like PG
    # (reference: packets/alert_int4_capacity/01_gen_obj.sql:11).
    register_serial_sequence_lookup(spark, {})


def register_serial_sequence_lookup(
    spark: SparkSession, owned: dict[str, str]
) -> None:
    """``pg_get_serial_sequence(table, column)`` over a snapshot of the
    ledger's sequence-ownership map ({'table.column' → sequence name},
    normalized lowercase, no ``public.`` qualifier). Snapshot-captured like
    the pg_catalog lookup UDFs: the dict ships to Python workers in the
    closure — no driver round-trip per row."""

    def _lookup(table, column):  # noqa: ANN001 — Spark UDF
        if table is None or column is None:
            return None
        t = str(table).replace('"', "").lower()
        c = str(column).replace('"', "").lower()
        key = f"{t}.{c}"
        key = key.removeprefix("public.")
        return owned.get(key)

    spark.udf.register("pg_get_serial_sequence", _lookup, "string")
