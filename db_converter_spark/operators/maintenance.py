"""PostgreSQL maintenance-statement surface on parquet tables.

The reference's packets issue VACUUM / ANALYZE / CREATE INDEX / DROP INDEX /
REINDEX / CLUSTER as ordinary steps (reference: packets/test_maint/01-06,
packets/test_wait_tx/03_step.sql) and as generator maint side-channel
commands. Spark has native ANALYZE but none of the others, so each gets the
idiomatic mapping instead of an error:

- ``ANALYZE [VERBOSE] t``            → ``ANALYZE TABLE t COMPUTE STATISTICS``
  (feeds pg_class.reltuples/relpages in the pg_catalog emulation, exactly
  what PG's ANALYZE feeds);
- ``ANALYZE t (c1, c2)`` / maint ``vacuum analyze t`` additionally compute
  column stats (feeds the pg_stats emulation: null_frac/avg_width);
- ``VACUUM t``                        → no-op notice: parquet has no dead
  tuples to reclaim (copy-on-write files, not MVCC pages);
- ``VACUUM FULL t``                   → file compaction: rewrite the table
  at the target file size via swap-write — the actual Spark analog of
  rewriting a bloated heap (small-files problem instead of dead tuples);
- ``VACUUM [FULL] ANALYZE t``         → the above + stats;
- ``CREATE [UNIQUE] INDEX [CONCURRENTLY] [IF NOT EXISTS] [name] ON t
  [USING m] (cols) [WITH (...)] ``    → recorded as table metadata
  (TBLPROPERTIES ``dbc.index.<name>``). Spark/parquet has no secondary
  indexes — scans are pruned by statistics and partitioning — but the
  DEFINITIONS are durable catalog state the pg_catalog emulation exposes
  as pg_index/pg_class(relkind='i'), which is all the reference's
  alert_invalid_indexes / dba_idx_diag family reads;
- ``DROP INDEX [CONCURRENTLY] [IF EXISTS] [nsp.]name`` → unrecord;
- ``REINDEX ... / CLUSTER ...``       → no-op notice (nothing to rebuild).

Every mapping returns the PG-style status head (``["VACUUM"]`` etc.) so
captured step output matches the reference's command tags.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import SparkSession

from db_converter_spark.catalog import list_relations

_TARGET_FILE_BYTES = 128 * 1024 * 1024  # parquet compaction target

_VACUUM_RE = re.compile(
    r"^vacuum(?:\s+\(.*?\))?((?:\s+(?:full|freeze|verbose|analyze))*)\s*([\w.`\"]+)?\s*$",
    re.I | re.S,
)
_ANALYZE_RE = re.compile(
    r"^analyze(?:\s+verbose)?\s*([\w.`\"]+)?\s*(\(([^)]*)\))?\s*$", re.I | re.S
)
_CREATE_INDEX_RE = re.compile(
    r"^create\s+(unique\s+)?index\s+(concurrently\s+)?(if\s+not\s+exists\s+)?"
    r"([\w`\"]+\s+)?on\s+(only\s+)?([\w.`\"]+)\s*(?:using\s+(\w+)\s*)?"
    r"\(([^)]*)\)",
    re.I | re.S,
)
_DROP_INDEX_RE = re.compile(
    r"^drop\s+index\s+(concurrently\s+)?(if\s+exists\s+)?([\w.`\"]+)\s*(cascade|restrict)?\s*$",
    re.I | re.S,
)
_REINDEX_RE = re.compile(r"^(reindex|cluster)\b", re.I)
_ALTER_DEFAULT_RE = re.compile(
    r"^alter\s+table\s+(?:if\s+exists\s+)?(?:only\s+)?([\w.`\"]+)\s+"
    r"alter\s+(?:column\s+)?([\w`\"]+)\s+(?:(set\s+default\s+(.+))|drop\s+default)\s*$",
    re.I | re.S,
)

INDEX_PROP_PREFIX = "dbc.index."
DEFAULT_PROP_PREFIX = "dbc.default."


def _unquote(ident: str) -> str:
    return ident.strip().strip('`"')


def _qualify(spark: SparkSession, table: str) -> str:
    t = ".".join(_unquote(p) for p in table.split("."))
    if "." not in t:
        t = f"{spark.catalog.currentDatabase()}.{t}"
    return t


def route_maintenance(
    spark: SparkSession, stmt: str, dry_run: bool = False
) -> tuple[list, list[tuple[str, str]]] | None:
    """If ``stmt`` is a PG maintenance statement, execute its Spark mapping
    and return ``(status_row, notices)``; else None. ``dry_run`` validates
    (table resolution, index parse) without executing."""
    s = stmt.strip().rstrip(";").strip()
    m = _VACUUM_RE.match(s)
    if m:
        mods = (m.group(1) or "").lower()
        table = m.group(2)
        return _vacuum(spark, table, "full" in mods, "analyze" in mods, dry_run)
    m = _ANALYZE_RE.match(s)
    if m:
        return _analyze(spark, m.group(1), m.group(3), dry_run)
    m = _CREATE_INDEX_RE.match(s)
    if m:
        return _create_index(spark, m, dry_run)
    m = _DROP_INDEX_RE.match(s)
    if m:
        return _drop_index(
            spark, m.group(3), if_exists=bool(m.group(2)), dry_run=dry_run
        )
    m = _REINDEX_RE.match(s)
    if m:
        kw = m.group(1).upper()
        return [kw], [
            ("LOG", f"{kw.lower()}: no-op on parquet (no physical index/heap order)")
        ]
    m = _ALTER_DEFAULT_RE.match(s)
    if m:
        return _alter_default(
            spark, m.group(1), m.group(2), m.group(4) if m.group(3) else None, dry_run
        )
    return None


def _alter_default(
    spark: SparkSession,
    table: str,
    column: str,
    expr: str | None,
    dry: bool,
) -> tuple[list, list[tuple[str, str]]]:
    """``ALTER TABLE t ALTER COLUMN c SET DEFAULT e`` / ``DROP DEFAULT`` —
    recorded driver-side as a ``dbc.default.<col>`` table property (same
    catalog pattern as recorded indexes). Spark's native column DEFAULT
    requires a constant-foldable expression, which ``nextval('s')`` is not;
    the runner applies recorded defaults to INSERTs that omit the column
    (reference: packets/test_int4_to_int8/06_step.sql:6-7)."""
    q = _qualify(spark, table)
    col = _unquote(column).lower()
    if not dry:
        spark.table(q)  # resolve: unknown table must fail like PG
    prop = f"{DEFAULT_PROP_PREFIX}{col}"
    notices: list[tuple[str, str]] = []
    if dry:
        return ["ALTER TABLE"], notices
    if expr is None:
        spark.sql(f"ALTER TABLE {q} UNSET TBLPROPERTIES IF EXISTS ('{prop}')")
    else:
        val = expr.strip().rstrip(";").replace("\\", "\\\\").replace('"', '\\"')
        spark.sql(f'ALTER TABLE {q} SET TBLPROPERTIES ("{prop}" = "{val}")')
        notices.append(
            ("LOG", f"default for {q}.{col} recorded driver-side ({prop})")
        )
    return ["ALTER TABLE"], notices


def _vacuum(
    spark: SparkSession, table: str | None, full: bool, analyze: bool, dry: bool
) -> tuple[list, list[tuple[str, str]]]:
    notices: list[tuple[str, str]] = []
    if table is None:
        # database-wide VACUUM: nothing to reclaim, per-file immutability
        notices.append(("LOG", "vacuum: no-op on parquet (no dead tuples)"))
        return ["VACUUM"], notices
    q = _qualify(spark, table)
    if dry:
        spark.table(q)  # resolution check only
        return ["VACUUM", "no_commit"], notices
    if full:
        # compaction: rewrite at the target file size (the Spark analog of
        # rewriting a bloated heap). Partition count from current bytes.
        from db_converter_spark.operators.migration import _swap_write
        from db_converter_spark.pg_catalog import _table_stats

        size, _ = _table_stats(spark, q)
        nparts = max(1, int((size or 0) // _TARGET_FILE_BYTES) + 1)
        _swap_write(spark, q, spark.table(q).coalesce(nparts))
        notices.append(("LOG", f"vacuum full: rewrote {q} into {nparts} file group(s)"))
        _stamp(spark, q, "vacuum")
    else:
        notices.append(("LOG", f"vacuum: no-op on parquet for {q} (no dead tuples)"))
        _stamp(spark, q, "vacuum")
    if analyze:
        _analyze_table(spark, q)
        notices.append(("LOG", f"analyze: statistics computed for {q}"))
    return ["VACUUM"], notices


def _stamp(spark: SparkSession, q: str, kind: str) -> None:
    """Record a maintenance timestamp as a table property — the source for
    pg_stat_all_tables.last_analyze/last_vacuum in the catalog emulation
    (PG keeps these in the stats collector; parquet's analog is table
    metadata). Never fails the statement."""
    from datetime import datetime, timezone

    try:
        spark.sql(
            f"ALTER TABLE {q} SET TBLPROPERTIES"
            f" ('dbc.last_{kind}' = '{datetime.now(timezone.utc).isoformat()}')"
        )
    except Exception:  # noqa: BLE001 — temp views have no properties
        pass


def _analyze_table(spark: SparkSession, q: str, cols: list[str] | None = None) -> None:
    """Table stats + column stats, like PG's ANALYZE (which always samples
    column distributions — null_frac/avg_width feed the pg_stats emulation).
    Column stats only over atomic types; Spark rejects FOR COLUMNS on
    array/map/struct."""
    spark.sql(f"ANALYZE TABLE {q} COMPUTE STATISTICS").collect()
    _stamp(spark, q, "analyze")
    if cols is None:
        cols = [
            f.name
            for f in spark.table(q).schema.fields
            if f.dataType.typeName()
            not in ("array", "map", "struct", "variant", "udt")
        ]
    if cols:
        col_list = ", ".join(f"`{c}`" for c in cols)
        spark.sql(
            f"ANALYZE TABLE {q} COMPUTE STATISTICS FOR COLUMNS {col_list}"
        ).collect()


def _analyze(
    spark: SparkSession, table: str | None, cols: str | None, dry: bool
) -> tuple[list, list[tuple[str, str]]]:
    if table is None:
        if not dry:
            db = spark.catalog.currentDatabase()
            for name, is_view in list_relations(spark, db).items():
                if not is_view:
                    spark.sql(
                        f"ANALYZE TABLE {db}.{name} COMPUTE STATISTICS"
                    ).collect()
        return ["ANALYZE"], []
    q = _qualify(spark, table)
    if dry:
        spark.table(q)
        return ["ANALYZE", "no_commit"], []
    _analyze_table(
        spark, q, [_unquote(c) for c in cols.split(",")] if cols else None
    )
    return ["ANALYZE"], []


def parse_indexes(props: dict[str, str]) -> dict[str, dict]:
    """Recorded index definitions in a table's TBLPROPERTIES: {name: spec}."""
    return {
        k[len(INDEX_PROP_PREFIX):]: json.loads(v)
        for k, v in props.items()
        if k.startswith(INDEX_PROP_PREFIX)
    }


def list_indexes(spark: SparkSession, qualified_table: str) -> dict[str, dict]:
    """Recorded index definitions on one table: {name: spec}."""
    try:
        rows = spark.sql(f"SHOW TBLPROPERTIES {qualified_table}").collect()
    except Exception:  # noqa: BLE001 — views/temp tables hold no indexes
        return {}
    return parse_indexes({r["key"]: r["value"] for r in rows})


def _create_index(
    spark: SparkSession, m: re.Match, dry: bool
) -> tuple[list, list[tuple[str, str]]]:
    unique = bool(m.group(1))
    if_not_exists = bool(m.group(3))
    table = _qualify(spark, m.group(6))
    method = (m.group(7) or "btree").lower()
    cols = [
        _unquote(c.split()[0])  # strip ASC/DESC/NULLS ... ordering clauses
        for c in m.group(8).split(",")
        if c.strip()
    ]
    name = _unquote(m.group(4)) if m.group(4) else None
    if name is None:  # PG auto-naming: <table>_<cols>_idx
        name = f"{table.split('.')[-1]}_{'_'.join(cols)}_idx"
    spark.table(table)  # resolution check (raises like PG's missing relation)
    known = {f.name for f in spark.table(table).schema.fields}
    missing = [c for c in cols if c not in known]
    if missing:
        raise ValueError(f'column "{missing[0]}" does not exist in {table}')
    if dry:
        return ["CREATE", "no_commit"], []
    if name in list_indexes(spark, table):
        if if_not_exists:
            return ["CREATE"], [("NOTICE", f'relation "{name}" already exists, skipping')]
        raise ValueError(f'relation "{name}" already exists')
    spec = json.dumps({"method": method, "unique": unique, "cols": cols})
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES"
        f" ('{INDEX_PROP_PREFIX}{name}' = '{spec}')"
    )
    return ["CREATE"], [
        (
            "LOG",
            f"index {name} recorded on {table} ({method}; parquet scans prune"
            " via statistics, the definition is catalog metadata)",
        )
    ]


def _drop_index(
    spark: SparkSession, ident: str, if_exists: bool, dry_run: bool
) -> tuple[list, list[tuple[str, str]]]:
    parts = [_unquote(p) for p in ident.split(".")]
    name = parts[-1]
    dbs = [parts[0]] if len(parts) > 1 else [spark.catalog.currentDatabase()]
    for db in dbs:
        for tname, is_view in list_relations(spark, db).items():
            if is_view:
                continue
            q = f"{db}.{tname}"
            if name in list_indexes(spark, q):
                if not dry_run:
                    spark.sql(
                        f"ALTER TABLE {q} UNSET TBLPROPERTIES"
                        f" ('{INDEX_PROP_PREFIX}{name}')"
                    )
                return ["DROP"], [("LOG", f"index {name} unrecorded from {q}")]
    if if_exists:
        return ["DROP"], [("NOTICE", f'index "{name}" does not exist, skipping')]
    raise ValueError(f'index "{name}" does not exist')
