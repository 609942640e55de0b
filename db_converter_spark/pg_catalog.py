"""pg_catalog emulation — the introspection surface the reference's
alert_*/dba_* packet family queries (reference: packets/alert_check_autovacuum/
01_step.sql:1-16, packets/dba_top_tables/01_step.sql, packets/
alert_int4_capacity/01_gen_obj.sql), rebuilt over the live Spark catalog.

Shape parity, not byte parity: enough of pg_class / pg_namespace /
pg_attribute / pg_type / pg_stat_all_tables that the packets' joins and
predicates run unmodified through the PG dialect rewriter. Spark-specific
mappings:

- *oid*: a stable 32-bit hash of the qualified name (PG oids are also just
  opaque ints to these queries);
- *reloptions*: Spark TBLPROPERTIES rendered as PG-style ``k=v`` strings —
  the dialect rewriter maps ``ALTER TABLE t SET (k = v)`` onto
  TBLPROPERTIES, so options round-trip exactly like in PG; internal
  Spark/parquet bookkeeping properties are filtered out; NULL when no
  user options (PG semantics: NULL, not an empty array — containment
  predicates must not match optionless tables);
- *relpages / reltuples*: from ANALYZE statistics when present (DESCRIBE
  EXTENDED ``Statistics`` row), else file sizes listed from the table
  location; -1 reltuples when unknown, exactly PG's "never analyzed";
- *pg_stat_all_tables*: n_live_tup from the same stats; the MVCC counters
  (n_dead_tup, n_tup_ins/upd/hot_upd) are 0 — parquet has no dead tuples.

Everything here is driver-side catalog metadata (small N), and building
it launches no Spark job. Names come from ``SHOW DATABASES`` / ``SHOW
TABLES`` / ``SHOW VIEWS`` and columns from the analyzed table schema, all
answered by the session catalog on the driver; statistics from ``SHOW
TBLPROPERTIES`` / ``DESCRIBE EXTENDED`` (also driver-side commands) and a
filesystem stat of the table location when no statistics exist. Each view
is a ``LocalRelation`` over an Arrow table
(:func:`db_converter_spark.catalog.local_relation`), so the packets' joins
over pg_class / pg_attribute / ... read driver memory: no RDD scan, no
Python worker.
"""

from __future__ import annotations

import re
import zlib
from pathlib import Path

from pyspark.sql import SparkSession

from db_converter_spark.catalog import (
    column_types,
    list_databases,
    list_relations,
    local_relation,
)
from db_converter_spark.functions.pg_compat import register_sql_shims

# Spark simpleString -> PG typname (pg_type join key in the packets)
_PG_TYPNAME = {
    "tinyint": "int2",
    "smallint": "int2",
    "int": "int4",
    "bigint": "int8",
    "float": "float4",
    "double": "float8",
    "string": "text",
    "boolean": "bool",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "bytea",
}

# TBLPROPERTIES keys that are Spark/parquet bookkeeping, not user reloptions
_INTERNAL_PROP_RE = re.compile(
    r"^(spark\.|option\.|dbc\.|transient_lastDdlTime|external|numFiles|totalSize"
    r"|rawDataSize|numRows|COLUMN_STATS_ACCURATE|created|owner|bucketing_version)",
    re.I,
)

_STATS_RE = re.compile(r"([\d,]+)\s+bytes(?:,\s*([\d,]+)\s+rows)?")


def _oid(name: str) -> int:
    return zlib.crc32(name.encode())


def _prop_ts(props: dict, key: str):
    """dbc.last_analyze/last_vacuum property → datetime (None if absent) —
    the maintenance router stamps these (operators/maintenance.py _stamp)."""
    from datetime import datetime

    v = props.get(key)
    if not v:
        return None
    try:
        return datetime.fromisoformat(v).replace(tzinfo=None)
    except ValueError:
        return None


def _pg_typname(spark_type: str) -> str:
    base = spark_type.lower()
    if base.startswith("decimal"):
        return "numeric"
    if base.startswith("array"):
        inner = base[6:-1]
        return "_" + _pg_typname(inner)  # PG array typname convention
    if base.startswith(("struct", "map")):
        return base.split("<")[0]
    if base.startswith("varchar") or base.startswith("char"):
        return "text"
    return _PG_TYPNAME.get(base, base)


def _table_stats(spark: SparkSession, qualified: str) -> tuple[int | None, int | None]:
    """(size_bytes, row_count) from DESCRIBE EXTENDED; either may be None.
    Falls back to a filesystem listing of the table location for bytes."""
    size = rows = None
    location = None
    try:
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {qualified}").collect():
            if r[0] == "Statistics":
                m = _STATS_RE.search(r[1] or "")
                if m:
                    size = int(m.group(1).replace(",", ""))
                    if m.group(2):
                        rows = int(m.group(2).replace(",", ""))
            elif r[0] == "Location":
                location = r[1]
    except Exception:  # noqa: BLE001 — view/temp relations have no EXTENDED
        return None, None
    if size is None and location and location.startswith("file:"):
        p = Path(location[5:])
        if p.exists():
            size = sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return size, rows


def _column_stats(spark: SparkSession, qualified: str, col: str) -> tuple:
    """(null_count, avg_len, distinct_count) from ANALYZE ... FOR COLUMNS
    metadata; Nones when the column was never analyzed."""
    nulls = avg_len = distinct = None
    try:
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {qualified} {col}").collect():
            k = (r[0] or "").lower()
            v = r[1]
            if v in (None, "NULL"):
                continue
            if k == "num_nulls":
                nulls = int(v)
            elif k == "avg_col_len":
                avg_len = int(v)
            elif k == "distinct_count":
                distinct = int(v)
    except Exception:  # noqa: BLE001 — no per-column describe on views
        pass
    return nulls, avg_len, distinct


def create_pg_catalog_views(spark: SparkSession, dbs: list[str] | None = None) -> None:
    """(Re)build the pg_catalog temp views over ``dbs`` (default: the
    session's current database). Call again after DDL to refresh — PG's
    catalog is live, these views are a snapshot (documented gap).

    Also registers metadata-lookup SQL functions the packets call with oids
    (``pg_get_indexdef``, ``pg_relation_size``, ``pg_table_size``) — each
    closes over a dict built here; catalogs are driver-side metadata, the
    lookups never touch executors with more than a broadcast-size map."""
    from db_converter_spark.operators.maintenance import parse_indexes

    dbs = dbs or [spark.catalog.currentDatabase()]
    ns_rows: list[tuple] = []
    cls_rows: list[tuple] = []
    att_rows: list[tuple] = []
    stat_rows: list[tuple] = []
    idx_rows: list[tuple] = []
    pgstats_rows: list[tuple] = []
    indexdefs: dict[int, str] = {}
    relsizes: dict[int, int] = {}
    for db in dbs:
        ns_oid = _oid(db)
        ns_rows.append((ns_oid, db))
        for name, is_view in list_relations(spark, db).items():
            if is_view:
                continue
            qualified = f"{db}.{name}"
            oid = _oid(qualified)
            try:
                props = {
                    r["key"]: r["value"]
                    for r in spark.sql(f"SHOW TBLPROPERTIES {qualified}").collect()
                }
            except Exception:  # noqa: BLE001
                props = {}
            reloptions = [
                f"{k}={v}"
                for k, v in sorted(props.items())
                if not _INTERNAL_PROP_RE.match(k)
            ] or None
            size, nrows = _table_stats(spark, qualified)
            relpages = (size or 0) // 8192
            reltuples = float(nrows) if nrows is not None else -1.0
            relsizes[oid] = size or 0
            indexes = parse_indexes(props)
            cls_rows.append(
                (oid, name, ns_oid, "r", reltuples, relpages, reloptions,
                 0, 0, bool(indexes), 0, 0)
            )
            stat_rows.append(
                (oid, db, name, nrows if nrows is not None else 0, 0, 0, 0, 0,
                 # scan counters: Spark's scheduler keeps no per-table scan
                 # totals — identically 0 (documented structural gap)
                 0, 0, 0, 0,
                 _prop_ts(props, "dbc.last_vacuum"), None,
                 _prop_ts(props, "dbc.last_analyze"), None)
            )
            colnums: dict[str, int] = {}
            for i, (col, dtype) in enumerate(column_types(spark, qualified)):
                colnums[col] = i + 1
                att_rows.append((oid, col, i + 1, _pg_typname(dtype), False))
                nulls, avg_len, distinct = _column_stats(spark, qualified, col)
                if avg_len is not None or nulls is not None:
                    null_frac = (
                        float(nulls) / float(nrows)
                        if nulls is not None and nrows
                        else 0.0
                    )
                    pgstats_rows.append(
                        (db, name, col, False, null_frac,
                         avg_len if avg_len is not None else 0,
                         float(distinct) if distinct is not None else -1.0)
                    )
            # Recorded secondary-index definitions (operators/maintenance.py):
            # Spark scans prune via stats/partitioning, the DEFINITIONS are
            # catalog metadata — exactly the surface pg_index readers need.
            ncols = max(1, len(colnums))
            for iname, spec in indexes.items():
                ioid = _oid(f"{db}.{iname}")
                icols = [c for c in spec["cols"] if c in colnums]
                # size estimate: the indexed columns' share of the table
                ipages = relpages * max(1, len(icols)) // ncols
                cls_rows.append(
                    (ioid, iname, ns_oid, "i", reltuples, ipages, None,
                     _oid(spec["method"]), 0, False, 0, 0)
                )
                relsizes[ioid] = (size or 0) * max(1, len(icols)) // ncols
                idx_rows.append(
                    (ioid, oid, len(icols),
                     [colnums[c] for c in icols],
                     [colnums[c] for c in icols],
                     " ".join(str(colnums[c]) for c in icols),
                     bool(spec.get("unique")), False, True, True)
                )
                cols_sql = ", ".join(icols)
                indexdefs[ioid] = (
                    f"CREATE {'UNIQUE ' if spec.get('unique') else ''}INDEX {iname}"
                    f" ON {db}.{name} USING {spec['method']} ({cols_sql})"
                )

    local_relation(spark, ns_rows, "oid bigint, nspname string").createOrReplaceTempView(
        "pg_namespace"
    )
    local_relation(
        spark,
        cls_rows,
        "oid bigint, relname string, relnamespace bigint, relkind string,"
        " reltuples double, relpages bigint, reloptions array<string>,"
        " relam bigint, reltoastrelid bigint, relhasindex boolean,"
        # frozen-xid ages are identically 0: parquet is copy-on-write, no
        # MVCC wraparound exists, so age-based alerts correctly never fire
        " relfrozenxid bigint, relminmxid bigint",
    ).createOrReplaceTempView("pg_class")
    local_relation(
        spark,
        att_rows,
        "attrelid bigint, attname string, attnum int, atttypid string,"
        # parquet never carries dropped-column tombstones
        " attisdropped boolean",
    ).createOrReplaceTempView("pg_attribute")
    typ = sorted({r[3] for r in att_rows})
    local_relation(
        spark,
        [(t, t) for t in typ] or [("text", "text")], "oid string, typname string"
    ).createOrReplaceTempView("pg_type")
    local_relation(
        spark,
        stat_rows,
        "relid bigint, schemaname string, relname string, n_live_tup bigint,"
        " n_dead_tup bigint, n_tup_ins bigint, n_tup_upd bigint, n_tup_hot_upd bigint,"
        " seq_scan bigint, seq_tup_read bigint, idx_scan bigint, idx_tup_fetch bigint,"
        " last_vacuum timestamp, last_autovacuum timestamp,"
        " last_analyze timestamp, last_autoanalyze timestamp",
    ).createOrReplaceTempView("pg_stat_all_tables")
    idx_stat_df = local_relation(
        spark,
        [(r[0], r[1], 0) for r in idx_rows],
        "indexrelid bigint, relid bigint, idx_scan bigint",
    )
    idx_stat_df.createOrReplaceTempView("pg_stat_all_indexes")
    # user-relations variant: identical here (no system catalogs on disk)
    idx_stat_df.createOrReplaceTempView("pg_stat_user_indexes")
    # `indkey` is the int2vector itself (ARRAY — PG's `= any(indkey)` and
    # 0-based `indkey[n]` subscripts work verbatim); `indkey_str` keeps the
    # PG ::text rendering ('1 2'); `indkey_arr` is the legacy port alias.
    _IDX_SCHEMA = (
        "indexrelid bigint, indrelid bigint, indnatts int, indkey_arr array<int>,"
        " indkey array<int>, indkey_str string, indisunique boolean,"
        " indisprimary boolean, indisvalid boolean, indisready boolean"
    )
    local_relation(spark, idx_rows, _IDX_SCHEMA).createOrReplaceTempView(
        "pg_index"
    )
    local_relation(
        spark,
        [(_oid(m), m) for m in ("btree", "hash", "gist", "gin", "brin")],
        "oid bigint, amname string",
    ).createOrReplaceTempView("pg_am")
    # No PK/FK/unique constraints exist on parquet tables — typed empty view
    # so constraint-reading packets (dba_idx_diag 03/06) run and report none.
    local_relation(
        spark,
        [],
        "oid bigint, conname string, contype string, connamespace bigint,"
        " conindid bigint, conrelid bigint, confrelid bigint,"
        " conkey array<int>, confkey array<int>,"
        " confupdtype string, confdeltype string",
    ).createOrReplaceTempView("pg_constraint")
    local_relation(
        spark,
        pgstats_rows,
        "schemaname string, tablename string, attname string, inherited boolean,"
        " null_frac double, avg_width int, n_distinct double",
    ).createOrReplaceTempView("pg_stats")

    # per-table index-size totals (estimates): oid(table) → sum(index sizes)
    idx_size_by_table: dict[int, int] = {}
    for r in idx_rows:
        idx_size_by_table[r[1]] = idx_size_by_table.get(r[1], 0) + relsizes.get(
            r[0], 0
        )

    def _pg_get_indexdef(oid):  # noqa: ANN001 — Spark UDF
        return indexdefs.get(oid)

    def _pg_relation_size(oid):  # noqa: ANN001
        return relsizes.get(oid, 0)

    def _pg_indexes_size(oid):  # noqa: ANN001
        return idx_size_by_table.get(oid, 0)

    def _pg_total_relation_size(oid):  # noqa: ANN001
        return relsizes.get(oid, 0) + idx_size_by_table.get(oid, 0)

    spark.udf.register("pg_get_indexdef", _pg_get_indexdef, "string")
    spark.udf.register("pg_relation_size", _pg_relation_size, "bigint")
    spark.udf.register("pg_table_size", _pg_relation_size, "bigint")
    spark.udf.register("pg_indexes_size", _pg_indexes_size, "bigint")
    spark.udf.register("pg_total_relation_size", _pg_total_relation_size, "bigint")
    # no constraints exist on parquet tables — NULL, like PG for unknown oid
    register_sql_shims(spark, "pg_get_constraintdef")


def create_pg_instance_views(spark: SparkSession) -> None:
    """Instance-level introspection views: pg_database / pg_settings /
    pg_stat_activity / pg_locks / pg_stat_replication.

    Mappings (shape parity; each gap is structural, not an omission):

    - *pg_database*: Spark catalog databases; frozen-xid ages are 0 —
      parquet has no wraparound, so age-based alerts correctly never fire;
    - *pg_settings*: the session's SQL confs (``SET -v``) — name/setting/
      unit/boot_val shaped; byte-valued Spark confs get unit='B';
    - *pg_stat_activity*: one row per active Spark job from the status
      tracker — pid=jobId, state='active'; queries/xids are NULL (the
      scheduler does not retain SQL text per job);
    - *pg_locks*, *pg_stat_replication*: typed empty views — Spark holds no
      row locks and has no WAL replicas; lock/lag packets run and correctly
      report nothing.
    """
    dbs = [(_oid(d), d, 0, 0) for d in list_databases(spark)]
    local_relation(
        spark,
        dbs, "oid bigint, datname string, datfrozenxid bigint, datminmxid bigint"
    ).createOrReplaceTempView("pg_database")

    set_rows = []
    for r in spark.sql("SET -v").collect():
        name, value = r[0], r[1]
        if value == "<undefined>":
            continue
        unit = "B" if re.search(r"(?:maxPartitionBytes|autoBroadcastJoinThreshold|inMemoryColumnarStorage\.batchSize)$", name) else None
        set_rows.append((name, value, unit, value, (r[2] or "")[:200]))
    # synthetic max_connections: the closest Spark notion of a connection
    # ceiling is the task-slot count — lets the reference's
    # alert_max_connections arithmetic run unmodified over pg_stat_activity
    set_rows.append(
        (
            "max_connections",
            str(spark.sparkContext.defaultParallelism),
            None,
            str(spark.sparkContext.defaultParallelism),
            "synthetic: Spark task-slot count (defaultParallelism)",
        )
    )
    local_relation(
        spark,
        set_rows,
        "name string, setting string, unit string, boot_val string, short_desc string",
    ).createOrReplaceTempView("pg_settings")

    act_rows = []
    try:
        tracker = spark.sparkContext.statusTracker()
        app = spark.sparkContext.appName
        user = spark.sparkContext.sparkUser()
        db = spark.catalog.currentDatabase()
        for jid in tracker.getActiveJobsIds():
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            act_rows.append(
                (jid, db, user, app, "active",
                 f"spark job {jid} (stages {list(info.stageIds)})",
                 None, None, None, None, None, None, None)
            )
    except Exception:  # noqa: BLE001 — tracker unavailable on some backends
        pass
    _ACT_SCHEMA = (
        "pid int, datname string, usename string, application_name string,"
        " state string, query string, backend_xid bigint, backend_xmin bigint,"
        " xact_start timestamp, state_change timestamp, wait_event_type string,"
        " wait_event string, client_addr string"
    )
    local_relation(spark, act_rows, _ACT_SCHEMA).createOrReplaceTempView(
        "pg_stat_activity"
    )
    local_relation(
        spark,
        [],
        "locktype string, database bigint, relation bigint, page int, tuple int,"
        " virtualxid string, transactionid bigint, classid bigint, objid bigint,"
        " objsubid int, pid int, granted boolean",
    ).createOrReplaceTempView("pg_locks")
    local_relation(
        spark,
        [],
        "pid int, client_addr string, sent_lsn string, write_lsn string,"
        " flush_lsn string, replay_lsn string",
    ).createOrReplaceTempView("pg_stat_replication")
    register_sql_shims(spark, "pg_backend_pid")
