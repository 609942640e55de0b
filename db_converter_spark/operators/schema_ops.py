"""Schema (database) cloning — the reference's clone_schema plpgsql machine
(reference: packets/dba_clone_schema/01_step.sql, ~500 lines of catalog-driven
DDL generation for tables/sequences/defaults/FKs/views/functions/triggers)
re-expressed over the Spark catalog.

On Spark the surface collapses: no sequences, defaults, FKs, functions, or
triggers exist for parquet tables — what remains is exactly tables (schema +
optionally data) and views. The same two-phase contract is kept: generate
the DDL command list first, then execute unless ``dry_run`` (the reference's
``p_dry_run`` prints the commands via RAISE NOTICE; here the list is
returned for the caller's notice channel).

Scale: each table clone is ONE distributed CTAS (scan→write, partition-
parallel, no shuffle); a 100 TB schema clones at full cluster width,
table-at-a-time. Views are catalog metadata.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from db_converter_spark.catalog import list_databases, list_relations


def _quote(db: str, name: str) -> str:
    return f"`{db}`.`{name}`"


def clone_schema(
    spark: SparkSession,
    src_db: str,
    dst_db: str,
    dry_run: bool = False,
    include_data: bool = True,
) -> list[str]:
    """Clone database ``src_db`` into (new) ``dst_db``; returns the DDL
    command list (executed unless ``dry_run``).

    ``include_data=False`` clones table shells only (the reference's
    structure-only mode); views are re-created with source-db references
    rewritten, dependency order resolved by retry (views-on-views)."""
    existing = set(list_databases(spark))
    # Same guards as the reference (packets/dba_clone_schema/01_step.sql:70-77):
    # missing template and pre-existing destination are hard errors.
    if src_db not in existing:
        raise ValueError(f"Template namespace {src_db} does not exist!")
    if dst_db in existing:
        raise ValueError(f"Namespace {dst_db} already exists!")

    relations = list_relations(spark, src_db)
    tables = [name for name, is_view in relations.items() if not is_view]
    views = [name for name, is_view in relations.items() if is_view]

    cmds = [f"CREATE DATABASE IF NOT EXISTS `{dst_db}`"]
    for name in sorted(tables):
        if include_data:
            cmds.append(
                f"CREATE TABLE {_quote(dst_db, name)} USING parquet AS"
                f" SELECT * FROM {_quote(src_db, name)}"
            )
        else:
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.table(f"{src_db}.{name}").schema.fields
            )
            cmds.append(f"CREATE TABLE {_quote(dst_db, name)} ({cols}) USING parquet")
    view_cmds = []
    for name in sorted(views):
        ddl = spark.sql(f"SHOW CREATE TABLE {_quote(src_db, name)}").collect()[0][0]
        ddl = ddl.replace(f"`{src_db}`.", f"`{dst_db}`.")
        ddl = ddl.replace(f"{src_db}.", f"{dst_db}.")
        view_cmds.append(ddl)
    cmds += view_cmds

    if dry_run:
        return cmds

    pending = list(cmds)
    # views may reference other views; a flat sorted order can be wrong —
    # retry failures until a full pass makes no progress (tiny N, catalog ops)
    last_err: Exception | None = None
    for _ in range(max(1, len(pending))):
        failed = []
        for c in pending:
            try:
                spark.sql(c)
            except Exception as e:  # noqa: BLE001 — retried below
                failed.append(c)
                last_err = e
        if not failed:
            return cmds
        if len(failed) == len(pending):
            raise last_err
        pending = failed
    return cmds
