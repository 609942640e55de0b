"""Affected-row counts of the routed DML rewrites are observed on the plan
that writes the table (or, under no-commit, on its noop shadow run), and
the catalog snapshot is built without Spark jobs. Each observed count must
equal the separate-pass reference count on the pre-image."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from db_converter_spark.operators import migration
from db_converter_spark.plans.runner import RunContext

DB = "cntdb"


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {int(jobs.apply(i).jobId()) for i in range(jobs.size())}


@pytest.fixture()
def ctx(spark):
    """Target ``cnt_t`` (a NULL key and a NULL value among its rows) and
    source ``cnt_s`` (a duplicate key, a NULL key, a key with no target)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase(DB)
    for name, rows, cols in (
        ("cnt_t", "(1, 10), (2, 20), (3, 30), (4, NULL), (NULL, 50)", "k, v"),
        ("cnt_s", "(2, 1), (2, 2), (3, 3), (NULL, 4), (9, 9)", "k, w"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {DB}.{name}")
        spark.sql(
            f"CREATE TABLE {DB}.{name} USING parquet AS"
            f" SELECT * FROM VALUES {rows} AS r({cols})"
        )
    yield RunContext(spark, DB, SimpleNamespace(meta={}, session_conf={}), read_only=False)
    spark.catalog.setCurrentDatabase(prev)


def _rows(spark) -> set[tuple]:
    spark.catalog.refreshTable(f"{DB}.cnt_t")
    return {tuple(r) for r in spark.table(f"{DB}.cnt_t").collect()}


T = f"{DB}.cnt_t"
_VALUES = "VALUES (1, 0), (7, 70)"

# (statement, reference count on the pre-image, expected count)
_CASES = {
    "update_from_equi_dup_and_null_keys": (
        "UPDATE cnt_t t SET v = s.w FROM cnt_s s WHERE t.k = s.k",
        lambda spark: migration.merge_matched_count(spark, T, spark.table(f"{DB}.cnt_s"), ["k"]),
        2,
    ),
    "update_from_condition": (
        "UPDATE cnt_t t SET v = s.w FROM cnt_s s WHERE t.k < s.k",
        lambda spark: migration.merge_matched_count(
            spark, T, spark.table(f"{DB}.cnt_s"), None, condition="t.k < s.k"
        ),
        4,
    ),
    "update_where": (
        "UPDATE cnt_t SET v = v + 1 WHERE v > 15",
        lambda spark: migration.predicate_match_count(spark, T, "v > 15"),
        3,
    ),
    "delete_where_null_predicate_rows": (
        "DELETE FROM cnt_t WHERE v > 15",
        lambda spark: migration.predicate_match_count(spark, T, "v > 15"),
        3,
    ),
    "delete_where_constant_true": (
        "DELETE FROM cnt_t WHERE 1 = 1",
        lambda spark: migration.predicate_match_count(spark, T, "1 = 1"),
        5,
    ),
    "delete_all": (
        "DELETE FROM cnt_t",
        lambda spark: migration.predicate_match_count(spark, T, None),
        5,
    ),
    "delete_using": (
        "DELETE FROM cnt_t USING cnt_s WHERE cnt_t.k = cnt_s.k",
        lambda spark: spark.table(T).alias("cnt_t").join(
            spark.table(f"{DB}.cnt_s").alias("cnt_s"), F.expr("cnt_t.k = cnt_s.k"), "left_semi"
        ).count(),
        2,
    ),
    "upsert_do_nothing": (
        f"INSERT INTO cnt_t(k, v) {_VALUES} ON CONFLICT (k) DO NOTHING",
        lambda spark: migration.upsert_affected_count(
            spark, T, spark.sql(_VALUES).toDF("k", "v"), ["k"], None
        ),
        1,
    ),
    "upsert_do_update": (
        f"INSERT INTO cnt_t(k, v) {_VALUES} ON CONFLICT (k) DO UPDATE SET v = excluded.v",
        lambda spark: migration.upsert_affected_count(
            spark, T, spark.sql(_VALUES).toDF("k", "v"), ["k"], {"v": "excluded.v"}
        ),
        2,
    ),
    "upsert_do_update_where": (
        f"INSERT INTO cnt_t(k, v) {_VALUES} ON CONFLICT (k)"
        " DO UPDATE SET v = excluded.v WHERE t.v > 10",
        lambda spark: migration.upsert_affected_count(
            spark, T, spark.sql(_VALUES).toDF("k", "v"), ["k"], {"v": "excluded.v"}, "t.v > 10"
        ),
        1,
    ),
}


@pytest.mark.parametrize("no_commit", [False, True], ids=["commit", "no_commit"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_observed_count_equals_reference(spark, ctx, case, no_commit):
    stmt, reference, expected = _CASES[case]
    want = reference(spark)
    assert want == expected
    before = _rows(spark)
    ctx.no_commit = no_commit
    (status,) = ctx.execute(stmt)
    assert status[1] == want, status
    if no_commit:
        assert status[2] == "no_commit"
        assert _rows(spark) == before
    else:
        assert _rows(spark) != before or want == 0


def test_committed_update_from_runs_jobs_only_in_its_swap_write(spark, ctx, monkeypatch):
    """The affected-row count of a committed ``UPDATE … FROM`` comes with the
    rewrite's own write: no Spark job starts outside ``_swap_write``."""
    swap_jobs: set[int] = set()
    swap_write = migration._swap_write

    def traced(spark_, table, df):
        before = _job_ids(spark_)
        swap_write(spark_, table, df)
        swap_jobs.update(_job_ids(spark_) - before)

    monkeypatch.setattr(migration, "_swap_write", traced)
    before = _job_ids(spark)
    (status,) = ctx.execute("UPDATE cnt_t t SET v = s.w FROM cnt_s s WHERE t.k = s.k")
    assert status == ["UPDATE", 2]
    assert swap_jobs
    assert _job_ids(spark) - before == swap_jobs
    rows = _rows(spark)
    # PG picks an unspecified one of the duplicate source rows for k = 2
    assert rows - {(2, 1), (2, 2)} == {(1, 10), (3, 3), (4, None), (None, 50)}
    assert len(rows) == 5


def test_refresh_catalog_runs_no_job_and_builds_local_relations(spark, ctx):
    """The pg_catalog / information_schema snapshot launches no Spark job
    (SHOW commands, analyzed schemas, Arrow-backed LocalRelations), and every
    emulation view optimizes to a LocalRelation — no RDD scan, no Python
    worker when packets join them."""
    from db_converter_spark.operators.maintenance import route_maintenance

    spark.sql(f"CREATE OR REPLACE VIEW {DB}.cnt_v AS SELECT k FROM {DB}.cnt_t")
    route_maintenance(spark, "CREATE INDEX cnt_t_k_idx ON cnt_t (k)")
    route_maintenance(spark, "ANALYZE cnt_t")
    ctx.packet.meta["dialect"] = "postgres"
    before = _job_ids(spark)
    ctx.refresh_catalog()
    assert _job_ids(spark) == before
    views = (
        "pg_namespace pg_class pg_attribute pg_type pg_stat_all_tables"
        " pg_stat_all_indexes pg_stat_user_indexes pg_index pg_am pg_constraint"
        " pg_stats pg_database pg_settings pg_stat_activity pg_locks"
        " pg_stat_replication information_schema_columns"
    ).split()
    for view in views:
        plan = spark.table(view)._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", (view, plan.toString())
    kinds = dict(
        spark.sql("SELECT relname, relkind FROM pg_class").collect()
    )
    assert kinds == {"cnt_t": "r", "cnt_s": "r", "cnt_t_k_idx": "i"}
    cols = spark.sql(
        "SELECT table_name, column_name FROM information_schema_columns"
        " ORDER BY table_name, ordinal_position"
    ).collect()
    assert [tuple(r) for r in cols] == [
        ("cnt_s", "k"), ("cnt_s", "w"), ("cnt_t", "k"), ("cnt_t", "v"), ("cnt_v", "k"),
    ]
    spark.sql(f"DROP VIEW {DB}.cnt_v")


def test_show_listing_matches_catalog_listing(spark, ctx):
    """``list_relations`` / ``column_types`` / ``list_databases`` answer
    what the job-launching Catalog listings answered: same names, same
    order, same view flags, same type strings; temporary views are left
    out."""
    from db_converter_spark.catalog import column_types, list_databases, list_relations

    spark.sql(f"DROP TABLE IF EXISTS {DB}.cnt_vc")
    spark.sql(
        f"CREATE TABLE {DB}.cnt_vc (id INT, name VARCHAR(12), tags ARRAY<STRING>,"
        " ts TIMESTAMP, amount DECIMAL(10,2)) USING parquet"
    )
    spark.sql(f"CREATE OR REPLACE VIEW {DB}.cnt_v AS SELECT k FROM {DB}.cnt_t")
    spark.range(1).createOrReplaceTempView("cnt_tmp")
    listed = {
        t.name: t.tableType == "VIEW"
        for t in spark.catalog.listTables(DB)
        if not t.isTemporary
    }
    assert list(list_relations(spark, DB).items()) == list(listed.items())
    assert "cnt_tmp" not in listed and listed["cnt_v"] is True
    for name in listed:
        want = [(c.name, c.dataType) for c in spark.catalog.listColumns(f"{DB}.{name}")]
        assert column_types(spark, f"{DB}.{name}") == want
    assert list_databases(spark) == [d.name for d in spark.catalog.listDatabases()]
    spark.catalog.dropTempView("cnt_tmp")
    spark.sql(f"DROP VIEW {DB}.cnt_v")
    spark.sql(f"DROP TABLE {DB}.cnt_vc")
