"""Migration operator tests — semantic port of the reference's flagship
int4→int8 chunked-migration workload (reference: packets/test_int4_to_int8,
tests/test_packets.py:500-544): same fixture shape (200 010 rows scaled
down), same assertions (row counts preserved, final schema widened, values
intact), Spark-first execution (single parallel rewrite instead of 20
UPDATE transactions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_converter_spark.catalog import create_information_schema_views
from db_converter_spark.operators.migration import (
    change_column_type,
    chunk_grid,
    delete_where,
    merge_update,
)
from db_converter_spark.plans.model import ResultCode
from db_converter_spark.plans.runner import PacketRunner


@pytest.fixture()
def mig_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS migdb")
    spark.sql("USE migdb")
    spark.sql("DROP TABLE IF EXISTS mig_t")
    spark.range(1, 2011).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 100).cast("int").alias("fld_1"),
        F.concat(F.lit("text_"), F.col("id")).alias("fld_2"),
    ).write.saveAsTable("mig_t")
    yield "migdb.mig_t"
    spark.sql("DROP TABLE IF EXISTS migdb.mig_t")
    spark.sql("USE default")


def test_change_column_type(spark, mig_table):
    before = spark.table(mig_table)
    assert dict(before.dtypes)["id"] == "int"
    total = before.count()
    checksum = before.agg(F.sum("id")).collect()[0][0]

    change_column_type(spark, mig_table, "id", "bigint")

    after = spark.table(mig_table)
    assert dict(after.dtypes)["id"] == "bigint"
    assert after.count() == total
    assert after.agg(F.sum("id")).collect()[0][0] == checksum
    # no leftover staging tables
    # filter session temp views (pg_catalog emulation registers pg_* views
    # session-wide; listTables includes them alongside the db's tables)
    names = [
        t.name
        for t in spark.catalog.listTables("migdb")
        if t.tableType != "TEMPORARY"
    ]
    assert names == ["mig_t"]


def test_change_column_type_keeps_recorded_default_and_index(spark, mig_table):
    """The type change rewrites through the swap write, which carries the
    table's recorded DEFAULT (a quoted nextval call) and index over."""
    from db_converter_spark.operators.maintenance import list_indexes, route_maintenance

    route_maintenance(spark, "ALTER TABLE mig_t ALTER COLUMN fld_1 SET DEFAULT nextval('mig_seq')")
    route_maintenance(spark, "CREATE INDEX mig_t_fld_2_idx ON mig_t (fld_2)")

    change_column_type(spark, mig_table, "id", "bigint")

    assert dict(spark.table(mig_table).dtypes)["id"] == "bigint"
    props = {r["key"]: r["value"] for r in spark.sql(f"SHOW TBLPROPERTIES {mig_table}").collect()}
    assert props["dbc.default.fld_1"] == "nextval('mig_seq')"
    assert list(list_indexes(spark, mig_table)) == ["mig_t_fld_2_idx"]


def test_merge_update(spark, mig_table):
    src = spark.range(1, 101).select(F.col("id").cast("int").alias("id"))
    merge_update(
        spark, mig_table, src, on=["id"], set_map={"fld_1": "t.fld_1 + 1000"}
    )
    df = spark.table(mig_table)
    assert df.where("id <= 100 AND fld_1 < 1000").count() == 0
    assert df.where("id > 100 AND fld_1 >= 1000").count() == 0
    assert df.count() == 2010


def test_delete_where(spark, mig_table):
    delete_where(spark, mig_table, "id % 2 = 0")
    df = spark.table(mig_table)
    assert df.count() == 1005
    assert df.where("id % 2 = 0").count() == 0


def test_chunk_grid(spark, mig_table):
    grid = chunk_grid(spark, mig_table, "id", chunk_size=500).collect()
    # ids 1..2010 → starts at 1, 501, 1001, 1501, 2001
    assert [(r["a"], r["b"]) for r in grid] == [
        (1, 500), (501, 1000), (1001, 1500), (1501, 2000), (2001, 2500),
    ]


def test_information_schema_probe(spark, mig_table):
    """The reference's conditional-migration probe: check column type via
    information_schema before migrating (reference:
    packets/test_int4_to_int8/01_step.sql:5-7), via the PG dialect."""
    from db_converter_spark.plans.pgdialect import rewrite

    create_information_schema_views(spark, "migdb")
    rows = spark.sql(
        rewrite(
            "select data_type from information_schema.columns"
            " where table_name = 'mig_t' and column_name = 'id'"
        )
    ).collect()
    assert rows[0][0] == "int"


def test_int4_to_int8_packet_end_to_end(spark, tmp_path):
    """Full packet port: fixture table → conditional py-step migration →
    verify (the reference's test asserts DONE + row counts; we add schema
    and checksum assertions)."""
    pdir = tmp_path / "int4_to_int8"
    pdir.mkdir()
    (pdir / "run_once.sql").write_text(
        "CREATE TABLE IF NOT EXISTS i48_t USING parquet AS"
        " SELECT CAST(id AS INT) AS id, CONCAT('v_', id) AS payload"
        " FROM RANGE(1, 1001)"
    )
    (pdir / "01_step.py").write_text(
        "from db_converter_spark.catalog import create_information_schema_views\n"
        "from db_converter_spark.operators.migration import change_column_type\n"
        "db = spark.catalog.currentDatabase()\n"
        "create_information_schema_views(spark, db)\n"
        "typ = spark.sql(\"select data_type from information_schema_columns\"\n"
        "                \" where table_name='i48_t' and column_name='id'\").collect()[0][0]\n"
        "if typ == 'int':\n"
        "    change_column_type(spark, f'{db}.i48_t', 'id', 'bigint')\n"
        "    ctx.raise_notice('NOTICE', 'migrated id to bigint')\n"
        "else:\n"
        "    ctx.raise_notice('NOTICE', f'skip: id is {typ}')\n"
    )
    (pdir / "02_step.sql").write_text(
        "select count(*) as n, sum(id) as checksum from i48_t"
    )
    runner = PacketRunner(spark, tmp_path / "wh")
    res = runner.run(pdir, dbs=["i48db"])
    assert res.result_code["i48db"] == ResultCode.SUCCESS
    table = res.result_data["i48db"]["02_step.sql"][0]
    assert table[1] == [1000, 500500]
    assert dict(spark.table("i48db.i48_t").dtypes)["id"] == "bigint"
    # idempotent re-run: py-step probes again, sees bigint, skips
    res2 = runner.run(pdir, dbs=["i48db"])
    assert res2.result_code["i48db"] == ResultCode.SUCCESS
    assert any(
        "skip" in str(r) for r in res2.result_data["i48db"]["01_step.py"]
    )


def test_update_where_old_row_semantics(spark):
    spark.sql("DROP TABLE IF EXISTS upd_sem_tbl")
    spark.sql("CREATE TABLE upd_sem_tbl (a BIGINT, b BIGINT) USING parquet")
    spark.sql("INSERT INTO upd_sem_tbl VALUES (1, 10), (2, 20)")
    from db_converter_spark.operators.migration import update_where

    # both right-hand sides must see OLD values: a←b, b←a swaps (PG semantics)
    update_where(spark, "upd_sem_tbl", {"a": "b", "b": "a"}, "a = 1")
    got = sorted(tuple(r) for r in spark.table("upd_sem_tbl").collect())
    assert got == [(2, 20), (10, 1)]
    spark.sql("DROP TABLE upd_sem_tbl")


def test_update_from_statement_routing(spark, tmp_path):
    """The reference's canonical chunked-migration statement (packets/
    test_int4_to_int8/02_step.sql:3-5) must run as plain packet SQL."""
    from db_converter_spark.plans.model import ResultCode
    from db_converter_spark.plans.runner import PacketRunner

    pkt = tmp_path / "upd_from_pkt"
    pkt.mkdir()
    (pkt / "run_once.sql").write_text(
        "CREATE TABLE IF NOT EXISTS mig_tbl (id BIGINT, id_new BIGINT) USING parquet"
    )
    (pkt / "01_step.sql").write_text(
        "INSERT INTO mig_tbl SELECT id, CAST(NULL AS BIGINT) FROM range(1, 21)"
    )
    (pkt / "02_step.sql").write_text(
        """UPDATE mig_tbl a SET id_new = t.id
FROM ( select s.id from mig_tbl s where s.id >= 1 and s.id <= 10 ) AS t
WHERE a.id = t.id;
"""
    )
    runner = PacketRunner(spark, tmp_path / "wh")
    res = runner.run(pkt, dbs=["mig_db"])
    assert res.result_code["mig_db"] == ResultCode.SUCCESS, res.result_data["mig_db"]
    rows = spark.table("mig_db.mig_tbl")
    assert rows.filter("id_new = id").count() == 10
    assert rows.filter("id_new IS NULL AND id > 10").count() == 10


def test_merge_null_keys_not_counted_or_updated(spark):
    """NULL join keys must neither update (PG `=` semantics) nor
    inflate the reported rowcount — plan and count use the same predicate."""
    from db_converter_spark.operators.migration import merge_update

    spark.sql("DROP TABLE IF EXISTS migdb.nulkey")
    spark.sql(
        "CREATE TABLE migdb.nulkey USING parquet AS SELECT * FROM VALUES"
        " (1, 10), (2, 20), (CAST(NULL AS INT), 30) AS t(k, v)"
    )
    src = spark.sql(
        "SELECT * FROM VALUES (1), (CAST(NULL AS INT)) AS s(k)"
    )
    n = merge_update(spark, "migdb.nulkey", src, on=["k"], set_map={"v": "t.v + 100"})
    # only k=1 matches; the NULL-key target row is NOT a match
    assert n == 1
    got = {
        (r.k, r.v) for r in spark.table("migdb.nulkey").collect()
    }
    assert got == {(1, 110), (2, 20), (None, 30)}
    spark.sql("DROP TABLE migdb.nulkey")


# ------------------------------------------------------------------ upsert


def _fresh_upsert_table(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS migdb.{name}")
    spark.sql(
        f"CREATE TABLE migdb.{name} USING parquet AS SELECT * FROM VALUES"
        " (1, 'a', 10), (2, 'b', 20), (3, 'c', 30) AS t(k, name, v)"
    )
    return f"migdb.{name}"


def test_upsert_do_update(spark):
    """INSERT ... ON CONFLICT (k) DO UPDATE SET: conflicting rows update
    (excluded.* = proposed row), new rows insert, count = inserted+updated."""
    from db_converter_spark.operators.migration import upsert

    tbl = _fresh_upsert_table(spark, "ups1")
    src = spark.sql(
        "SELECT * FROM VALUES (2, 'B', 200), (4, 'd', 40) AS s(k, name, v)"
    )
    n = upsert(spark, tbl, src, ["k"], {"name": "excluded.name", "v": "t.v + excluded.v"})
    assert n == 2  # one updated + one inserted
    got = {(r.k, r.name, r.v) for r in spark.table(tbl).collect()}
    assert got == {(1, "a", 10), (2, "B", 220), (3, "c", 30), (4, "d", 40)}


def test_upsert_do_nothing(spark):
    from db_converter_spark.operators.migration import upsert

    tbl = _fresh_upsert_table(spark, "ups2")
    src = spark.sql("SELECT * FROM VALUES (3, 'X', 999), (5, 'e', 50) AS s(k, name, v)")
    n = upsert(spark, tbl, src, ["k"], None)
    assert n == 1  # PG counts only the inserted row
    got = {(r.k, r.name, r.v) for r in spark.table(tbl).collect()}
    assert got == {(1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "e", 50)}


def test_upsert_do_update_where(spark):
    """DO UPDATE ... WHERE limits which conflicting rows update (and which
    count as affected)."""
    from db_converter_spark.operators.migration import upsert

    tbl = _fresh_upsert_table(spark, "ups3")
    src = spark.sql("SELECT * FROM VALUES (1, 'A', 1), (2, 'B', 2) AS s(k, name, v)")
    n = upsert(spark, tbl, src, ["k"], {"name": "excluded.name"}, "t.v >= 20")
    assert n == 1  # only k=2 passes the WHERE; k=1 conflicts but is excluded
    got = {(r.k, r.name) for r in spark.table(tbl).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_upsert_statement_routing(spark, tmp_path):
    """The full PG statement shape runs as plain packet SQL and reports
    the PG rowcount."""
    from db_converter_spark.plans.model import ResultCode
    from db_converter_spark.plans.runner import PacketRunner

    pkt = tmp_path / "ups_pkt"
    pkt.mkdir()
    (pkt / "run_once.sql").write_text(
        "CREATE TABLE IF NOT EXISTS ups_tbl (k BIGINT, name STRING, v BIGINT)"
        " USING parquet"
    )
    (pkt / "01_step.sql").write_text(
        "INSERT INTO ups_tbl SELECT id AS k, concat('n', id) AS name,"
        " id * 10 AS v FROM range(1, 4);\n"
        "INSERT INTO ups_tbl(k, name, v) VALUES (2, 'two', 999), (9, 'nine', 90)"
        " ON CONFLICT (k) DO UPDATE SET v = excluded.v, name = excluded.name;\n"
        "INSERT INTO ups_tbl(k, name, v) VALUES (3, 'X', 0)"
        " ON CONFLICT (k) DO NOTHING;\n"
    )
    runner = PacketRunner(spark, tmp_path / "wh")
    res = runner.run(pkt, dbs=["ups_db"])
    assert res.result_code["ups_db"] == ResultCode.SUCCESS, res.result_data["ups_db"]
    rows = {(r.k, r.name, r.v) for r in spark.table("ups_db.ups_tbl").collect()}
    assert rows == {
        (1, "n1", 10),
        (2, "two", 999),
        (3, "n3", 30),
        (9, "nine", 90),
    }
