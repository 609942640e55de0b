"""Regression tests for runner/migration semantics aligned with the
reference engine:

- UPDATE ... FROM updates each target row at most once even when the source
  carries duplicate join keys (PostgreSQL semantics; a naive left join
  would multiply rows);
- non-equi / range UPDATE ... FROM conditions compile onto the general
  merge path (reference statement family: packets/test_int4_to_int8/
  02_step.sql uses equi ranges; PG accepts arbitrary predicates);
- SET-clause parsing is literal-aware (WHERE/comma/= inside quotes);
- the cartesian generator case runs BOTH maintenance commands, obj's with
  GEN_NSP placeholders applied (reference: dbccore/dbccore.py:954-965);
- no-commit dry-runs validate routed UPDATE/DELETE through the same
  rewrite plan a real run executes — and never write;
- read-only packets use a statement ALLOWLIST (unknown leading keywords
  are writes until proven otherwise).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from db_converter_spark.operators.migration import merge_update
from db_converter_spark.plans.model import PacketStatus, ResultCode
from db_converter_spark.plans.runner import PacketRunner
from db_converter_spark.plans.sqlsplit import _split_set_clause, is_read_only_ok


def _write_packet(path: Path, files: dict[str, str]) -> Path:
    path.mkdir(parents=True, exist_ok=True)
    for name, text in files.items():
        (path / name).write_text(text)
    return path


@pytest.fixture()
def runner(spark, tmp_path):
    return PacketRunner(spark, tmp_path / "wh")


@pytest.fixture()
def upd_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS updb")
    spark.sql("USE updb")
    spark.sql("DROP TABLE IF EXISTS up_t")
    spark.range(1, 101).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 10).cast("int").alias("grp"),
        F.lit("orig").alias("note"),
    ).write.saveAsTable("up_t")
    yield "updb.up_t"
    spark.sql("DROP TABLE IF EXISTS updb.up_t")
    spark.sql("USE default")


# ------------------------------------------------------- duplicate source keys


def test_merge_update_duplicate_source_keys(spark, upd_table):
    """A source with duplicate join-key rows must not multiply target rows
    (PG UPDATE...FROM updates each target row once)."""
    src = spark.createDataFrame(
        [(1, 111), (1, 999), (2, 222), (2, 888)], "id int, newgrp int"
    )
    before = spark.table(upd_table).count()
    merge_update(spark, upd_table, src, on=["id"], set_map={"grp": "s.newgrp"})
    after = spark.table(upd_table)
    assert after.count() == before  # no row multiplication
    updated = {r["id"]: r["grp"] for r in after.where("id IN (1, 2)").collect()}
    assert updated[1] in (111, 999) and updated[2] in (222, 888)
    # untouched rows keep their values
    assert after.where("id = 50").collect()[0]["grp"] == 50 % 10


# --------------------------------------------------- non-equi UPDATE ... FROM


def test_update_from_range_condition(spark, runner, tmp_path, duck):
    """UPDATE t SET ... FROM s WHERE t.k >= s.lo AND t.k < s.hi — the
    non-equi shape — against a DuckDB-computed golden."""
    spark.sql("CREATE DATABASE IF NOT EXISTS rngdb")
    spark.sql("DROP TABLE IF EXISTS rngdb.rt")
    spark.sql("DROP TABLE IF EXISTS rngdb.rs")
    spark.range(1, 51).select(
        F.col("id").cast("int").alias("k"), F.lit(0).cast("int").alias("band")
    ).write.saveAsTable("rngdb.rt")
    spark.createDataFrame(
        [(10, 20, 1), (20, 30, 2), (45, 60, 3)], "lo int, hi int, band_id int"
    ).write.saveAsTable("rngdb.rs")

    pdir = _write_packet(
        tmp_path / "rng_pkt",
        {
            "01_step.sql": (
                "update rngdb.rt t set band = s.band_id from rngdb.rs s"
                " where t.k >= s.lo and t.k < s.hi"
            ),
        },
    )
    res = runner.run(pdir, dbs=["default"])
    assert res.result_code["default"] == ResultCode.SUCCESS

    got = {
        r["k"]: r["band"] for r in spark.table("rngdb.rt").collect()
    }
    # golden computed in DuckDB with real PG-style UPDATE ... FROM
    duck.execute("CREATE OR REPLACE TABLE _rt AS SELECT * FROM range(1, 51) t(k)")
    duck.execute("ALTER TABLE _rt ADD COLUMN band INT DEFAULT 0")
    duck.execute(
        "CREATE OR REPLACE TABLE _rs AS SELECT * FROM (VALUES (10,20,1),(20,30,2),(45,60,3)) v(lo,hi,band_id)"
    )
    duck.execute(
        "UPDATE _rt SET band = s.band_id FROM _rs s WHERE _rt.k >= s.lo AND _rt.k < s.hi"
    )
    want = {k: b for k, b in duck.execute("SELECT k, band FROM _rt").fetchall()}
    duck.execute("DROP TABLE _rt")
    duck.execute("DROP TABLE _rs")
    assert got == want
    spark.sql("DROP TABLE rngdb.rt")
    spark.sql("DROP TABLE rngdb.rs")


# ----------------------------------------------------- literal-aware parsing


def test_split_set_clause_literal_where():
    set_map, pred = _split_set_clause(
        "note = 'a where b', grp = 2 where id = 1"
    )
    assert set_map == {"note": "'a where b'", "grp": "2"}
    assert pred == "id = 1"


def test_split_set_clause_literal_comma_and_eq():
    set_map, pred = _split_set_clause("note = 'x, y = z'")
    assert set_map == {"note": "'x, y = z'"}
    assert pred is None


def test_update_literal_where_end_to_end(spark, runner, tmp_path, upd_table):
    pdir = _write_packet(
        tmp_path / "lit_pkt",
        {"01_step.sql": "update updb.up_t set note = 'a where b' where id = 7"},
    )
    res = runner.run(pdir, dbs=["default"])
    assert res.result_code["default"] == ResultCode.SUCCESS
    rows = spark.table(upd_table).where("id = 7").collect()
    assert rows[0]["note"] == "a where b"
    assert spark.table(upd_table).where("note = 'orig'").count() == 99


# ------------------------------------------------- cartesian maint commands


def test_cartesian_runs_both_maint_commands(spark, runner, tmp_path):
    """Reference runs the nsp maint command AND the obj maint command (with
    GEN_NSP placeholders applied) per cartesian binding."""
    pdir = _write_packet(
        tmp_path / "maint_pkt",
        {
            "run_once.sql": (
                "create table maint_log(src string) using parquet;"
                " create table maint_t(s string, v int) using parquet"
            ),
            "01_step.sql": (
                "insert into maint_t values ('GEN_NSP_FLD_1', GEN_OBJ_FLD_1)"
            ),
            "01_gen_nsp.sql": (
                "select 'insert into maint_log values (''nsp-'' || ''GEN'')', s"
                " from values ('x') as t(s)"
            ),
            "01_gen_obj.sql": (
                "select 'insert into maint_log values (''obj-GEN_NSP_FLD_1'')', c1"
                " from values (1),(2) as t(c1)"
            ),
        },
    )
    res = runner.run(pdir, dbs=["e2e_maint"])
    assert res.result_code["e2e_maint"] == ResultCode.SUCCESS
    logged = sorted(
        r["src"] for r in spark.sql("select src from e2e_maint.maint_log").collect()
    )
    # 2 bindings × (1 nsp + 1 obj) = 4 maint executions; obj's text had the
    # GEN_NSP placeholder substituted with the nsp row value 'x'
    assert logged == ["nsp-GEN", "nsp-GEN", "obj-x", "obj-x"]
    assert spark.sql("select count(*) from e2e_maint.maint_t").collect()[0][0] == 2


def test_jobs_carry_step_and_action_descriptions(spark, runner, tmp_path):
    """Every Spark job of a packet run is described by its packet, step and
    generator action (the status store attributes each job to the action
    that launched it)."""
    pdir = _write_packet(
        tmp_path / "desc_pkt",
        {
            "run_once.sql": (
                "create table desc_t using parquet as"
                " select * from values (1), (2), (3) as t(v)"
            ),
            "01_gen_obj.sql": "select '', c1 from values (1), (2) as t(c1)",
            "01_step.sql": "select count(*) from desc_t where v > GEN_OBJ_FLD_1",
            "02_step.sql": "select max(v) from desc_t",
        },
    )
    store = spark.sparkContext._jsc.sc()

    def jobs() -> dict[int, str]:
        store.listenerBus().waitUntilEmpty()
        seq = store.statusStore().jobsList(None)
        out = {}
        for i in range(seq.size()):
            j = seq.apply(i)
            d = j.description()
            out[int(j.jobId())] = d.get() if d.isDefined() else None
        return out

    before = set(jobs())
    res = runner.run(pdir, dbs=["e2e_desc"])
    assert res.result_code["e2e_desc"] == ResultCode.SUCCESS
    new = {d for jid, d in jobs().items() if jid not in before}
    label = "packet desc_pkt on e2e_desc"
    assert all(d and d.startswith(label) for d in new), new
    assert {
        f"{label} / 01_step.sql / action 1",
        f"{label} / 01_step.sql / action 2",
        f"{label} / 02_step.sql / action 1",
    } <= new, new


# ----------------------------------------------------------- no-commit DML


def test_no_commit_validates_routed_update(spark, runner, tmp_path, upd_table):
    """Valid routed UPDATE passes dry-run WITHOUT writing; an UPDATE against
    a bad column fails validation (EXPLAIN can't even plan these on v1
    parquet tables — validation goes through the rewrite plan)."""
    ok = _write_packet(
        tmp_path / "nc_upd_ok",
        {
            "01_step.sql": "update updb.up_t set grp = grp + 1 where id < 10",
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res = runner.run(ok, dbs=["default"])
    assert res.result_code["default"] == ResultCode.SUCCESS
    # shadow execution reports the would-be rowcount (ids 1..9 = 9 rows)
    assert res.result_data["default"]["01_step.sql"][0] == [["UPDATE", 9, "no_commit"]]
    # nothing was written
    assert spark.table(upd_table).where("id = 1").collect()[0]["grp"] == 1

    bad = _write_packet(
        tmp_path / "nc_upd_bad",
        {
            "01_step.sql": "update updb.up_t set no_such_column = 1",
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res2 = runner.run(bad, dbs=["default"])
    assert res2.result_code["default"] == ResultCode.FAIL
    assert res2.packet_status["default"] == PacketStatus.EXCEPTION


def test_no_commit_validates_routed_delete(spark, runner, tmp_path, upd_table):
    ok = _write_packet(
        tmp_path / "nc_del_ok",
        {
            "01_step.sql": "delete from updb.up_t where id < 5",
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res = runner.run(ok, dbs=["default"])
    assert res.result_code["default"] == ResultCode.SUCCESS
    assert spark.table(upd_table).count() == 100  # not executed

    bad = _write_packet(
        tmp_path / "nc_del_bad",
        {
            "01_step.sql": "delete from updb.up_t where bogus_col = 5",
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res2 = runner.run(bad, dbs=["default"])
    assert res2.result_code["default"] == ResultCode.FAIL


# ------------------------------------------------------- read-only allowlist


def test_read_only_allowlist():
    assert is_read_only_ok("select * from t")
    assert is_read_only_ok("WITH x AS (SELECT 1) SELECT * FROM x")
    assert is_read_only_ok("SET spark.sql.shuffle.partitions = 8")
    assert is_read_only_ok("SHOW TABLES")
    assert is_read_only_ok("DESCRIBE t")
    assert is_read_only_ok("REFRESH TABLE t")
    assert is_read_only_ok("EXPLAIN SELECT 1")
    # writes and unknown keywords are rejected
    assert not is_read_only_ok("LOAD DATA INPATH '/x' INTO TABLE t")
    assert not is_read_only_ok("CALL some_proc()")
    assert not is_read_only_ok("insert into t values (1)")
    assert not is_read_only_ok("create table t(a int)")
    assert not is_read_only_ok("vacuum analyze t")


# --------------------------------------------------------------- RETURNING


@pytest.fixture()
def ret_ctx(spark):
    from types import SimpleNamespace

    from db_converter_spark.plans.runner import RunContext

    spark.sql("CREATE DATABASE IF NOT EXISTS retdb")
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase("retdb")
    pkt = SimpleNamespace(meta={}, session_conf={})
    yield RunContext(spark, "retdb", pkt, read_only=False)
    spark.catalog.setCurrentDatabase(prev)


def test_returning_insert_with_sequence_default(ret_ctx):
    """INSERT ... RETURNING id reads back the sequence-assigned keys —
    the canonical PG idiom."""
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.r1")
    spark.sql("CREATE TABLE retdb.r1 (id BIGINT, name STRING) USING parquet")
    ctx.execute("CREATE SEQUENCE r1_seq START WITH 100")
    ctx.execute("ALTER TABLE r1 ALTER COLUMN id SET DEFAULT nextval('r1_seq')")
    out = ctx.execute("INSERT INTO r1(name) VALUES ('a'), ('b') RETURNING id, name")
    assert out[0] == ["id", "name"]
    assert sorted(out[1:]) == [[100, "a"], [101, "b"]]
    spark.catalog.refreshTable("retdb.r1")
    assert sorted(r.id for r in spark.table("retdb.r1").collect()) == [100, 101]


def test_returning_update_new_values(ret_ctx):
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.r2")
    spark.sql(
        "CREATE TABLE retdb.r2 USING parquet AS"
        " SELECT * FROM VALUES (1, 10), (2, 20), (3, 30) AS t(k, v)"
    )
    out = ctx.execute("UPDATE r2 SET v = v + 5 WHERE k <= 2 RETURNING k, v")
    assert out[0] == ["k", "v"]
    assert sorted(out[1:]) == [[1, 15], [2, 25]]  # NEW values, matched rows only
    spark.catalog.refreshTable("retdb.r2")
    got = {(r.k, r.v) for r in spark.table("retdb.r2").collect()}
    assert got == {(1, 15), (2, 25), (3, 30)}


def test_returning_delete_old_rows(ret_ctx):
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.r3")
    spark.sql(
        "CREATE TABLE retdb.r3 USING parquet AS"
        " SELECT * FROM VALUES (1, 'x'), (2, 'y') AS t(k, v)"
    )
    out = ctx.execute("DELETE FROM r3 WHERE k = 2 RETURNING *")
    assert out[0] == ["k", "v"]
    assert out[1:] == [[2, "y"]]
    spark.catalog.refreshTable("retdb.r3")
    assert [tuple(r) for r in spark.table("retdb.r3").collect()] == [(1, "x")]


def test_returning_upsert_post_image(ret_ctx):
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.r4")
    spark.sql(
        "CREATE TABLE retdb.r4 USING parquet AS"
        " SELECT * FROM VALUES (1, 10) AS t(k, v)"
    )
    out = ctx.execute(
        "INSERT INTO r4(k, v) VALUES (1, 100), (2, 20)"
        " ON CONFLICT (k) DO UPDATE SET v = excluded.v RETURNING k, v"
    )
    assert out[0] == ["k", "v"]
    assert sorted(out[1:]) == [[1, 100], [2, 20]]  # updated post-image + inserted
    spark.catalog.refreshTable("retdb.r4")
    assert {(r.k, r.v) for r in spark.table("retdb.r4").collect()} == {(1, 100), (2, 20)}


def test_returning_literal_in_string_untouched(ret_ctx):
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.r5")
    spark.sql("CREATE TABLE retdb.r5 (s STRING) USING parquet")
    ctx.execute("INSERT INTO r5 VALUES ('no returning here')")
    spark.catalog.refreshTable("retdb.r5")
    assert spark.table("retdb.r5").collect()[0].s == "no returning here"


def test_delete_using(ret_ctx):
    """PG DELETE ... USING (delete-join): rows with any matching source row
    go; count = target rows, each at most once; RETURNING = old rows."""
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.du_t")
    spark.sql("DROP TABLE IF EXISTS retdb.du_s")
    spark.sql(
        "CREATE TABLE retdb.du_t USING parquet AS"
        " SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(k, v)"
    )
    spark.sql(
        "CREATE TABLE retdb.du_s USING parquet AS"
        " SELECT * FROM VALUES (2), (2), (3) AS s(k)"  # dup source keys
    )
    out = ctx.execute(
        "DELETE FROM du_t USING du_s WHERE du_t.k = du_s.k RETURNING du_t.k"
    )
    assert out[0] == ["k"] and sorted(r[0] for r in out[1:]) == [2, 3]
    spark.catalog.refreshTable("retdb.du_t")
    assert [tuple(r) for r in spark.table("retdb.du_t").collect()] == [(1, "a")]
    # subquery source + aliases + rowcount
    spark.sql("INSERT INTO retdb.du_t VALUES (7, 'x'), (8, 'y')")
    st = ctx.execute(
        "DELETE FROM du_t a USING (SELECT 7 AS kk) b WHERE a.k = b.kk"
    )
    assert st == [["DELETE", 1]]


def test_insert_default_values(ret_ctx):
    ctx, spark = ret_ctx, ret_ctx.spark
    spark.sql("DROP TABLE IF EXISTS retdb.dv")
    spark.sql("CREATE TABLE retdb.dv (id BIGINT, name STRING) USING parquet")
    ctx.execute("CREATE SEQUENCE dv_seq START WITH 7")
    ctx.execute("ALTER TABLE dv ALTER COLUMN id SET DEFAULT nextval('dv_seq')")
    out = ctx.execute("INSERT INTO dv DEFAULT VALUES RETURNING id, name")
    assert out[0] == ["id", "name"] and out[1:] == [[7, None]]
    ctx.execute("INSERT INTO dv DEFAULT VALUES")
    spark.catalog.refreshTable("retdb.dv")
    assert sorted(r.id for r in spark.table("retdb.dv").collect()) == [7, 8]


def test_dml_paths_leave_no_temp_views(spark, runner, tmp_path):
    """An INSERT through a recorded default and RETURNING on INSERT, UPDATE,
    DELETE, DELETE USING and upsert pass their intermediates to spark.sql as
    DataFrame arguments: the target session's temp-view set after the step
    equals the set before it."""
    pdir = _write_packet(
        tmp_path / "tv_pkt",
        {
            "01_step.sql": "show views -- before",
            "02_step.sql": (
                "create table tv_d (id bigint, name string) using parquet;\n"
                "create table tv_t using parquet as"
                " select * from values (10, 'a'), (11, 'b'), (12, 'c'), (13, 'd') as t(id, name);\n"
                "create table tv_s using parquet as select * from values (13), (20) as s(k);\n"
                "create sequence tv_seq start with 10;\n"
                "alter table tv_d alter column id set default nextval('tv_seq');\n"
                "insert into tv_d(name) values ('a'), ('b');\n"
                "insert into tv_d(name) values ('c') returning id, name;\n"
                "update tv_t set name = 'B' where id = 11 returning id, name;\n"
                "delete from tv_t where id = 12 returning id;\n"
                "delete from tv_t using tv_s where tv_t.id = tv_s.k returning tv_t.id;\n"
                "insert into tv_t(id, name) values (10, 'A'), (20, 'e')"
                " on conflict (id) do update set name = excluded.name returning id, name"
            ),
            "03_step.sql": "show views -- after",
            "04_step.sql": "select id, name from tv_t order by id",
            "05_step.sql": "select id from tv_d order by id",
        },
    )
    res = runner.run(pdir, dbs=["e2e_tv"])
    assert res.result_code["e2e_tv"] == ResultCode.SUCCESS, res.result_data
    data = res.result_data["e2e_tv"]
    assert data["03_step.sql"] == data["01_step.sql"]
    # resultsets (a header and rows), not [status] tuples or notices
    returned = [
        [r[0], *sorted(r[1:])] for r in data["02_step.sql"] if isinstance(r[0], list) and len(r) > 1
    ]
    assert returned == [
        [["id", "name"], [12, "c"]],
        [["id", "name"], [11, "B"]],
        [["id"], [12]],
        [["id"], [13]],
        [["id", "name"], [10, "A"], [20, "e"]],
    ]
    assert data["04_step.sql"][0][1:] == [[10, "A"], [11, "B"], [20, "e"]]
    assert data["05_step.sql"][0][1:] == [[10], [11], [12]]
