"""Sequence surface (SURVEY §7.4.6): ledger-managed counters standing in
for PG sequences (reference: packets/test_int4_to_int8/06_step.sql:7-9 sets
a serial DEFAULT and sequence ownership; 07_step.sql inserts through it).

Layers under test:
- ActionTracker counter ops (create/nextval blocks/currval/setval/alter/drop)
- CREATE/ALTER/DROP SEQUENCE DDL routing (plans/sequences.py)
- nextval/currval/setval inlining: scalar and per-row block allocation
- recorded column defaults applied to column-list INSERTs (runner)
"""

from __future__ import annotations

import pytest

from db_converter_spark.plans.ledger import ActionTracker
from db_converter_spark.plans.packet import parse_packet  # noqa: F401 (import path check)
from db_converter_spark.plans.sequences import (
    norm_seq_name,
    route_sequence_ddl,
    substitute_sequence_calls,
)

DB = "seqdb"


@pytest.fixture()
def tracker(tmp_path):
    t = ActionTracker(tmp_path / "seq_ledger.sqlite")
    yield t
    t.close()


@pytest.fixture(scope="module")
def ctx(spark):
    from types import SimpleNamespace

    from db_converter_spark.plans.runner import RunContext

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    spark.catalog.setCurrentDatabase(DB)
    pkt = SimpleNamespace(meta={}, session_conf={})
    c = RunContext(spark, DB, pkt, read_only=False)
    yield c
    spark.catalog.setCurrentDatabase("default")


# ---------------------------------------------------------------- ledger ops


def test_ledger_counter_semantics(tracker):
    tracker.seq_create("s1", start=10, increment=2)
    with pytest.raises(ValueError):
        tracker.seq_currval("s1")  # PG: currval before nextval errors
    assert tracker.seq_nextval("s1") == 10
    assert tracker.seq_nextval("s1") == 12
    assert tracker.seq_currval("s1") == 12
    # block reservation: one bump covers the whole range
    assert tracker.seq_nextval("s1", block=5) == 14  # 14,16,18,20,22
    assert tracker.seq_nextval("s1") == 24
    assert tracker.seq_setval("s1", 100) == 100
    assert tracker.seq_nextval("s1") == 102
    tracker.seq_alter("s1", restart=7)
    assert tracker.seq_nextval("s1") == 7
    tracker.seq_drop("s1")
    with pytest.raises(KeyError):
        tracker.seq_nextval("s1")
    tracker.seq_drop("s1", if_exists=True)  # no raise


def test_ledger_create_conflicts(tracker):
    tracker.seq_create("s2")
    with pytest.raises(Exception):
        tracker.seq_create("s2")
    tracker.seq_create("s2", if_not_exists=True)  # keeps original
    assert tracker.seq_nextval("s2") == 1


def test_ledger_ownership(tracker):
    tracker.seq_create("tbl_id_seq")
    tracker.seq_alter("tbl_id_seq", owned_by="tbl.id")
    assert tracker.seq_owned_by("tbl.id") == "tbl_id_seq"
    tracker.seq_alter("tbl_id_seq", owned_by="NONE")
    assert tracker.seq_owned_by("tbl.id") is None


# ------------------------------------------------------------- DDL routing


def test_ddl_routing(tracker):
    st, _ = route_sequence_ddl(
        tracker, "CREATE SEQUENCE IF NOT EXISTS test_seq START WITH 5 INCREMENT BY 3"
    )
    assert st == ["CREATE SEQUENCE"]
    assert tracker.seq_nextval("test_seq") == 5
    st, _ = route_sequence_ddl(
        tracker, "ALTER SEQUENCE test_seq OWNED BY public.test_tbl.id;"
    )
    assert st == ["ALTER SEQUENCE"]
    # public. qualifier normalized away on both sides
    assert tracker.seq_owned_by("test_tbl.id") == "test_seq"
    st, _ = route_sequence_ddl(tracker, "DROP SEQUENCE test_seq")
    assert st == ["DROP SEQUENCE"]
    assert route_sequence_ddl(tracker, "SELECT 1") is None
    assert route_sequence_ddl(tracker, "CREATE TABLE t (a INT)") is None


def test_ddl_dry_run(tracker):
    route_sequence_ddl(tracker, "CREATE SEQUENCE dry_seq", dry_run=True)
    with pytest.raises(KeyError):
        tracker.seq_nextval("dry_seq")


def test_norm_seq_name():
    assert norm_seq_name('public."My_Seq"') == "my_seq"
    assert norm_seq_name("other.seq") == "other.seq"


# ------------------------------------------------------- statement inlining


def test_scalar_nextval_inline(ctx):
    ctx.sequence_tracker().seq_create("sc")
    rows = ctx.execute("SELECT nextval('sc') AS v, nextval('sc') AS w")
    # scalar context: each call site draws one value
    assert rows[1:] == [[1, 2]]
    assert ctx.execute("SELECT currval('sc') AS c")[1:] == [[2]]
    assert ctx.execute("SELECT setval('sc', 50) AS s")[1:] == [[50]]
    assert ctx.execute("SELECT nextval('sc') AS v")[1:] == [[51]]


def test_per_row_nextval_block(ctx):
    ctx.sequence_tracker().seq_create("pr", start=100, increment=1)
    rows = ctx.execute(
        "SELECT nextval('pr') AS id, v FROM (SELECT explode(sequence(1, 10)) AS v)"
    )
    ids = sorted(r[0] for r in rows[1:])
    # 10 rows → one reserved block of 10 distinct consecutive values
    assert ids == list(range(100, 110))
    # the counter advanced by the whole block: next draw continues after it
    assert ctx.execute("SELECT nextval('pr') AS v")[1:] == [[110]]


def test_insert_defaults_from_recorded_property(ctx):
    spark = ctx.spark
    spark.sql(f"DROP TABLE IF EXISTS {DB}.dtbl")
    spark.sql(
        f"CREATE TABLE {DB}.dtbl (id BIGINT, name STRING, note STRING)"
        " USING parquet"
    )
    ctx.execute("CREATE SEQUENCE dtbl_id_seq START WITH 1000")
    ctx.execute("ALTER TABLE dtbl ALTER COLUMN id SET DEFAULT nextval('dtbl_id_seq')")
    ctx.execute(
        "INSERT INTO dtbl(name) SELECT concat('n_', v)"
        " FROM (SELECT explode(sequence(1, 5)) AS v)"
    )
    spark.catalog.refreshTable(f"{DB}.dtbl")
    got = {
        (r.id, r.name, r.note) for r in spark.table(f"{DB}.dtbl").collect()
    }
    # id filled from the sequence block, note (no default) NULL-filled
    assert {g[0] for g in got} == set(range(1000, 1005))
    assert all(g[2] is None for g in got)
    # DROP DEFAULT unregisters: Spark's native NULL fill takes over
    ctx.execute("ALTER TABLE dtbl ALTER COLUMN id DROP DEFAULT")
    ctx.execute("INSERT INTO dtbl(name) VALUES ('solo')")
    spark.catalog.refreshTable(f"{DB}.dtbl")
    assert (
        spark.table(f"{DB}.dtbl").where("name = 'solo'").collect()[0].id is None
    )


# ---------------------------------------------------- nextval regressions


def test_setval_is_called_false(tracker):
    """PG: setval(s, n, false) → the NEXT nextval returns n itself;
    setval(s, n) / setval(s, n, true) → n + increment."""
    tracker.seq_create("sv", start=1, increment=5)
    assert tracker.seq_setval("sv", 40, is_called=False) == 40
    assert tracker.seq_nextval("sv") == 40
    assert tracker.seq_setval("sv", 40) == 40  # is_called defaults true
    assert tracker.seq_nextval("sv") == 45


def test_bare_restart_uses_stored_start(tracker):
    """Bare RESTART restarts from the sequence's original START WITH value;
    RESTART WITH n does NOT overwrite that stored start."""
    tracker.seq_create("rs", start=30, increment=1)
    assert tracker.seq_nextval("rs") == 30
    tracker.seq_alter("rs", restart=100)
    assert tracker.seq_nextval("rs") == 100
    tracker.seq_alter("rs", restart_default=True)
    # PG restarts from the stored START (30), not 1 and not 100
    assert tracker.seq_nextval("rs") == 30


def test_ddl_bare_restart_routing(tracker):
    route_sequence_ddl(tracker, "CREATE SEQUENCE br START WITH 9")
    assert tracker.seq_nextval("br") == 9
    route_sequence_ddl(tracker, "ALTER SEQUENCE br RESTART WITH 77")
    assert tracker.seq_nextval("br") == 77
    route_sequence_ddl(tracker, "ALTER SEQUENCE br RESTART")
    assert tracker.seq_nextval("br") == 9


def test_setval_is_called_inline(ctx):
    ctx.sequence_tracker().seq_create("svi", start=1, increment=1)
    assert ctx.execute("SELECT setval('svi', 20, false) AS s")[1:] == [[20]]
    assert ctx.execute("SELECT nextval('svi') AS v")[1:] == [[20]]
    assert ctx.execute("SELECT setval('svi', 20, true) AS s")[1:] == [[20]]
    assert ctx.execute("SELECT nextval('svi') AS v")[1:] == [[21]]


def test_update_nextval_per_matched_row(ctx):
    """UPDATE t SET c = nextval(s) WHERE p must draw one
    value PER MATCHED ROW (PG semantics), not one shared scalar."""
    spark = ctx.spark
    spark.sql(f"DROP TABLE IF EXISTS {DB}.unx")
    spark.sql(f"CREATE TABLE {DB}.unx USING parquet AS "
              "SELECT v AS k, CAST(NULL AS BIGINT) AS sid"
              " FROM (SELECT explode(sequence(1, 8)) AS v)")
    ctx.execute("CREATE SEQUENCE unx_seq START WITH 500")
    st = ctx.execute("UPDATE unx SET sid = nextval('unx_seq') WHERE k <= 5")
    assert st == [["UPDATE", 5]]
    spark.catalog.refreshTable(f"{DB}.unx")
    rows = {r.k: r.sid for r in spark.table(f"{DB}.unx").collect()}
    got = sorted(rows[k] for k in range(1, 6))
    # 5 matched rows → 5 DISTINCT consecutive values from one block
    assert got == list(range(500, 505))
    # unmatched rows untouched
    assert all(rows[k] is None for k in (6, 7, 8))
    # counter advanced by exactly the matched count
    assert ctx.execute("SELECT nextval('unx_seq') AS v")[1:] == [[505]]


def test_update_from_nextval_unsupported(ctx):
    from db_converter_spark.plans.pgdialect import UnsupportedConstruct

    spark = ctx.spark
    spark.sql(f"DROP TABLE IF EXISTS {DB}.ufx")
    spark.sql(f"CREATE TABLE {DB}.ufx USING parquet AS SELECT 1 AS k, 0 AS c")
    ctx.sequence_tracker().seq_create("ufx_seq")
    with pytest.raises(UnsupportedConstruct):
        ctx.execute(
            "UPDATE ufx SET c = nextval('ufx_seq')"
            " FROM (SELECT 1 AS k) s WHERE ufx.k = s.k"
        )


def test_concurrent_block_allocation_distinct(tracker):
    """The ledger lock must serialize counter bumps: concurrent block
    reservations never overlap (the engine's whole-block contract)."""
    from concurrent.futures import ThreadPoolExecutor

    tracker.seq_create("conc", start=1, increment=1)
    with ThreadPoolExecutor(8) as ex:
        firsts = list(ex.map(lambda _: tracker.seq_nextval("conc", block=5), range(40)))
    claimed = sorted(v for f in firsts for v in range(f, f + 5))
    # 40 blocks x 5 values: all distinct, fully covering 1..200
    assert claimed == list(range(1, 201))


def test_multirow_values_through_serial_default(ctx):
    """Multi-row VALUES insert through a recorded nextval default: one
    value PER ROW (the INSERT is rewritten to SELECT-over-VALUES, so the
    block demand counts the source rows)."""
    spark = ctx.spark
    spark.sql(f"DROP TABLE IF EXISTS {DB}.mvd")
    spark.sql(f"CREATE TABLE {DB}.mvd (id BIGINT, name STRING) USING parquet")
    ctx.execute("CREATE SEQUENCE mvd_seq START WITH 70")
    ctx.execute("ALTER TABLE mvd ALTER COLUMN id SET DEFAULT nextval('mvd_seq')")
    ctx.execute("INSERT INTO mvd(name) VALUES ('a'), ('b'), ('c')")
    spark.catalog.refreshTable(f"{DB}.mvd")
    ids = sorted(r.id for r in spark.table(f"{DB}.mvd").collect())
    assert ids == [70, 71, 72]
    # explicit per-row nextval call sites also each draw their own value
    ctx.execute(
        "INSERT INTO mvd(id, name) VALUES (nextval('mvd_seq'), 'd'),"
        " (nextval('mvd_seq'), 'e')"
    )
    spark.catalog.refreshTable(f"{DB}.mvd")
    ids = sorted(r.id for r in spark.table(f"{DB}.mvd").collect())
    assert ids == [70, 71, 72, 73, 74]
