"""Engine-layer tests — ports of the reference's packet test strategy
(reference: tests/test_packets.py; SURVEY §5) against the Spark runner:
packet sweep semantics, idempotent resume, read-only enforcement, skip
flags, export round-trip, ledger commands.
"""

from __future__ import annotations

import csv
import json
import zipfile
from pathlib import Path

import pytest

from db_converter_spark.plans.export import ExportValidationError, export_statements
from db_converter_spark.plans.formatter import diff_golden, print_table, to_json
from db_converter_spark.plans.ledger import ActionTracker
from db_converter_spark.plans.model import PacketStatus, PacketType, ResultCode
from db_converter_spark.plans.packet import (
    apply_gen_placeholders,
    apply_placeholders,
    parse_packet,
)
from db_converter_spark.plans.runner import PacketRunner
from db_converter_spark.plans.sqlsplit import (
    is_non_tx,
    is_read_only_ok,
    split_statements,
    statement_kind,
)

# ---------------------------------------------------------------- sqlsplit


def test_split_basic():
    assert split_statements("select 1; select 2;") == ["select 1", "select 2"]


def test_split_quotes_and_comments():
    sql = (
        "select 'a;b', \"c;d\" -- trailing; comment\n"
        "from t; /* block ; comment */ select 2"
    )
    stmts = split_statements(sql)
    assert len(stmts) == 2
    assert "'a;b'" in stmts[0]
    assert stmts[1].endswith("select 2")


def test_split_dollar_quoting():
    sql = "DO $$ begin; select 1; end $$; select 3"
    stmts = split_statements(sql)
    assert len(stmts) == 2
    assert stmts[0].startswith("DO $$")


def test_statement_kind():
    assert statement_kind("-- c\nSELECT 1") == "query"
    assert statement_kind("with x as (select 1) select * from x") == "query"
    assert statement_kind("INSERT INTO t VALUES (1)") == "dml"
    assert statement_kind("create table t(a int)") == "ddl"
    assert statement_kind("vacuum analyze t") == "utility"


def test_read_only_and_non_tx():
    assert is_read_only_ok("select * from t")
    assert not is_read_only_ok("insert into t values (1)")
    assert not is_read_only_ok("vacuum analyze t")
    assert is_non_tx("VACUUM ANALYZE t")
    assert not is_non_tx("select 1")


# ------------------------------------------------------------- placeholders


def test_cli_placeholders():
    assert apply_placeholders("drop user DBC_PL_user", {"user": "bob"}) == "drop user bob"


def test_gen_placeholders_longest_first():
    # FLD_10 must not be eaten by FLD_1 (reference substitutes per-field)
    row = ("maint",) + tuple(f"v{i}" for i in range(1, 11))
    out = apply_gen_placeholders("a=GEN_OBJ_FLD_1 b=GEN_OBJ_FLD_10", row, "GEN_OBJ")
    assert out == "a=v1 b=v10"


# ---------------------------------------------------------------- formatter


def test_print_table():
    out = print_table([["a", "bb"], [1, None], [333, "x"]])
    lines = out.splitlines()
    assert lines[0] == "a    bb"
    assert lines[1] == "---  --"
    assert lines[2] == "1"
    assert lines[3] == "333  x"


def test_to_json_and_diff_golden():
    s = to_json({"b": 1, "a": [1.5, None]})
    assert json.loads(s) == {"a": [1.5, None], "b": 1}
    golden = "line1\nts=<SKIP>\nline3"
    actual = "line1\nts=2024\nline3"
    assert diff_golden(actual, golden) == []
    assert diff_golden("line1\nX\nline3", "line1\nY\nline3")


# ------------------------------------------------------------------- ledger


def test_ledger_roundtrip(tmp_path):
    t = ActionTracker(tmp_path / "ledger.sqlite")
    pid = t.upsert_packet("p1", "hash1")
    sid = t.upsert_step(pid, "01_step.sql")
    assert not t.is_action_done(pid, sid, "abc")
    t.apply_action(pid, sid, "abc")
    assert t.is_action_done(pid, sid, "abc")
    assert t.packet_hash("p1") == "hash1"
    # same names upsert to the same ids (resume path)
    assert t.upsert_packet("p1", "hash1") == pid
    assert t.upsert_step(pid, "01_step.sql") == sid
    # locks
    assert t.try_lock("p1")
    assert not t.try_lock("p1")
    t.unlock("p1")
    assert t.try_lock("p1")
    t.unlock("p1")
    # status + wipe
    assert t.status("p1")
    assert t.wipe("p1") == 1
    assert t.packet_hash("p1") is None
    t.close()


# ------------------------------------------------------------ packet parse


def _write_packet(path: Path, files: dict[str, str]) -> Path:
    path.mkdir(parents=True, exist_ok=True)
    for name, text in files.items():
        (path / name).write_text(text)
    return path


def test_parse_packet(tmp_path):
    pdir = _write_packet(
        tmp_path / "pkt1",
        {
            "run_once.sql": "create table t(a int)",
            "01_step.sql": "select 1",
            "02_step.sql": "select GEN_OBJ_FLD_1",
            "02_gen_obj.sql": "select null, 42",
            "03_step.py": "ctx.raise_notice('NOTICE', 'hi')",
            "meta_data.json": '{"type": "read_only"}',
        },
    )
    pkt = parse_packet(pdir)
    assert pkt.run_once is not None
    assert [s.name for s in pkt.steps] == ["01_step.sql", "02_step.sql", "03_step.py"]
    assert pkt.steps[2].kind == "py"
    assert pkt.gen_obj == {"02": "select null, 42"}
    assert pkt.packet_type == PacketType.READ_ONLY
    assert len(pkt.packet_hash) == 32
    # hash covers content: identical dir → identical hash
    assert parse_packet(pdir).packet_hash == pkt.packet_hash
    (pdir / "01_step.sql").write_text("select 2")
    assert parse_packet(pdir).packet_hash != pkt.packet_hash


# ----------------------------------------------------------- runner e2e


@pytest.fixture()
def runner(spark, tmp_path):
    return PacketRunner(spark, tmp_path / "warehouse")


def test_runner_read_only_capture(runner, tmp_path):
    pdir = _write_packet(
        tmp_path / "ro_pkt",
        {
            "01_step.sql": "select 1 as a, 2 as b union all select 4, 5",
            "meta_data.json": '{"type": "read_only"}',
        },
    )
    res = runner.run(pdir, dbs=["e2e_ro"])
    assert res.result_code["e2e_ro"] == ResultCode.SUCCESS
    assert res.packet_status["e2e_ro"] == PacketStatus.DONE
    table = res.result_data["e2e_ro"]["01_step.sql"][0]
    assert table[0] == ["a", "b"]
    assert sorted(table[1:]) == [[1, 2], [4, 5]]


def test_runner_read_only_rejects_writes(runner, tmp_path):
    pdir = _write_packet(
        tmp_path / "ro_bad",
        {
            "01_step.sql": "create table nope(a int) using parquet",
            "meta_data.json": '{"type": "read_only"}',
        },
    )
    res = runner.run(pdir, dbs=["e2e_ro2"])
    assert res.result_code["e2e_ro2"] == ResultCode.FAIL
    assert res.packet_status["e2e_ro2"] == PacketStatus.EXCEPTION


def test_runner_generator_fanout_and_resume(runner, spark, tmp_path):
    """The canonical chunked-migration shape: run_once fixture, generator
    fan-out, idempotent re-run (reference: test_gens + action dedup)."""
    pdir = _write_packet(
        tmp_path / "gen_pkt",
        {
            "run_once.sql": (
                "create table gen_t(v int) using parquet"
            ),
            "01_step.sql": "insert into gen_t values (GEN_OBJ_FLD_1)",
            "01_gen_obj.sql": (
                "select cast(null as string) as maint, c1"
                " from values (10),(20),(30) as t(c1)"
            ),
        },
    )
    res = runner.run(pdir, dbs=["e2e_gen"])
    assert res.result_code["e2e_gen"] == ResultCode.SUCCESS
    cnt = spark.sql("select count(*) from e2e_gen.gen_t").collect()[0][0]
    assert cnt == 3

    # re-run: every action hash is in the ledger → skipped → no duplicates
    res2 = runner.run(pdir, dbs=["e2e_gen"])
    assert res2.result_code["e2e_gen"] == ResultCode.SUCCESS
    cnt2 = spark.sql("select count(*) from e2e_gen.gen_t").collect()[0][0]
    assert cnt2 == 3


def test_runner_cartesian_fanout(runner, spark, tmp_path):
    pdir = _write_packet(
        tmp_path / "cart_pkt",
        {
            "run_once.sql": "create table cart_t(s string, v int) using parquet",
            "01_step.sql": "insert into cart_t values ('GEN_NSP_FLD_1', GEN_OBJ_FLD_1)",
            "01_gen_obj.sql": (
                "select cast(null as string), c1 from values (1),(2) as t(c1)"
            ),
            "01_gen_nsp.sql": (
                "select cast(null as string), s from values ('x'),('y') as t(s)"
            ),
        },
    )
    res = runner.run(pdir, dbs=["e2e_cart"])
    assert res.result_code["e2e_cart"] == ResultCode.SUCCESS
    rows = sorted(
        tuple(r) for r in spark.sql("select s, v from e2e_cart.cart_t").collect()
    )
    assert rows == [("x", 1), ("x", 2), ("y", 1), ("y", 2)]


def test_runner_skip_action_cancel(runner, spark, tmp_path):
    files = {
        "run_once.sql": "create table skip_t(v int) using parquet",
        "01_step.sql": "insert into skip_t select GEN_OBJ_FLD_1",
        "01_gen_obj.sql": (
            "select cast(null as string), c1"
            " from values ('1'),('not_a_number!'),('3') as t(c1)"
        ),
    }
    pdir = _write_packet(tmp_path / "skip_pkt", files)
    res = runner.run(pdir, dbs=["e2e_skip"], skip_action_cancel=True)
    assert res.result_code["e2e_skip"] == ResultCode.SUCCESS
    cnt = spark.sql("select count(*) from e2e_skip.skip_t").collect()[0][0]
    assert cnt == 2  # bad middle action skipped, rest applied

    pdir2 = _write_packet(tmp_path / "skip_pkt2", files)
    res2 = runner.run(pdir2, dbs=["e2e_skip2"])
    assert res2.result_code["e2e_skip2"] == ResultCode.FAIL


def test_runner_skip_step_cancel(runner, tmp_path):
    pdir = _write_packet(
        tmp_path / "ss_pkt",
        {
            "01_step.sql": "select broken syntax here from",
            "02_step.sql": "select 7 as ok",
        },
    )
    res = runner.run(pdir, dbs=["e2e_ss"], skip_step_cancel=True)
    assert res.result_code["e2e_ss"] == ResultCode.SUCCESS
    assert res.result_data["e2e_ss"]["02_step.sql"][0][1] == [7]

    res2 = runner.run(pdir, dbs=["e2e_ss_f"], force=True)
    assert res2.result_code["e2e_ss_f"] == ResultCode.FAIL
    assert "02_step.sql" not in res2.result_data["e2e_ss_f"]


def test_runner_hash_change_guard(runner, tmp_path):
    pdir = _write_packet(tmp_path / "hash_pkt", {"01_step.sql": "select 1 as a"})
    assert runner.run(pdir, dbs=["e2e_hash"]).result_code["e2e_hash"] == ResultCode.SUCCESS
    (pdir / "01_step.sql").write_text("select 2 as a")
    res = runner.run(pdir, dbs=["e2e_hash"])
    assert res.result_code["e2e_hash"] == ResultCode.FAIL
    # --force overrides (reference: dbccore/dbccore.py:449-463)
    res_f = runner.run(pdir, dbs=["e2e_hash"], force=True)
    assert res_f.result_code["e2e_hash"] == ResultCode.SUCCESS


def test_runner_py_step(runner, tmp_path):
    pdir = _write_packet(
        tmp_path / "py_pkt",
        {
            "01_step.py": (
                "res = ctx.execute('select 11 as x')\n"
                "ctx.raise_notice('NOTICE', f'got {res[1][0]}')\n"
            ),
        },
    )
    res = runner.run(pdir, dbs=["e2e_py"])
    assert res.result_code["e2e_py"] == ResultCode.SUCCESS
    results = res.result_data["e2e_py"]["01_step.py"]
    assert results[0] == [["x"], [11]]
    assert results[1] == ["NOTICE", "got 11"]


def test_runner_multi_db_parallel(runner, tmp_path):
    pdir = _write_packet(tmp_path / "md_pkt", {"01_step.sql": "select 5 as v"})
    res = runner.run(pdir, dbs=["e2e_md1", "e2e_md2", "e2e_md3"])
    assert all(c == ResultCode.SUCCESS for c in res.result_code.values())
    assert len(res.result_data) == 3


def test_runner_lock_contention(runner, tmp_path):
    """A held packet lock yields LOCKED, not an error (reference:
    TestDBCLock, tests/test_packets.py:119-173)."""
    pdir = _write_packet(tmp_path / "lk_pkt", {"01_step.sql": "select 1 as a"})
    tracker = ActionTracker(runner.warehouse / "e2e_lk" / "dbc_ledger.sqlite")
    assert tracker.try_lock("lk_pkt")
    res = runner.run(pdir, dbs=["e2e_lk"])
    assert res.result_code["e2e_lk"] == ResultCode.LOCKED
    tracker.unlock("lk_pkt")
    tracker.close()
    res2 = runner.run(pdir, dbs=["e2e_lk"])
    assert res2.result_code["e2e_lk"] == ResultCode.SUCCESS


def test_expand_targets(runner):
    known = ["prod_a", "prod_b", "stage_a"]
    assert runner.expand_targets("ALL", known) == known
    assert runner.expand_targets("ALL,exclude:stage_*", known) == ["prod_a", "prod_b"]
    assert runner.expand_targets("prod_*", known) == ["prod_a", "prod_b"]
    assert runner.expand_targets("stage_a,prod_a", known) == ["prod_a", "stage_a"]


# ------------------------------------------------------------------- export


def test_export_csv_roundtrip(spark, tmp_path):
    files = export_statements(
        spark,
        "dbx",
        ["select 1 as a, 'x\ty' as b union all select 2, null"],
        tmp_path / "exp",
    )
    assert len(files) == 1
    p = Path(files[0])
    assert p.name.startswith("export_") and p.name.endswith("_dbx.csv")
    with p.open() as fh:
        rows = list(csv.reader(fh, delimiter="\t"))
    assert rows[0] == ["a", "b"]
    assert sorted(rows[1:]) == [["1", "x\ty"], ["2", ""]]
    # QUOTE_ALL on disk
    assert '"a"\t"b"' in p.read_text().splitlines()[0]


def test_export_rejects_dml(spark, tmp_path):
    with pytest.raises(ExportValidationError):
        export_statements(spark, "dbx", ["insert into t values (1)"], tmp_path)


def test_export_zip(spark, tmp_path):
    files = export_statements(
        spark, "dbz", ["select 1 as a"], tmp_path / "expz", zip_output=True
    )
    assert len(files) == 1 and files[0].endswith(".zip")
    with zipfile.ZipFile(files[0]) as zf:
        names = zf.namelist()
        assert len(names) == 1 and names[0].endswith("_dbz.csv")
        body = zf.read(names[0]).decode()
    assert '"a"' in body
    # plaintext CSVs deleted after zipping (reference: dbccore:818-819)
    assert list(Path(tmp_path / "expz").glob("*.csv")) == []


def test_export_packet_via_runner(runner, tmp_path):
    pdir = _write_packet(
        tmp_path / "exp_pkt",
        {
            "01_step.sql": "select 42 as answer",
            "meta_data.json": '{"type": "export_data"}',
        },
    )
    res = runner.run(pdir, dbs=["e2e_exp"], export_dir=tmp_path / "exp_out")
    assert res.result_code["e2e_exp"] == ResultCode.SUCCESS
    produced = res.result_data["e2e_exp"]["01_step.sql"][0]
    csv_path = Path(produced[1][0])
    assert csv_path.exists()
    assert '"42"' in csv_path.read_text()


def test_pipe01_plan_shape(spark):
    """The corpus filter chain must compile to scan → project (codegen'd
    metrics) → ONE exchange (the md5 dedup window) → window → project.
    More exchanges or a BatchEvalPython node would break the 100 TB shape."""
    from db_converter_spark.operators.pipeline import pipe01_corpus_filter
    from tests.conftest import SF_DIR

    df = pipe01_corpus_filter(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one hash exchange (the dedup window); the RoundRobin exchange is the
    # catalog's single-row-group spread guard, testdata-only (catalog.py)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(text)]" in plan


def test_print_table_reference_byte_parity():
    """print_table_reference must be BYTE-identical to the reference's own
    print_table (dbccore/dbccore.py:39-48). The goldens below are that
    function's output for these four tables, captured when the reference
    tree was last diffed against it."""
    from db_converter_spark.plans.formatter import print_table_reference

    golden = [
        (
            [["name", "n"], ["alpha", 7], ["b", 1234]],
            "----------------\n"
            "| name  | n    |\n"
            "----------------\n"
            "| alpha |    7 |\n"
            "| b     | 1234 |\n",
        ),
        ([["only_header", "x"]], "-------------------\n| only_header | x |\n"),
        (
            [["a"], ["longer-cell"], [""]],
            "---------------\n"
            "| a           |\n"
            "---------------\n"
            "| longer-cell |\n"
            "|             |\n",
        ),
        (
            [["col1", "col2", "col3"], [1, 2.5, "s"], [-10, 0.125, "tt"]],
            "-----------------------\n"
            "| col1 | col2  | col3 |\n"
            "-----------------------\n"
            "|    1 |   2.5 | s    |\n"
            "|  -10 | 0.125 | tt   |\n",
        ),
    ]
    for table, expected in golden:
        assert print_table_reference(table) == expected, table


def test_cli_version(capsys):
    import pytest as _pytest

    from db_converter_spark import __version__
    from db_converter_spark.cli import main as cli_main

    with _pytest.raises(SystemExit) as e:
        cli_main(["--version"])
    assert e.value.code == 0
    assert __version__ in capsys.readouterr().out


def test_cli_conf_overlay(spark, tmp_path):
    from db_converter_spark.cli import main as cli_main

    pkt = tmp_path / "packets" / "conf_pkt"
    pkt.mkdir(parents=True)
    (pkt / "01_step.sql").write_text("SELECT 1 AS one")
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    rc = cli_main(
        [
            "--packet-name", "conf_pkt",
            "--packets-dir", str(tmp_path / "packets"),
            "--warehouse", str(tmp_path / "wh"),
            "--db", "confdb",
            "--conf", '{"spark.sql.cbo.enabled": "true"}',
        ],
        spark=spark,
    )
    assert rc == 0
    assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    spark.conf.set("spark.sql.cbo.enabled", prev)
