"""Tests for no-commit mode, chat hooks, the step watchdog, and the CLI —
the remaining engine operators of SURVEY §2.1 (E13, E16-E18, E21, E24/E26,
E32-E33)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from db_converter_spark.cli import main as cli_main
from db_converter_spark.plans.hooks import ChatHook, notify_results, render_hook_message
from db_converter_spark.plans.model import PacketStatus, PacketType, ResultCode
from db_converter_spark.plans.runner import PacketRunner
from db_converter_spark.plans.watchdog import StepWatchdog


def _write_packet(path: Path, files: dict[str, str]) -> Path:
    path.mkdir(parents=True, exist_ok=True)
    for name, text in files.items():
        (path / name).write_text(text)
    return path


# ---------------------------------------------------------------- no_commit


def test_no_commit_dry_run(spark, tmp_path):
    """no_commit validates writes without executing them (reference:
    rollback-always mode, dbccore/dbccore.py:886-888)."""
    runner = PacketRunner(spark, tmp_path / "wh")
    pdir = _write_packet(
        tmp_path / "nc_pkt",
        {
            "01_step.sql": (
                "create table nc_t(a int) using parquet;"
                " select 1 as probe"
            ),
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res = runner.run(pdir, dbs=["e2e_nc"])
    assert res.result_code["e2e_nc"] == ResultCode.SUCCESS
    results = res.result_data["e2e_nc"]["01_step.sql"]
    assert results[0] == [["CREATE", "no_commit"]]
    assert results[1] == [["probe"], [1]]
    # the write really did NOT happen
    assert "nc_t" not in [t.name for t in spark.catalog.listTables("e2e_nc")]


def test_no_commit_shadow_executes_routed_dml(spark, tmp_path):
    """Routed DML under no_commit SHADOW-EXECUTES: the rewrite plan runs
    end-to-end into the noop sink (execute-then-discard — the Spark analog
    of the reference's execute+rollback, dbccore/dbccore.py:886-888) and the
    status reports the would-be rowcount, while the table stays untouched."""
    runner = PacketRunner(spark, tmp_path / "wh")
    setup = _write_packet(
        tmp_path / "nc_shadow_setup",
        {
            "01_step.sql": (
                "create table nc_sh_t using parquet as"
                " select id, id % 5 as grp from range(0, 100)"
            ),
        },
    )
    res0 = runner.run(setup, dbs=["e2e_ncs"])
    assert res0.result_code["e2e_ncs"] == ResultCode.SUCCESS

    pkt = _write_packet(
        tmp_path / "nc_shadow",
        {
            "01_step.sql": (
                "update nc_sh_t set grp = grp + 100 where id < 30;"
                " delete from nc_sh_t where grp = 0"
            ),
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res = runner.run(pkt, dbs=["e2e_ncs"])
    assert res.result_code["e2e_ncs"] == ResultCode.SUCCESS
    results = res.result_data["e2e_ncs"]["01_step.sql"]
    assert results[0] == [["UPDATE", 30, "no_commit"]]
    assert results[1] == [["DELETE", 20, "no_commit"]]
    # neither statement mutated the table
    spark.catalog.refreshTable("e2e_ncs.nc_sh_t")
    t = spark.table("e2e_ncs.nc_sh_t")
    assert t.count() == 100
    assert t.where("grp >= 100").count() == 0


def test_no_commit_still_validates(spark, tmp_path):
    """Analysis errors surface even in dry-run (bad table name fails)."""
    runner = PacketRunner(spark, tmp_path / "wh")
    pdir = _write_packet(
        tmp_path / "nc_bad",
        {
            "01_step.sql": "insert into does_not_exist_xyz values (1)",
            "meta_data.json": '{"type": "no_commit"}',
        },
    )
    res = runner.run(pdir, dbs=["e2e_ncb"])
    assert res.result_code["e2e_ncb"] == ResultCode.FAIL
    assert res.packet_status["e2e_ncb"] == PacketStatus.EXCEPTION


# -------------------------------------------------------------------- hooks


def test_render_hook_message_verbosity():
    data = {
        "01_step.sql": [[["a", "b"], [1, 2]], [["INSERT"]]],
    }
    msgs = [("NOTICE", "hello")]
    full = render_hook_message("pkt", "db1", data, msgs, verbosity="all")
    assert "pkt" in full and "hello" in full and "```" in full and "INSERT" in full
    rs_only = render_hook_message("pkt", "db1", data, msgs, verbosity="resultset")
    assert "hello" not in rs_only and "```" in rs_only
    raise_only = render_hook_message("pkt", "db1", data, msgs, verbosity="raise")
    assert "hello" in raise_only and "```" not in raise_only
    stm_only = render_hook_message("pkt", "db1", data, msgs, verbosity="stm_result")
    assert "INSERT" in stm_only and "```" not in stm_only


def test_chat_hook_transport_and_payload():
    sent = []

    def fake_transport(url, body, headers):
        sent.append((url, json.loads(body), headers))
        return 200

    hook = ChatHook("http://example/hook", channel="ops", username="dbc",
                    transport=fake_transport)
    text = notify_results(hook, "pkt", "db1", {"s": [[["x"], [1]]]})
    assert text is not None
    url, payload, headers = sent[0]
    assert url == "http://example/hook"
    assert payload["channel"] == "ops" and payload["username"] == "dbc"
    assert "pkt" in payload["text"]
    assert headers["Content-Type"] == "application/json"


def test_hook_errors_never_fail_packet(spark, tmp_path):
    def broken_transport(url, body, headers):
        raise ConnectionError("chat server down")

    hook = ChatHook("http://example/hook", transport=broken_transport)
    runner = PacketRunner(spark, tmp_path / "wh", hook=hook)
    pdir = _write_packet(tmp_path / "hk_pkt", {"01_step.sql": "select 1 as a"})
    res = runner.run(pdir, dbs=["e2e_hk"])
    assert res.result_code["e2e_hk"] == ResultCode.SUCCESS


def test_runner_pushes_results_to_hook(spark, tmp_path):
    sent = []
    hook = ChatHook("http://x", transport=lambda u, b, h: sent.append(json.loads(b)) or 200)
    runner = PacketRunner(spark, tmp_path / "wh", hook=hook)
    pdir = _write_packet(tmp_path / "hk2_pkt", {"01_step.sql": "select 9 as n"})
    runner.run(pdir, dbs=["e2e_hk2"])
    assert sent and "9" in sent[0]["text"]


def test_runner_pushes_step_failure_to_hook(spark, tmp_path):
    """A failing step posts the error (reference: raise_error_logic,
    dbccore:1183-1219) on every target, and the packet still fails."""
    sent = []
    hook = ChatHook("http://x", transport=lambda u, b, h: sent.append(json.loads(b)) or 200)
    runner = PacketRunner(spark, tmp_path / "wh", hook=hook)
    pdir = _write_packet(tmp_path / "hk3_pkt", {"01_step.sql": "select * from hk3_missing"})
    res = runner.run(pdir, dbs=["e2e_hk3"])
    assert res.result_code["e2e_hk3"] == ResultCode.FAIL
    assert len(sent) == 1 and ":x:" in sent[0]["text"] and "hk3_missing" in sent[0]["text"]


# ----------------------------------------------------------------- watchdog


def test_watchdog_fires_on_timeout(spark, tmp_path):
    runner = PacketRunner(spark, tmp_path / "wh")
    pdir = _write_packet(
        tmp_path / "wd_pkt",
        {
            # a deliberately heavy cartesian query; the watchdog should
            # cancel the job group well before it finishes. Sized so a HOT
            # JVM still needs >>2 s (300k x 300k once flaked in the full
            # suite: warmed codegen finished it inside the timeout)
            "01_step.sql": (
                "select count(*) from (select explode(sequence(1, 2000000)) a) x"
                " join (select explode(sequence(1, 2000000)) b) y"
                " on x.a % 1000 = y.b % 1000"
            ),
            "meta_data.json": '{"type": "read_only", "statement_timeout": 2}',
        },
    )
    res = runner.run(pdir, dbs=["e2e_wd"])
    assert res.result_code["e2e_wd"] == ResultCode.FAIL
    assert res.packet_status["e2e_wd"] == PacketStatus.EXCEPTION


def test_watchdog_noop_when_fast(spark):
    with StepWatchdog(spark, "grp_fast", timeout_s=60) as wd:
        spark.sql("select 1").collect()
    assert not wd.fired


# ---------------------------------------------------------------------- CLI


def test_cli_list(capsys):
    rc = cli_main(["--db", "ALL", "--known-dbs", "a,b,c", "--list"])
    assert rc == 0
    assert capsys.readouterr().out.split() == ["a", "b", "c"]


def test_cli_template(tmp_path, capsys):
    (tmp_path / "packets" / "templates" / "basic").mkdir(parents=True)
    (tmp_path / "packets" / "templates" / "basic" / "01_step.sql").write_text("select 1")
    rc = cli_main([
        "--packets-dir", str(tmp_path / "packets"),
        "--packet-name", "newpkt",
        "--template", "basic",
    ])
    assert rc == 0
    assert (tmp_path / "packets" / "newpkt" / "01_step.sql").read_text() == "select 1"


def test_cli_run_status_wipe(spark, tmp_path, capsys):
    pdir = tmp_path / "packets" / "clipkt"
    _write_packet(pdir, {"01_step.sql": "select 3 as three"})
    wh = str(tmp_path / "wh")
    rc = cli_main(
        [
            "--packets-dir", str(tmp_path / "packets"),
            "--packet-name", "clipkt",
            "--db", "cli_db",
            "--warehouse", wh,
        ],
        spark=spark,
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "success" in out and "three" in out

    rc = cli_main(["--packet-name", "clipkt", "--db", "cli_db", "--warehouse", wh, "--status"])
    assert rc == 0
    assert "clipkt" in capsys.readouterr().out

    rc = cli_main(["--packet-name", "clipkt", "--db", "cli_db", "--warehouse", wh, "--wipe"])
    assert rc == 0
    assert "wiped 1" in capsys.readouterr().out


def test_cli_confirmation_gate(spark, tmp_path, capsys):
    pdir = tmp_path / "packets" / "gatepkt"
    _write_packet(pdir, {"01_step.sql": "select 1 as a"})
    rc = cli_main(
        [
            "--packets-dir", str(tmp_path / "packets"),
            "--packet-name", "gatepkt",
            "--db", "g1,g2",
            "--known-dbs", "g1,g2",
            "--warehouse", str(tmp_path / "wh"),
        ],
        spark=spark,
        confirm=lambda prompt: "no",
    )
    assert rc == 1
    assert "aborted" in capsys.readouterr().out


def test_vanilla_session_can_run_queries():
    """The external driver builds its own SparkSession with NONE of the
    engine's confs — round 1 died on exactly this (PARQUET_TYPE_ILLEGAL on
    nanos timestamps). Run the vanilla twin in a fresh interpreter/JVM; the
    in-process fixture session can't express it (getOrCreate would reuse
    the configured context)."""
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, str(root / "scripts" / "vanilla_check.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(root),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "VANILLA OK" in proc.stdout
