"""Command-line entry point — the reference's ``db_converter.py`` command
surface rebuilt over the Spark runner (reference: db_converter.py:209-336
argument parsing, :413-424 command dispatch, :687-768 MainRoutine.run).

Commands (mutually exclusive, as in the reference):
  run (default)  execute a packet on the target list
  --list         print matched targets (reference: db_converter.py:710-715)
  --status       ledger status per target (reference: :526-539)
  --wipe         delete packet history (reference: actiontracker:257-294)
  --unlock       release a stuck packet lock (reference: :666-683)
  --stop         cancel the packet's running job group (reference: :390-411)
  --template     scaffold a new packet from a template dir (reference: :267-286)

Safety semantics kept: multi-target non-forced runs require typing ``YES``
(reference: :698-707); SIGINT cancels all Spark jobs (reference wire-level
CancelRequest, psc_common:49-81).
"""

from __future__ import annotations

import argparse
import json
import logging
import shutil
import sys
import time
from pathlib import Path

from db_converter_spark.plans.hooks import ChatHook
from db_converter_spark.plans.model import PacketType, ResultCode
from db_converter_spark.plans.runner import (
    PacketRunner,
    expand_targets,
    open_ledger,
    render_results,
)
from db_converter_spark.plans.watchdog import install_sigint_cancel


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="db_converter_spark",
        description="Packet-based SQL batch executor on Spark",
    )
    p.add_argument("--packet-name", required=False, help="packet directory name")
    p.add_argument("--packets-dir", default="packets", help="root of packet dirs")
    p.add_argument("--db", default="default", help="target list/mask: a,b | ALL | ALL,exclude:x | glob")
    p.add_argument("--known-dbs", default="", help="comma list of known targets for mask expansion")
    p.add_argument("--warehouse", default="dbc_warehouse", help="ledger/export root")
    p.add_argument("--placeholders", default=None, help='JSON dict for DBC_PL_* substitution')
    p.add_argument(
        "--conf",
        default=None,
        help="JSON dict of session conf overrides applied before the run"
        " (reference --conf overrides db_converter.conf; here the keys are"
        " spark.conf settings, same channel as per-packet session_conf)",
    )
    from db_converter_spark import __version__

    p.add_argument("--version", action="version", version=f"%(prog)s {__version__}")
    p.add_argument("--packet-type", default=None, choices=[t.value for t in PacketType])
    p.add_argument("--force", action="store_true")
    p.add_argument("--seq", action="store_true", help="serialize multi-target runs")
    p.add_argument("--skip-step-cancel", action="store_true")
    p.add_argument("--skip-action-cancel", action="store_true")
    p.add_argument("--export-dir", default=None)
    p.add_argument("--hook-url", default=None, help="incoming webhook for result notifications")
    p.add_argument(
        "--pg-targets",
        default=None,
        help='JSON {target: {"base_dir": socket_dir[, "db", "schema"]}} —'
        " targets that ARE a live PostgreSQL server (reference: db alias ->"
        " conninfo map): packets execute natively over psql with the dbc_*"
        " ledger in that database (sources/pg_live.py PgRunContext)",
    )
    p.add_argument("--yes", action="store_true", help="skip the multi-target confirmation gate")
    g = p.add_mutually_exclusive_group()
    g.add_argument("--list", action="store_true", dest="do_list")
    g.add_argument("--status", action="store_true")
    g.add_argument("--wipe", action="store_true")
    g.add_argument("--unlock", action="store_true")
    g.add_argument("--stop", action="store_true")
    g.add_argument("--template", default=None, help="scaffold packet from this template name")
    return p


def _setup_logging(warehouse: Path, db_mask: str, packet: str) -> None:
    """Per-(dbmask,packet) logfile, reference naming convention
    (reference: db_converter.py:306-315; psc_logger threaded file logger)."""
    logdir = warehouse / "log"
    logdir.mkdir(parents=True, exist_ok=True)
    fname = logdir / f"dbc_{db_mask.replace(',', '_').replace(':', '_')}_{packet}_{time.strftime('%Y%m%d')}.log"
    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s %(levelname)s %(threadName)s %(message)s",
        handlers=[logging.FileHandler(fname), logging.StreamHandler(sys.stderr)],
    )


def main(argv: list[str] | None = None, spark=None, confirm=input) -> int:
    args = _build_parser().parse_args(argv)
    warehouse = Path(args.warehouse)

    # ---- ledger-only commands don't need Spark ---------------------------
    known = [d for d in args.known_dbs.split(",") if d] or ["default"]

    if args.template is not None:
        if not args.packet_name:
            print("--template requires --packet-name", file=sys.stderr)
            return 2
        src = Path(args.packets_dir) / "templates" / args.template
        dst = Path(args.packets_dir) / args.packet_name
        if not src.is_dir():
            print(f"template not found: {src}", file=sys.stderr)
            return 2
        dst.mkdir(parents=True, exist_ok=True)
        for f in src.iterdir():
            shutil.copy2(f, dst / f.name)
        print(f"created packet {dst} from template {args.template}")
        return 0

    dbs = expand_targets(args.db, known)
    if not dbs:
        print(f"no target matches --db {args.db}", file=sys.stderr)
        return 2

    pg_cfgs: dict = {}
    if args.pg_targets:
        from db_converter_spark.sources.pg_live import PgServer

        for name, cfg in json.loads(args.pg_targets).items():
            pg_cfgs[name] = {
                "server": PgServer(cfg["base_dir"]),
                "db": cfg.get("db", "postgres"),
                "schema": cfg.get("schema", "dbc"),
            }

    if args.do_list:
        for d in dbs:
            print(d)
        return 0

    if args.status or args.wipe or args.unlock:
        if not args.packet_name and not args.status:
            print("command requires --packet-name", file=sys.stderr)
            return 2
        rc = 0
        for d in dbs:
            tracker = open_ledger(warehouse, d, pg_cfgs)
            if args.status:
                for row in tracker.status(args.packet_name):
                    print(d, *row)
            elif args.wipe:
                n = tracker.wipe(args.packet_name)
                print(f"{d}: wiped {n} packet(s)")
            elif args.unlock:
                tracker.unlock(args.packet_name)
                print(f"{d}: unlocked {args.packet_name}")
            tracker.close()
        return rc

    if not args.packet_name:
        print("run requires --packet-name", file=sys.stderr)
        return 2

    # ---- Spark-backed commands ------------------------------------------
    if spark is None:
        from db_converter_spark.session import build_session

        spark = build_session(app_name=f"dbc_{args.packet_name}")

    if args.conf:
        # CLI-level conf overlay (reference: db_converter.py --conf JSON) —
        # same mechanism as per-packet session tuning (E30), applied first
        # so packets can still override per-packet
        for k, v in json.loads(args.conf).items():
            spark.conf.set(k, str(v))

    hook = ChatHook(args.hook_url) if args.hook_url else None
    runner = PacketRunner(spark, warehouse, hook=hook, pg_targets=pg_cfgs)

    if args.stop:
        for d in dbs:
            runner.stop(d, args.packet_name)
            print(f"{d}: cancel requested for {args.packet_name}")
        return 0

    # confirmation gate (reference: db_converter.py:698-707)
    if len(dbs) > 1 and not args.force and not args.yes:
        answer = confirm(f"Run {args.packet_name} on {len(dbs)} targets {dbs}? Type YES: ")
        if answer.strip() != "YES":
            print("aborted")
            return 1

    _setup_logging(warehouse, args.db, args.packet_name)
    prev_handlers = install_sigint_cancel(spark)
    try:
        result = runner.run(
            Path(args.packets_dir) / args.packet_name,
            dbs=dbs,
            placeholders=json.loads(args.placeholders) if args.placeholders else None,
            packet_type=PacketType(args.packet_type) if args.packet_type else None,
            force=args.force,
            seq=args.seq,
            skip_step_cancel=args.skip_step_cancel,
            skip_action_cancel=args.skip_action_cancel,
            export_dir=args.export_dir,
        )
    except KeyboardInterrupt:
        print("interrupted; jobs cancelled", file=sys.stderr)
        return 130
    finally:
        import signal

        for sig, h in prev_handlers.items():
            signal.signal(sig, h)

    for d, data in result.result_data.items():
        print(f"=== {d}: {result.result_code[d].value} / {result.packet_status[d].value} ===")
        print(render_results(data))
    return 0 if all(c == ResultCode.SUCCESS for c in result.result_code.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
