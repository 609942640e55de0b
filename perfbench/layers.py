"""Which engine functions are traced, under which layer names.

The runner imports most helpers by name, so they are patched on the
``runner`` module, where its code looks them up; helpers that call each
other inside one module (export, migration, wzaes) are patched there.
"""

from __future__ import annotations

import threading
import time

from perfbench.trace import Tracer

_LEDGER_METHODS = (
    "__init__", "close", "upsert_packet", "dump_packets", "packet_hash",
    "set_packet_status", "upsert_step", "set_step_status", "is_action_done",
    "apply_action", "try_lock", "unlock", "seq_create", "seq_drop", "seq_alter",
    "seq_nextval", "seq_info", "seq_currval", "seq_setval", "seq_owned_map",
    "seq_owned_by",
)


def _n_items(args, kwargs, result) -> int:
    return len(result)


def _aes_bytes(args, kwargs, result) -> int:
    return sum(len(data) for _, data in args[1])


def install(tracer: Tracer) -> None:
    from db_converter_spark.functions import wzaes
    from db_converter_spark.operators import migration
    from db_converter_spark.plans import export, ledger, runner

    r, pr = runner, runner.PacketRunner
    for owner, attr, layer, counter in (
        (r, "parse_packet", "packet.parse", None),
        (r, "split_statements", "sqlsplit.split", _n_items),
        (r, "pg_rewrite", "pgdialect.rewrite", None),
        (r.RunContext, "refresh_catalog", "pg_catalog.refresh", None),
        (r, "_run_statement", "runner.statement", None),
        (pr, "_run_on_db", "runner.target", None),
        (pr, "_run_sql_step", "runner.step", None),
        (pr, "_eval_generators", "runner.generator", None),
        (pr, "_run_py_step", "runner.py_step", None),
        (r, "route_maintenance", "maintenance.route", None),
        (r, "route_sequence_ddl", "sequences", None),
        (r, "substitute_sequence_calls", "sequences", None),
        (r, "_expand_insert_defaults", "sequences", None),
        (migration, "merge_update", "migration.merge", None),
        (migration, "merge_matched_count", "migration.matched_count", None),
        (migration, "_swap_write", "migration.swap_write", None),
        (r, "export_statements", "export.statements", None),
        (export, "write_csv", "export.write_csv", lambda a, k, n: n),
        (export, "_zip_files", "export.zip", None),
        (wzaes, "write_aes_zip", "wzaes.aes", _aes_bytes),
    ):
        tracer.wrap(owner, attr, layer, counter)
    for name in _LEDGER_METHODS:
        tracer.wrap(ledger.ActionTracker, name, "ledger")
    _track_actions(tracer, ledger.ActionTracker)


def _track_actions(tracer: Tracer, tracker_cls) -> None:
    """An action runs from its ledger lookup (``is_action_done``) to its
    ledger record (``apply_action``) on the same thread; each completed
    action adds one ``action`` event with its duration."""
    starts = threading.local()
    lookup, record = tracker_cls.is_action_done, tracker_cls.apply_action

    def is_action_done(self, *args, **kwargs):
        starts.t = time.perf_counter()
        return lookup(self, *args, **kwargs)

    def apply_action(self, *args, **kwargs):
        result = record(self, *args, **kwargs)
        t0 = getattr(starts, "t", None)
        if t0 is not None:
            tracer.event("action", time.perf_counter() - t0)
            starts.t = None
        return result

    tracer.patch(tracker_cls, "is_action_done", is_action_done)
    tracer.patch(tracker_cls, "apply_action", apply_action)
