"""PG sequences re-homed in the ledger (SURVEY §7.4.6 — the last dialect
gap: the reference corpus uses ``nextval('test_tbl_id_seq')`` as a column
default and ``ALTER SEQUENCE … OWNED BY`` in its serial-widening packet,
reference: packets/test_int4_to_int8/06_step.sql:7-9).

Spark has no sequence object, and emulating one with a Spark table would pay
a full job per ``nextval``. A sequence is orchestration state, exactly like
action dedup — tiny, transactional, serialized by design (PG serializes
``nextval`` on a spinlock too) — so it lives in the same per-target SQLite
ledger (:class:`~db_converter_spark.plans.ledger.ActionTracker`).

Scale contract: executors NEVER touch the counter. A statement that draws N
per-row values reserves one contiguous block up front (one counter bump) and
distributes ``base + (row_number()-1) * increment`` inside the Spark plan —
the standard block-allocation scheme distributed databases use for
sequences. The row numbering is a global window (single-partition sort):
inherent to gap-free per-row numbering, same serialization point PG has.
PG sequences are explicitly allowed to leave gaps, so callers must not
assume density anyway.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from db_converter_spark.plans.sqlsplit import _strip_leading_comments, parse_dml

if TYPE_CHECKING:  # pragma: no cover
    from db_converter_spark.plans.ledger import ActionTracker
    from db_converter_spark.plans.runner import RunContext

_IDENT = r'(?:"[^"]+"|[\w.]+)'

_CREATE_RE = re.compile(
    rf"^\s*create\s+sequence\s+(if\s+not\s+exists\s+)?({_IDENT})(.*)$",
    re.I | re.S,
)
_DROP_RE = re.compile(
    rf"^\s*drop\s+sequence\s+(if\s+exists\s+)?({_IDENT})\s*(?:cascade|restrict)?\s*$",
    re.I | re.S,
)
_ALTER_RE = re.compile(
    rf"^\s*alter\s+sequence\s+(?:if\s+exists\s+)?({_IDENT})(.*)$", re.I | re.S
)

_START_RE = re.compile(r"\bstart\s+(?:with\s+)?(-?\d+)", re.I)
_INCREMENT_RE = re.compile(r"\bincrement\s+(?:by\s+)?(-?\d+)", re.I)
_RESTART_RE = re.compile(r"\brestart(?:\s+with\s+(-?\d+))?", re.I)
_OWNED_RE = re.compile(rf"\bowned\s+by\s+(none|{_IDENT})", re.I)

_NEXTVAL_RE = re.compile(r"(?<![\w.])nextval\s*\(\s*'([^']+)'\s*\)", re.I)
_CURRVAL_RE = re.compile(r"(?<![\w.])currval\s*\(\s*'([^']+)'\s*\)", re.I)
_SETVAL_RE = re.compile(
    r"(?<![\w.])setval\s*\(\s*'([^']+)'\s*,\s*(-?\d+)\s*(?:,\s*(\w+)\s*)?\)", re.I
)


def norm_seq_name(name: str) -> str:
    """Canonical sequence key: unquote, lowercase, drop a ``public.``
    qualifier (the reference schema; Spark has no such default schema)."""
    name = name.replace('"', "").strip().lower()
    return name.removeprefix("public.")


def route_sequence_ddl(
    tracker: "ActionTracker", stmt: str, dry_run: bool = False
) -> tuple[list, list[tuple[str, str]]] | None:
    """CREATE/ALTER/DROP SEQUENCE → ledger counter ops. Returns
    ``(status_row, notices)`` like the maintenance router, or None when
    ``stmt`` is not sequence DDL."""
    s = stmt.strip().rstrip(";").strip()
    m = _CREATE_RE.match(s)
    if m:
        opts = m.group(3) or ""
        sm, im = _START_RE.search(opts), _INCREMENT_RE.search(opts)
        if not dry_run:
            tracker.seq_create(
                norm_seq_name(m.group(2)),
                start=int(sm.group(1)) if sm else 1,
                increment=int(im.group(1)) if im else 1,
                if_not_exists=bool(m.group(1)),
            )
        return ["CREATE SEQUENCE"], []
    m = _DROP_RE.match(s)
    if m:
        if not dry_run:
            tracker.seq_drop(norm_seq_name(m.group(2)), if_exists=bool(m.group(1)))
        return ["DROP SEQUENCE"], []
    m = _ALTER_RE.match(s)
    if m:
        name, opts = norm_seq_name(m.group(1)), m.group(2) or ""
        rm, im, om = (
            _RESTART_RE.search(opts),
            _INCREMENT_RE.search(opts),
            _OWNED_RE.search(opts),
        )
        if not dry_run:
            tracker.seq_alter(
                name,
                restart=int(rm.group(1)) if rm and rm.group(1) else None,
                restart_default=bool(rm and not rm.group(1)),
                increment=int(im.group(1)) if im else None,
                owned_by=(
                    om.group(1).upper()
                    if om and om.group(1).upper() == "NONE"
                    else norm_seq_name(om.group(1))
                )
                if om
                else None,
            )
        return ["ALTER SEQUENCE"], []
    return None


def _per_row_demand(ctx: "RunContext", stmt: str) -> tuple[int, str | None]:
    """How many per-row values the statement will draw, plus (for UPDATE)
    the row-matching predicate needed to number only the matched rows.
    Returns ``(n, partition_predicate)``: 1/None for scalar use (no FROM),
    else COUNT(*) of the statement's row source with sequence calls nulled
    out. The count scans only what the filter needs (pruned columns, pushed
    predicates) — cheap next to the statement itself, and the price of
    reserving ONE contiguous block instead of a per-row counter round-trip.

    PG draws one value PER MATCHED ROW in UPDATE too, so
    ``UPDATE t SET c = nextval('s') WHERE p`` counts rows where ``p`` is
    true and hands the predicate back so the expansion numbers exactly
    those rows (a shared scalar here would be silent wrong data).
    ``UPDATE … FROM`` and DELETE with nextval raise
    :class:`~db_converter_spark.plans.pgdialect.UnsupportedConstruct`
    (port to a py-step) instead of silently assigning one shared value."""
    from db_converter_spark.plans.pgdialect import UnsupportedConstruct

    dml = parse_dml(stmt)
    kind = dml.kind if dml is not None else None
    if kind in ("delete", "delete-using"):
        raise UnsupportedConstruct(
            "nextval() inside DELETE is not supported — PG draws one value"
            " per evaluated row; port this statement to a py-step"
        )
    if kind == "update-from":
        raise UnsupportedConstruct(
            "nextval() inside UPDATE ... FROM is not supported — port"
            " this statement to a py-step (one nextval per matched row)"
        )
    if kind == "update":
        pred = dml.predicate
        # nextval in the SET clause doesn't constrain the match; null any
        # occurrence inside the predicate itself before counting
        npred = _NEXTVAL_RE.sub("CAST(NULL AS BIGINT)", pred) if pred else None
        where = f" WHERE ({npred})" if npred else ""
        n = int(
            ctx.spark.sql(f"SELECT count(*) AS c FROM {dml.table}{where}").collect()[0][0]
        )
        return n, pred
    # an INSERT draws per row of its source (RETURNING and ON CONFLICT are
    # not part of it: with them attached the demand-count subquery would
    # fail to parse and fall back to a SHARED scalar)
    if dml is not None:
        sel = dml.source or ""
    else:
        sel = _strip_leading_comments(stmt).rstrip().rstrip(";")
    if not re.match(r"^\s*(select|with)\b", sel, re.I | re.S) or not re.search(
        r"\bfrom\b", sel, re.I
    ):
        return 1, None
    nulled = _NEXTVAL_RE.sub("CAST(NULL AS BIGINT)", sel)
    try:
        return (
            int(
                ctx.spark.sql(f"SELECT count(*) AS c FROM ({nulled})").collect()[0][0]
            ),
            None,
        )
    except Exception:  # noqa: BLE001 — unparseable as subquery → scalar use
        return 1, None


def substitute_sequence_calls(ctx: "RunContext", stmt: str) -> str:
    """Inline ``nextval``/``currval``/``setval`` into plain Spark SQL using
    the ledger counters. ``nextval`` in a multi-row statement reserves a
    block and expands to ``base + (row_number()-1)*increment`` so every row
    gets a distinct value with ONE counter update."""
    if not (
        _NEXTVAL_RE.search(stmt)
        or _CURRVAL_RE.search(stmt)
        or _SETVAL_RE.search(stmt)
    ):
        return stmt
    tracker = ctx.sequence_tracker()

    def sub_setval(m: re.Match) -> str:
        is_called = (m.group(3) or "true").lower() not in ("false", "f", "0")
        return str(
            tracker.seq_setval(
                norm_seq_name(m.group(1)), int(m.group(2)), is_called=is_called
            )
        )

    def sub_currval(m: re.Match) -> str:
        return str(tracker.seq_currval(norm_seq_name(m.group(1))))

    stmt = _SETVAL_RE.sub(sub_setval, stmt)
    stmt = _CURRVAL_RE.sub(sub_currval, stmt)
    if not _NEXTVAL_RE.search(stmt):
        return stmt
    n, part_pred = _per_row_demand(ctx, stmt)
    # for UPDATE ... WHERE p, number ONLY the matched rows: partitioning the
    # window by the predicate puts them in one partition numbered 1..n, so
    # the reserved block is exactly consumed (unmatched rows draw a value
    # from their own partition but never use it — the conditional projection
    # keeps their old column value)
    part = (
        f"PARTITION BY (CASE WHEN ({part_pred}) THEN 1 ELSE 0 END) "
        if part_pred
        else ""
    )

    def sub_nextval(m: re.Match) -> str:
        name = norm_seq_name(m.group(1))
        first = tracker.seq_nextval(name, block=max(n, 1))
        if n <= 1:
            return str(first)
        _, _, inc = tracker.seq_info(name)
        return (
            f"({first} + (row_number() OVER ({part}ORDER BY"
            f" monotonically_increasing_id()) - 1) * {inc})"
        )

    return _NEXTVAL_RE.sub(sub_nextval, stmt)
