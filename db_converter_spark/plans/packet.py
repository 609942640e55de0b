"""Packet model + parsing.

A packet is a directory of ordered steps (reference: README.md:159-171,
parse_packet at dbccore/dbccore.py:280-345):

- ``NN_step.sql`` — SQL step (one idempotent unit of work)
- ``NN_step.py``  — Python step, exec'd with ``spark``/``ctx`` in scope
  (reference: dbccore/dbccore.py:1113-1115)
- ``NN_gen_obj.sql`` / ``NN_gen_nsp.sql`` — generators whose resultset fans
  step ``NN`` out into parameterized actions (reference:
  dbccore/dbccore.py:30-36, 905-1181)
- ``run_once.sql`` — runs before generators are evaluated (reference:
  dbccore/dbccore.py:469,536)
- ``meta_data.json`` — packet type + session conf overrides

Placeholders:
- CLI: ``DBC_PL_<key>`` replaced from a dict (reference:
  dbccore/dbccore.py:275-278)
- generator: ``GEN_OBJ_FLD_<i>`` / ``GEN_NSP_FLD_<i>`` replaced with the
  i-th field of the generator row; field 0 is the reserved ``maint`` command
  channel (reference: dbccore/dbccore.py:30-36, packets/test_int4_to_int8/
  02_gen_obj.sql:1-27)
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass, field
from pathlib import Path

from db_converter_spark.plans.model import PacketType

_STEP_RE = re.compile(r"^(\d+)_(.+)\.(sql|py)$")
_GEN_OBJ_RE = re.compile(r"^(\d+)_gen_obj\.sql$")
_GEN_NSP_RE = re.compile(r"^(\d+)_gen_nsp\.sql$")


@dataclass
class Step:
    index: str
    name: str  # file name
    text: str
    kind: str  # 'sql' | 'py'


@dataclass
class Packet:
    name: str
    path: Path
    steps: list[Step] = field(default_factory=list)  # ordered, excl. run_once
    run_once: Step | None = None
    gen_obj: dict[str, str] = field(default_factory=dict)  # step index → SQL
    gen_nsp: dict[str, str] = field(default_factory=dict)
    meta: dict = field(default_factory=dict)
    packet_hash: str = ""

    @property
    def packet_type(self) -> PacketType:
        return PacketType(self.meta.get("type", "default"))

    @property
    def session_conf(self) -> dict[str, str]:
        """Per-packet Spark conf overlay (the reference's session GUC
        overrides, prepare_session at dbccore/dbccore.py:347-377)."""
        return dict(self.meta.get("spark_conf", {}))


def apply_placeholders(sql: str, placeholders: dict[str, str] | None) -> str:
    """Replace ``DBC_PL_<key>`` tokens (reference: dbccore/dbccore.py:275-278)."""
    for k, v in (placeholders or {}).items():
        sql = sql.replace(f"DBC_PL_{k}", str(v))
    return sql


def apply_gen_placeholders(sql: str, row: tuple, prefix: str) -> str:
    """Replace ``{prefix}_FLD_<i>`` with row fields; i is 1-based over the
    row minus the reserved maint field 0 (reference: dbccore/dbccore.py:30-36).
    Longer indices substituted first so FLD_10 isn't eaten by FLD_1."""
    for i in range(len(row) - 1, 0, -1):
        sql = sql.replace(f"{prefix}_FLD_{i}", str(row[i]))
    return sql


def bind_actions(text: str, obj_rows: list | None, nsp_rows: list | None):
    """Yield ``(action_sql, [maint_cmds])`` per generator binding of a step
    — the reference's three fan-out cases (dbccore/dbccore.py:921-1087):
    nsp × obj cartesian, obj only, nsp only; ``(text, [])`` without
    generators. A row's non-empty field 0 is its maintenance command. In the
    cartesian case BOTH run, the nsp row's first, then the obj row's with
    GEN_NSP placeholders applied to it."""
    if obj_rows is not None and nsp_rows is not None:
        for nrow in nsp_rows:
            for orow in obj_rows:
                sql = apply_gen_placeholders(text, nrow, "GEN_NSP")
                maints = _maint(nrow) + [
                    apply_gen_placeholders(m, nrow, "GEN_NSP") for m in _maint(orow)
                ]
                yield apply_gen_placeholders(sql, orow, "GEN_OBJ"), maints
    elif obj_rows is not None:
        for orow in obj_rows:
            yield apply_gen_placeholders(text, orow, "GEN_OBJ"), _maint(orow)
    elif nsp_rows is not None:
        for nrow in nsp_rows:
            yield apply_gen_placeholders(text, nrow, "GEN_NSP"), _maint(nrow)
    else:
        yield text, []


def _maint(row: tuple) -> list[str]:
    return [str(row[0])] if row and row[0] else []


def parse_packet(
    packet_dir: str | Path, placeholders: dict[str, str] | None = None
) -> Packet:
    """Scan + classify the packet directory, apply CLI placeholders, and md5
    the whole packet for the change guard (reference: dbccore/dbccore.py:
    280-345, hash guard :449-463)."""
    path = Path(packet_dir)
    if not path.is_dir():
        raise FileNotFoundError(f"packet dir not found: {path}")
    pkt = Packet(name=path.name, path=path)
    digest = hashlib.md5()

    meta_file = path / "meta_data.json"
    if meta_file.exists():
        raw = meta_file.read_text()
        pkt.meta = json.loads(raw)
        digest.update(raw.encode())

    for f in sorted(path.iterdir()):
        if not f.is_file() or f.name == "meta_data.json":
            continue
        text = f.read_text()
        digest.update(f.name.encode())
        digest.update(text.encode())
        text = apply_placeholders(text, placeholders)
        if f.name == "run_once.sql":
            pkt.run_once = Step("", f.name, text, "sql")
            continue
        m = _GEN_OBJ_RE.match(f.name)
        if m:
            pkt.gen_obj[m.group(1)] = text
            continue
        m = _GEN_NSP_RE.match(f.name)
        if m:
            pkt.gen_nsp[m.group(1)] = text
            continue
        m = _STEP_RE.match(f.name)
        if m:
            pkt.steps.append(Step(m.group(1), f.name, text, m.group(3)))
    pkt.steps.sort(key=lambda s: (s.index, s.name))
    pkt.packet_hash = digest.hexdigest()
    return pkt
