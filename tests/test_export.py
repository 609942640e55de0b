"""Spark-free tests of ``plans/export.export_queries`` with a stub
writer: file naming, and one CSV (or zip member) per statement even when
an action repeats a statement."""

from __future__ import annotations

import zipfile
from pathlib import Path

import pytest

from db_converter_spark.functions.wzaes import read_aes_zip
from db_converter_spark.plans.export import export_queries

_STATEMENTS = ["SELECT 1", "SELECT 2", "SELECT 1", "SELECT 1"]


def _writer(log: list):
    def write(stmt: str, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(f"{stmt} #{len(log)}\n")
        log.append(path)

    return write


def test_repeated_statement_gets_its_own_file(tmp_path):
    log: list = []
    out = export_queries(_writer(log), "db1", _STATEMENTS, tmp_path)
    assert len(set(out)) == 4
    names = [Path(p).name for p in out]
    first = names[0]
    assert first.startswith("export_") and first.endswith("_db1.csv")
    # first occurrences keep the reference name; repeats are numbered
    assert names[2] == first[: -len(".csv")] + "_2.csv"
    assert names[3] == first[: -len(".csv")] + "_3.csv"
    assert [Path(p).read_text() for p in out] == [
        f"{s} #{k}\n" for k, s in enumerate(_STATEMENTS)
    ]


@pytest.mark.parametrize("password", [None, "pa55word"])
def test_repeated_statement_zips_one_member_each(tmp_path, password):
    log: list = []
    options = {"use_zip": "yes", **({"password": password} if password else {})}
    [zip_path] = export_queries(_writer(log), "db1", _STATEMENTS, tmp_path, export_options=options)
    if password:
        members = read_aes_zip(zip_path, password)
    else:
        with zipfile.ZipFile(zip_path) as zf:
            members = {n: zf.read(n) for n in zf.namelist()}
    assert sorted(members) == sorted(p.name for p in log)
    assert sorted(members.values()) == sorted(
        f"{s} #{k}\n".encode() for k, s in enumerate(_STATEMENTS)
    )
    assert not any(p.exists() for p in log)  # plaintext CSVs are removed
