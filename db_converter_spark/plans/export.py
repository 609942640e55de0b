"""CSV export — the reference's ``export_data`` path
(reference: dbccore/dbccore.py:724-829).

Semantics kept from the reference:

- every statement must be a plain SELECT-like query (reference validates via
  sqlparse token scan, dbccore/dbccore.py:728-738) — anything else raises;
- all statements of one action share one snapshot: on Spark each
  parquet/Delta read is snapshot-consistent per query; for stronger
  multi-statement consistency the caller can pin table versions (SURVEY
  §3.3);
- rows stream to the driver in chunks (reference: 10 000-row cursor reads,
  dbccore/dbccore.py:744,765-768 → ``df.toLocalIterator()``, which pulls one
  partition at a time — bounded driver memory at any scale);
- tab-delimited, QUOTE_ALL, values stringified with Python ``str()``
  (reference: dbccore/dbccore.py:759-768);
- file naming ``export_<md5(stm)[:6]>_<ts>_<db>.csv`` (reference:
  dbccore/dbccore.py:752-756); a name already taken in the same action
  (a repeated statement) gets ``_2``, ``_3``, … before ``.csv``;
- optional zip of all CSVs (reference: dbccore/dbccore.py:781-826): LZMA
  without a password; with one, encrypted by the WinZip AE-2 writer in
  ``functions/wzaes.py`` (AES-256 from the ``cryptography`` package).
  Plaintext CSVs are deleted after zipping (reference:
  dbccore/dbccore.py:818-819).

:func:`export_statements` runs the queries on Spark; :func:`export_queries`
takes any ``write(stmt, path)`` callable, which is how a live-PostgreSQL
target exports its captures (sources/pg_live.py).
"""

from __future__ import annotations

import csv
import hashlib
import lzma
import secrets
import string
import time
import zipfile
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from db_converter_spark.plans.formatter import ANON_COLUMN
from db_converter_spark.plans.sqlsplit import statement_kind


class ExportValidationError(Exception):
    """Non-SELECT statement inside an export packet (reference:
    dbccore/dbccore.py:728-738)."""


def generate_password(length: int = 12) -> str:
    """Random zip password (reference: generate_password,
    dbccore/dbccore.py:708-715)."""
    alphabet = string.ascii_letters + string.digits
    return "".join(secrets.choice(alphabet) for _ in range(length))


def _export_name(stmt: str, db: str, ts: str | None = None) -> str:
    h = hashlib.md5(stmt.encode()).hexdigest()[:6]
    ts = ts or time.strftime("%Y%m%d_%H%M%S")
    return f"export_{h}_{ts}_{db}.csv"


def write_csv(df: DataFrame, out_path: Path) -> int:
    """Stream a DataFrame to one CSV via ``toLocalIterator``
    (partition-at-a-time; bounded driver memory). Returns the row count."""
    return write_rows(df.columns, df.toLocalIterator(), out_path)


def write_rows(columns: list[str], rows: Iterable, out_path: Path) -> int:
    """Write a header and rows as one tab-delimited QUOTE_ALL CSV; NULL is
    the empty field. Returns the row count."""
    out_path.parent.mkdir(parents=True, exist_ok=True)
    n = 0
    with out_path.open("w", newline="") as fh:
        w = csv.writer(fh, delimiter="\t", quoting=csv.QUOTE_ALL)
        w.writerow([c if c else ANON_COLUMN for c in columns])
        for row in rows:
            w.writerow(["" if v is None else str(v) for v in row])
            n += 1
    return n


def export_statements(
    session: SparkSession,
    db: str,
    statements: list[str],
    out_dir: str | Path,
    zip_output: bool = False,
    zip_password: str | None = None,
    export_options: dict | None = None,
) -> list[str]:
    """Run each SELECT statement on Spark and write one CSV per statement;
    see :func:`export_queries` for zipping and the result."""
    return export_queries(
        lambda stmt, path: write_csv(session.sql(stmt), path),
        db, statements, out_dir, zip_output, zip_password, export_options,
    )


def export_queries(
    write: Callable[[str, Path], object],
    db: str,
    statements: list[str],
    out_dir: str | Path,
    zip_output: bool = False,
    zip_password: str | None = None,
    export_options: dict | None = None,
) -> list[str]:
    """``write(stmt, path)`` one CSV per SELECT statement; optionally zip
    them all into one archive per call (one per action in a packet run).

    ``export_options`` is the packet's ``meta_data.json`` block (reference
    format): ``{"use_zip": "yes", "password": "random" | "<literal>"}``.
    A random password is embedded in the zip file name
    (``export_<password>_<ts>_<db>.zip``) exactly as the reference does
    (dbccore/dbccore.py:787-794), so operators can recover it.

    Returns the list of produced file paths (the zip replaces the CSVs when
    zipping, matching the reference's delete-after-zip)."""
    out_dir = Path(out_dir)
    pw_in_name = False
    if export_options:
        if str(export_options.get("use_zip", "")).lower() in ("yes", "true", "1"):
            zip_output = True
        pw = export_options.get("password")
        if pw == "random":
            zip_password = generate_password()
            pw_in_name = True
        elif pw:
            zip_password = str(pw)
    for stmt in statements:
        if statement_kind(stmt) != "query":
            raise ExportValidationError(
                f"export packets accept only SELECT statements, got: {stmt[:80]}"
            )
    files: list[Path] = []
    ts = time.strftime("%Y%m%d_%H%M%S")
    for stmt in statements:
        name = _export_name(stmt, db, ts)
        path, n = out_dir / name, 1
        while path in files:  # a repeated statement must not overwrite its twin
            n += 1
            path = out_dir / f"{name[:-4]}_{n}.csv"
        write(stmt, path)
        files.append(path)
    if not zip_output:
        return [str(f) for f in files]
    zip_name = f"export_{zip_password}_{ts}_{db}.zip" if pw_in_name else f"export_{ts}_{db}.zip"
    zip_path = out_dir / zip_name
    _zip_files(files, zip_path, zip_password)
    for f in files:
        f.unlink()
    return [str(zip_path)]


def _zip_files(files: list[Path], zip_path: Path, password: str | None) -> None:
    """Zip the exports (reference: dbccore/dbccore.py:781-826). With a
    password: the WinZip AE-2 writer (functions/wzaes.py — AES-256 CTR
    from the ``cryptography`` package, HMAC-SHA1 per the public spec,
    DEFLATE inside). Without a password: plain LZMA zip."""
    if password is not None:
        from db_converter_spark.functions.wzaes import write_aes_zip

        write_aes_zip(zip_path, [(f.name, f.read_bytes()) for f in files], password)
        return
    with zipfile.ZipFile(zip_path, "w", compression=zipfile.ZIP_LZMA) as zf:
        for f in files:
            zf.write(f, f.name)


# lzma import is part of the public surface: stdlib zipfile's ZIP_LZMA needs
# the module present; importing it here fails fast on exotic builds.
_ = lzma
