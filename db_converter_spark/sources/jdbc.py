"""JDBC source with chunked-read parity.

The reference bounds every read/write by PK ranges (10 000-row cursor
chunks for export, 10 000-id UPDATE transactions for migration — reference:
dbccore/dbccore.py:744, packets/test_int4_to_int8/02_gen_obj.sql). Spark's
JDBC source expresses the same thing declaratively: a ``predicates`` list
makes one partition (one remote cursor) per range, so a 1000-executor
cluster fans a single PG table scan into bounded parallel range reads.

``read_jdbc_chunked`` is the standard ``spark.read.jdbc`` call shape; it
is tested against DuckDB's JDBC driver when that jar is on the host
(``tests/test_jdbc_live.py``). A packet that runs against a live PostgreSQL
database is a ``pg_targets`` target (``sources/pg_live.py``), not a JDBC
source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def chunk_predicates(lo: int, hi: int, chunk_size: int, key: str) -> list[str]:
    """[lo, hi] inclusive → ["key >= a AND key <= b", ...] covering ranges.

    The last chunk is clamped to ``hi`` so predicates partition the key
    space exactly (no overlap, no gap) — each predicate becomes one Spark
    partition = one bounded remote cursor."""
    if hi < lo:
        return []
    out = []
    a = lo
    while a <= hi:
        b = min(a + chunk_size - 1, hi)
        out.append(f"{key} >= {a} AND {key} <= {b}")
        a = b + 1
    return out


def read_jdbc_chunked(
    spark: SparkSession,
    url: str,
    table: str,
    key: str,
    lo: int,
    hi: int,
    chunk_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Chunked JDBC table read: one partition per key range (the Spark
    spelling of the reference's 10 000-row cursor loop)."""
    return spark.read.jdbc(
        url,
        table,
        predicates=chunk_predicates(lo, hi, chunk_size, key),
        properties=properties or {},
    )


def _is_duckdb_driver_jar(path) -> bool:
    """Vet that a candidate jar really contains the DuckDB JDBC driver
    class before anything puts it on ``spark.jars`` (loading a jar executes
    its code in the JVM — a name glob alone is not enough of a gate)."""
    import zipfile

    try:
        with zipfile.ZipFile(path) as zf:
            return "org/duckdb/DuckDBDriver.class" in zf.namelist()
    except (OSError, zipfile.BadZipFile):
        return False


def find_jdbc_driver_jar() -> "str | None":
    """Locate a usable JDBC driver jar on this host, if any.

    Resolution order (a jar is loaded only after its contents are checked,
    never just because a cache glob found it):

    1. ``$JDBC_DRIVER_JAR`` — an explicit pin always wins; set it to an
       empty string to disable JDBC jar discovery entirely.
    2. Fallback: glob ``duckdb_jdbc*.jar`` under the known local jar-cache
       roots, but only accept a candidate whose archive actually contains
       ``org.duckdb.DuckDBDriver`` (content check, not just a filename).

    Only DuckDB's public JDBC driver (org.duckdb:duckdb_jdbc, Maven
    Central) is looked for: a copy in a local jar cache is enough to
    exercise the real ``spark.read.jdbc`` path end-to-end. Searched lazily
    so importing this module stays filesystem-free."""
    import os
    from pathlib import Path

    pinned = os.environ.get("JDBC_DRIVER_JAR")
    if pinned is not None:
        pinned = pinned.strip()
        if pinned and Path(pinned).is_file() and _is_duckdb_driver_jar(pinned):
            return pinned
        return None  # explicit setting (incl. empty) disables the glob
    roots = (Path.home() / ".cache", Path("/usr/share/java"), Path("/opt/jars"))
    for root in roots:
        if not root.is_dir():
            continue
        try:
            for jar in root.rglob("duckdb_jdbc*.jar"):
                if _is_duckdb_driver_jar(jar):
                    return str(jar)
        except OSError:
            continue
    return None
