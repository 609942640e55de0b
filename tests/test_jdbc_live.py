"""LIVE JDBC end-to-end — activated when a JDBC driver jar exists on the
host (skipped when none is found).

DuckDB publishes a standard JDBC driver (org.duckdb:duckdb_jdbc on Maven
Central); when a copy is present in a local jar cache, this test drives the
REAL `spark.read.jdbc` path through `read_jdbc_chunked`: a DuckDB database
file is the remote, each chunk predicate becomes one partition = one
bounded remote cursor, and the row content round-trips. The reference's
entire runtime is a live DB connection (reference:
psc/postgresql/driver/pq3.py; dbccore/dbccore.py:744 bounds every read by
PK ranges) — this is the Spark spelling of that contract against a real
JDBC server implementation rather than a monkeypatched seam.

Runs in a SUBPROCESS: the shared test session's JVM is already up without
the jar on its classpath, and `spark.jars` only takes effect at JVM launch.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from db_converter_spark.sources.jdbc import find_jdbc_driver_jar

_JAR_CACHE: list = []  # lazy: the rglob must not run at pytest collection time


def _jar() -> "str | None":
    if not _JAR_CACHE:
        _JAR_CACHE.append(find_jdbc_driver_jar())
    return _JAR_CACHE[0]

_CHILD = r"""
import sys
jar, dbfile = sys.argv[1], sys.argv[2]

import duckdb
con = duckdb.connect(dbfile)
con.execute("CREATE TABLE t AS SELECT i AS id, 'name_' || i AS name,"
            " i * 2 AS v FROM range(0, 25) r(i)")
con.close()

from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.jars", jar)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
sys.path.insert(0, ".")
from db_converter_spark.sources.jdbc import read_jdbc_chunked

df = read_jdbc_chunked(
    spark,
    f"jdbc:duckdb:{dbfile}",
    "t",
    "id",
    0,
    24,
    chunk_size=10,
    properties={"driver": "org.duckdb.DuckDBDriver", "duckdb.read_only": "true"},
)
# one partition per bounded predicate range: ceil(25/10) = 3
assert df.rdd.getNumPartitions() == 3, df.rdd.getNumPartitions()
rows = {r["id"]: r for r in df.collect()}
assert len(rows) == 25 and rows[7]["name"] == "name_7" and rows[24]["v"] == 48
# predicate pushdown happens server-side per partition: re-read one chunk
one = read_jdbc_chunked(
    spark, f"jdbc:duckdb:{dbfile}", "t", "id", 10, 19, chunk_size=10,
    properties={"driver": "org.duckdb.DuckDBDriver", "duckdb.read_only": "true"},
)
assert one.count() == 10 and one.rdd.getNumPartitions() == 1

# write leg (the reference's migration direction: bounded INSERT
# transactions over the live connection): round-trip through df.write.jdbc.
# The target table is pre-created (DuckDB's JDBC driver doesn't make a DDL
# from one in-process connection visible to a sibling task connection fast
# enough for Spark's create-then-insert overwrite path), so this exercises
# the append path — the one a live migration actually uses.
wfile = dbfile + ".w"
con = duckdb.connect(wfile)
con.execute("CREATE TABLE t_copy (id BIGINT, name VARCHAR, v BIGINT)")
con.close()
df.coalesce(1).write.jdbc(
    f"jdbc:duckdb:{wfile}", "t_copy", mode="append",
    properties={"driver": "org.duckdb.DuckDBDriver"},
)
spark.stop()
con = duckdb.connect(wfile)
n, s = con.execute("SELECT COUNT(*), SUM(v) FROM t_copy").fetchone()
assert (n, s) == (25, sum(2 * i for i in range(25))), (n, s)
print("JDBC_LIVE_OK")
"""


def test_live_jdbc_chunked_read_roundtrip(tmp_path):
    if _jar() is None:
        pytest.skip("no JDBC driver jar on this host")
    dbfile = tmp_path / "live.duckdb"
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(_jar()), str(dbfile)],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "JDBC_LIVE_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
