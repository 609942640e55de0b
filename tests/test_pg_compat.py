"""The PG shims registered as SQL functions answer exactly what their
driver-side Python twins answer, and calling them starts no Python
worker (Catalyst inlines a SQL function's body)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_converter_spark.functions.pg_compat import (
    pg_size_pretty,
    py_pg_size_pretty,
    py_quote_ident,
    quote_ident,
    register_pg_compat,
    register_sql_shims,
)

_KB, _MB, _GB, _TB = 1024, 1024**2, 1024**3, 1024**4

# unit boundaries (10 units switches to the next unit), exact .5 ties on
# both parities (half-even: 2.5 -> 2, 3.5 -> 4), negatives and NULL
_SIZES = [
    None, 0, 1, -1, 10239, 10240, -10239, -10240,
    10 * _MB - 1, 10 * _MB, 10 * _GB - 1, 10 * _GB, 10 * _TB - 1, 10 * _TB,
    int(10.5 * _KB), int(11.5 * _KB), int(12.5 * _KB), -int(12.5 * _KB),
    int(20.5 * _MB), int(21.5 * _MB), int(30.5 * _GB), int(31.5 * _GB),
    int(40.5 * _TB), int(41.5 * _TB), 123456789, 98765432101,
]

_IDENTS = [
    "plain", "snake_case_1", "_lead", "with$dollar", "Upper", "MiXed", "1starts_digit",
    'has"quote', '"quoted"', "has space", "dash-name", "", "ünïcode",
]


@pytest.fixture()
def pg(spark):
    session = spark.newSession()
    register_pg_compat(session)
    # registered with the pg_catalog views
    register_sql_shims(session, "pg_backend_pid", "pg_get_constraintdef")
    return session


def test_pg_size_pretty_sql_function_matches_python_twin(pg):
    df = pg.createDataFrame([(n,) for n in _SIZES], "n bigint")
    rows = df.select(
        "n", F.expr("pg_size_pretty(n)").alias("sql"), pg_size_pretty(F.col("n")).alias("col")
    ).collect()
    for r in rows:
        want = py_pg_size_pretty(r.n)
        assert (r.sql, r.col) == (want, want), r


def test_pg_size_pretty_accepts_numeric_arguments(pg):
    got = pg.sql(
        "SELECT pg_size_pretty(CAST(15360.7 AS DECIMAL(12,1))), pg_size_pretty(10239.9D)"
    ).collect()[0]
    assert tuple(got) == (
        py_pg_size_pretty(15360.7),
        py_pg_size_pretty(10239.9),
    )


def test_quote_ident_sql_function_matches_python_twin(pg):
    df = pg.createDataFrame([(s,) for s in _IDENTS], "s string")
    rows = df.select(
        "s", F.expr("quote_ident(s)").alias("sql"), quote_ident(F.col("s")).alias("col")
    ).collect()
    for r in rows:
        want = py_quote_ident(r.s)
        assert (r.sql, r.col) == (want, want), r
    assert pg.sql("SELECT quote_ident(CAST(NULL AS STRING))").collect()[0][0] is None


def test_constant_shims(pg):
    row = pg.sql(
        "SELECT pg_current_wal_lsn(), pg_last_wal_replay_lsn(),"
        " pg_wal_lsn_diff('0/10', '0/0'), pg_backend_pid(), pg_get_constraintdef(42)"
    ).collect()[0]
    assert tuple(row) == ("0/0", "0/0", 0, -1, None)


def test_shims_plan_without_python(pg):
    """A SQL function's body is inlined into the calling plan: no
    BatchEvalPython / ArrowEvalPython node, so no Python worker starts."""
    df = pg.range(3).selectExpr(
        "quote_ident(CAST(id AS STRING)) AS q", "pg_size_pretty(id * 4096) AS s",
        "pg_backend_pid() AS p", "pg_wal_lsn_diff('a', 'b') AS d",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
