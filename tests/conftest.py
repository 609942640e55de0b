"""Shared fixtures: one SparkSession per test run, one DuckDB oracle
connection with the testdata views registered — mirroring the driver's
correctness harness (row-count + schema-shape + order-insensitive values).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pytest

from db_converter_spark.catalog import TABLES
from db_converter_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # fresh warehouse per test session — engine tests CREATE TABLEs, and a
    # cwd-persistent spark-warehouse would collide across runs
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = build_session(
        app_name="dbc-spark-tests",
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


@pytest.fixture(autouse=True)
def no_running_streams(request):
    """Fail any test that leaves a streaming query running: it would keep
    taking CPU from every later test. The leaked queries are stopped."""
    yield
    if "spark" not in request.fixturenames:
        return
    active = request.getfixturevalue("spark").streams.active
    for q in active:
        q.stop()
    assert not active, f"streaming queries left running: {[q.name or q.id for q in active]}"


@pytest.fixture
def restore_views(spark):
    """For modules whose tests synthesize tiny `orders`/`lineitem`/
    `events`/`documents` temp views: restore the real ones THROUGH the
    memo (register_views memoizes on the session, so a bare dropTempView
    leaves later tests reading nothing)."""
    yield
    from db_converter_spark.catalog import register_views

    spark._dbc_registered_sf = None
    register_views(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for engine-agnostic comparison (mirrors a value-hash:
    exact on ints/strings/dates; floats compared by repr of float64)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def _rows(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = []
    for row in pdf.itertuples(index=False):
        out.append(tuple(_norm(v) for v in row))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return list(pdf.columns), out


def assert_oracle_match(spark_df, duck_con, oracle_sql: str, name: str = "?"):
    scols, srows = _rows(spark_df.toPandas())
    ocols, orows = _rows(duck_con.execute(oracle_sql).df())
    assert [c.lower() for c in scols] == [c.lower() for c in ocols], (
        f"{name}: column mismatch {scols} vs {ocols}"
    )
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[:3]}"
