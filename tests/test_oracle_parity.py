"""Every registered query with an oracle must match DuckDB bit-for-bit at
sf0.001 — the same check ``__spark_entry__``'s contract runs at sf0.01,
and must leave the session's temporary views as it found them."""

from __future__ import annotations

import pytest

from db_converter_spark.catalog import register_views
from db_converter_spark.registry import all_queries
from tests.conftest import SF_DIR, assert_oracle_match

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, duck):
    spec = _QUERIES[name]
    register_views(spark, SF_DIR)  # base tables are shared session state
    views_before = _temp_views(spark)
    df = spec.builder(spark, SF_DIR)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver's weak path
    else:
        assert_oracle_match(df, duck, spec.oracle, name)
    assert _temp_views(spark) == views_before, f"{name} left temp views behind"


def _temp_views(spark) -> set[str]:
    # SHOW VIEWS answers on the driver; Catalog.listTables runs Spark jobs
    return {r.viewName for r in spark.sql("SHOW VIEWS").collect() if r.isTemporary}


def test_dd10_concurrent_runs_keep_their_own_intermediates(spark, duck, tmp_path):
    """Two dd10 runs at the same moment — one on the fixture corpus, one on
    a copy whose documents table is a strict subset — each equal their own
    oracle. Each thread gets its own ``newSession()`` (the runner's
    per-target model), since base-table views are session state; the
    builder's intermediates travel as DataFrame arguments, never as views
    another run could overwrite."""
    import shutil
    import threading

    import duckdb

    from db_converter_spark.catalog import TABLES
    from tests.conftest import _rows

    sub = tmp_path / "subset"
    sub.mkdir()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", sub / f"{t}.parquet")
    con.execute(
        f"COPY (SELECT * FROM documents WHERE doc_id % 3 <> 0) TO '{sub}/documents.parquet'"
        " (FORMAT PARQUET)"
    )
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sub}/{t}.parquet')"
        )
    spec = _QUERIES["dd10_lsh_jaccard_verify"]
    expected = {
        SF_DIR: _rows(duck.execute(spec.oracle).df()),
        str(sub): _rows(con.execute(spec.oracle).df()),
    }
    con.close()
    assert expected[SF_DIR] != expected[str(sub)], "subset must change the result"

    barrier = threading.Barrier(len(expected), timeout=120)
    got: dict = {}

    def run(sf_dir: str) -> None:
        session = spark.newSession()
        barrier.wait()
        try:
            got[sf_dir] = _rows(spec.builder(session, sf_dir).toPandas())
        except Exception as e:  # surfaced by the assertion below
            got[sf_dir] = e

    threads = [threading.Thread(target=run, args=(d,)) for d in expected]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=900)
    assert not any(th.is_alive() for th in threads), "dd10 run did not finish"
    assert got == expected
