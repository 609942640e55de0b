"""Verbatim reference-SQL parity sweep: every SELECT statement in every
reference packet must rewrite through the PG dialect pass and pass Spark
analysis over the emulated pg_catalog/instance views — UNMODIFIED.

This is the "a user of the reference could run every query they run
today" guarantee at the dialect level; the ported packets in packets/
additionally verify execution results. Documented exceptions:

- ``DO $$…$$`` blocks — py-step twins by design (SURVEY §2.10);
- DML/DDL statements — analysis needs the live objects each packet
  creates; execution is covered by the ported packet corpus instead;
- generator-placeholder steps and the 2 files in _EXPECTED_UNANALYZABLE.

``nextval()``/sequence DDL now rewrites cleanly: the runner inlines
sequence calls from ledger-managed counters (plans/sequences.py), so no
statement in the corpus raises UnsupportedConstruct anymore.

HISTORY: until round 3 this sweep validated with ``EXPLAIN`` + exception
catch — but Spark's EXPLAIN renders many analysis errors (unresolved
functions/relations) as plan TEXT without raising, so ~30 statements were
only parse-checked. The sweep now forces REAL analysis (`.columns`), which
surfaced and drove fixes for: ``age()``/``mxid_age()``,
``pg_get_serial_sequence``/WAL-LSN functions, interval-literal coercion in
comparisons, ``to_char(interval)``, sub-second ``date_trunc``,
``public.``/``pg_catalog.``/``dbc.`` qualifiers, ``pg_attribute.
attisdropped``, array-typed ``pg_index.indkey`` and FK-action columns on
``pg_constraint``.
"""

from __future__ import annotations

import glob
import re
from pathlib import Path

import pytest

from db_converter_spark.catalog import create_information_schema_views
from db_converter_spark.functions import register_pg_compat
from db_converter_spark.pg_catalog import (
    create_pg_catalog_views,
    create_pg_instance_views,
)
from db_converter_spark.plans.pgdialect import UnsupportedConstruct, rewrite
from db_converter_spark.plans.sqlsplit import split_statements, statement_kind

REF_GLOB = "/root/reference/packets/*/*.sql"
REF_ROOT = Path(REF_GLOB).parents[2]
# the sweeps below read the reference source tree, which is not shipped
# with this repository
needs_reference = pytest.mark.skipif(
    not REF_ROOT.is_dir(), reason=f"reference source tree {REF_ROOT} not present"
)

# Files whose non-DO statements CANNOT analyze without packet runtime, each
# with the reason; their EXECUTION is covered by the ported corpus
# (tests/test_packet_corpus.py). Everything else must analyze to a PHYSICAL
# plan — EXPLAIN renders many analysis errors as text instead of raising,
# so the sweep re-checks with a real analysis call.
_EXPECTED_UNANALYZABLE = {
    # plpgsql function defined by the packet's own DO block → py-step twin
    "test_dba_clone_schema/02_step.sql": "clone_schema() is packet-defined plpgsql",
    # INTENTIONAL typo — the packet exists to test the error path
    "test_syntax_exception/01_step.sql": "deliberate pg_sleeep() typo",
    # alert_bloat/01 (SRF nested in a select-list expression) analyzes
    # verbatim since r4: pgdialect auto-hoists expression-nested explode()
    # into a LATERAL VIEW (_rw_hoist_nested_srf)
}
# generator placeholders are bound at runtime (apply_gen_placeholders);
# statements carrying them cannot name real objects in a static sweep
_PLACEHOLDER_RE = re.compile(r"GEN_(?:OBJ|NSP)_FLD_\d|DBC_PL_\d")


@pytest.fixture(scope="module")
def pg_env(spark):
    register_pg_compat(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS refparity")
    prev = spark.catalog.currentDatabase()
    spark.catalog.setCurrentDatabase("refparity")
    spark.sql(
        "CREATE TABLE IF NOT EXISTS refparity.probe (id bigint, name string)"
        " USING parquet"
    )
    # the objects the reference packets create in run_once.sql — present so
    # their steps analyze verbatim (execution parity = ported corpus)
    for t in ("test_tbl", "test_tbl_export_1", "test_tbl_export_2"):
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS refparity.{t}"
            " (id int, fld_1 bigint, fld_2 string) USING parquet"
        )
    # the runner's per-target ledger snapshot view (plans/runner.py)
    spark.createDataFrame(
        [],
        "id bigint, name string, status string, dt string,"
        " packet_hash string, meta_data string",
    ).createOrReplaceTempView("dbc_packets")
    create_pg_catalog_views(spark, ["refparity"])
    create_pg_instance_views(spark)
    create_information_schema_views(spark, "refparity")
    yield spark
    spark.catalog.setCurrentDatabase(prev)


def _ref_selects():
    for f in sorted(glob.glob(REF_GLOB)):
        text = open(f, encoding="utf8", errors="replace").read()
        for stmt in split_statements(text):
            s = stmt.strip()
            if not s or re.match(r"^\s*do\b", s, re.I):
                continue
            yield f, s


@needs_reference
def test_reference_selects_analyze_verbatim(pg_env):
    spark = pg_env
    ok, skipped = 0, 0
    failures: list[str] = []
    for f, s in _ref_selects():
        short = "/".join(f.split("/")[-2:])
        try:
            rs = rewrite(s)
        except UnsupportedConstruct:
            failures.append(f"{short}: unexpected UnsupportedConstruct")
            continue
        if statement_kind(rs) != "query":
            continue  # DML/DDL covered by the ported packet corpus
        if short in _EXPECTED_UNANALYZABLE or _PLACEHOLDER_RE.search(s):
            skipped += 1
            continue
        try:
            # real analysis (.columns forces it and RAISES) — EXPLAIN
            # renders many analysis errors (UNRESOLVED_ROUTINE, missing
            # relations) as plan TEXT instead of raising, which silently
            # under-checks the sweep
            spark.sql(rs).columns
            ok += 1
        except Exception as e:  # noqa: BLE001 — collected for the report
            failures.append(f"{short}: {str(e).splitlines()[0][:140]}")
    assert not failures, "\n".join(failures)
    # the corpus is 46 packets; a collapsed glob or reference move should
    # fail loudly rather than silently passing on 0 statements
    assert ok >= 71, f"only {ok} statements analyzed — reference tree moved?"
    # 18 = generator-placeholder query steps (runtime-bound names) + the
    # statements in _EXPECTED_UNANALYZABLE files (alert_bloat/01 moved to
    # the analyzed set in r4 via SRF auto-hoisting)
    assert skipped <= 18, f"{skipped} skipped — expected-skip set grew"
