"""PG→Spark dialect rewriter tests.

The strongest checks run the ORIGINAL PostgreSQL text on DuckDB (whose
dialect is PG-compatible) and the REWRITTEN text on Spark, asserting equal
results — the same shape as the driver's oracle harness.
"""

from __future__ import annotations

import pytest

from db_converter_spark.plans.pgdialect import UnsupportedConstruct, rewrite
from db_converter_spark.plans.runner import PacketRunner
from db_converter_spark.plans.model import ResultCode

# ------------------------------------------------------------- unit rewrites


@pytest.mark.parametrize(
    ("pg", "spark_sql"),
    [
        ("select x::int8 from t", "select CAST(x AS bigint) from t"),
        ("select x::numeric", "select CAST(x AS decimal(38,18))"),
        ("select x::numeric(10,2)", "select CAST(x AS decimal(10,2))"),
        ("select (a + b)::text", "select CAST((a + b) AS string)"),
        ("select f(a)::int4", "select CAST(f(a) AS int)"),
        ("select x::int::text", "select CAST(CAST(x AS int) AS string)"),
        ("select '15 days'::interval", "select INTERVAL '15 days'"),
        ("select '{a,b}'::text[]", "select array('a', 'b')"),
        ("select '{1,2}'::int4[]", "select array(1, 2)"),
        (
            "select generate_series(1, 10, 2) as g",
            "select explode(sequence(1, 10, 2)) as g",
        ),
        ("select unnest(arr) from t", "select explode(arr) from t"),
        (
            "select regexp_split_to_table(s, ',') from t",
            "select explode(split(s, ',')) from t",
        ),
        (
            "select array_to_string(a, ',') from t",
            "select array_join(a, ',') from t",
        ),
        (
            "select array_agg(distinct x) from t",
            "select array_sort(collect_set(x)) from t",
        ),
        ("select array_agg(x) from t", "select collect_list(x) from t"),
        (
            "select string_agg(x, ';') from t",
            "select array_join(collect_list(x), ';') from t",
        ),
        (
            "select substring(s from 2 for 3)",
            "select substr(s, 2, 3)",
        ),
        (
            # PG plain-literal backslash is literal; Spark escapes → doubled
            "select substring(s from '\\d+')",
            "select regexp_extract(s, '\\\\d+', 0)",
        ),
        ("select a ~ 'x' from t", "select a RLIKE 'x' from t"),
        ("select a !~ '^pg_' from t", "select NOT (a RLIKE '^pg_') from t"),
        ("select a ~* 'x' from t", "select a RLIKE '(?i)x' from t"),
        ("select 2^31", "select power(2, 31)"),
        ("where a.attnum = any(i.indkey)", "where array_contains(i.indkey, a.attnum)"),
        ("a is not distinct from b", "a <=> b"),
        ("select now()", "select current_timestamp()"),
        (
            "select row_number() over () as id",
            "select row_number() OVER (ORDER BY monotonically_increasing_id()) as id",
        ),
        # strings are protected — no rewriting inside literals
        ("select 'a::b ~ now()'", "select 'a::b ~ now()'"),
        ("select x -- c::text\nfrom t", "select x -- c::text\nfrom t"),
        # dollar bodies are protected whatever their tag
        ("select $fn1$ a::int $fn1$ as x", "select $fn1$ a::int $fn1$ as x"),
        # the E of a keyword before a literal is no E'…' prefix
        ("select case when a then 'x' ELSE'y' end", "select case when a then 'x' ELSE'y' end"),
        # standard CAST maps PG type names like `::` does
        *(
            (f"select CAST('1' AS {pg})", f"select CAST('1' AS {spark})")
            for pg, spark in [
                ("text", "string"), ("int8", "bigint"), ("int4", "int"),
                ("int2", "smallint"), ("float8", "double"), ("float4", "float"),
                ("bool", "boolean"), ("timestamptz", "timestamp"),
                ("varchar", "string"), ("bpchar", "string"), ("bytea", "binary"),
                ("jsonb", "string"), ("uuid", "string"),
                ("double precision", "double"), ("character varying", "string"),
                ("character varying(10)", "string"), ("character(3)", "string"),
                ("timestamp with time zone", "timestamp"),
            ]
        ),
        ("select CAST('1.5' AS numeric)", "select CAST('1.5' AS decimal(38,18))"),
        ("select CAST(CAST(x AS int8) AS text)", "select CAST(CAST(x AS bigint) AS string)"),
        ("select 'a'::character varying", "select CAST('a' AS string)"),
        # a type Spark already reads is left as written
        ("select CAST(x AS INT), CAST(y AS decimal(10, 2))", "select CAST(x AS INT), CAST(y AS decimal(10, 2))"),
    ],
)
def test_rewrite_unit(pg, spark_sql):
    assert rewrite(pg) == spark_sql


def test_rewrite_create_table_types():
    out = rewrite(
        "CREATE TABLE t (id serial, a int4, b text, c timestamptz, d numeric)"
    )
    assert "bigint" in out and "string" in out
    assert "serial" not in out and "int4" not in out and "text" not in out.lower().replace("string", "")
    assert rewrite(
        "CREATE TABLE t (a character varying(10), b character(3), c double precision,"
        " d timestamp with time zone, e varchar, f numeric(10,2), text text)"
    ) == (
        "CREATE TABLE t (a varchar(10), b char(3), c double, d timestamp, e string,"
        " f decimal(10,2), text string)"
    )


def test_current_setting_folding():
    assert rewrite("select current_setting('tz')", {"tz": "UTC"}) == "select 'UTC'"
    assert "NULL" in rewrite("select current_setting('nope')")


def test_do_block_raises():
    with pytest.raises(UnsupportedConstruct, match="py"):
        rewrite("DO $$ begin null; end $$")


def test_public_schema_qualifier_dropped():
    # PG default schema → Spark current database
    assert rewrite("select * from public.test_tbl") == "select * from test_tbl"
    assert rewrite("update public.t set a = 1") == "update t set a = 1"
    # string literals untouched
    assert "'public'" in rewrite("select 1 where nspname = 'public'")
    # qualified non-public names untouched
    assert "other.t" in rewrite("select * from other.t")


def test_nextval_passes_through():
    # sequence calls survive the rewrite untouched; the RUNNER inlines them
    # from the ledger counters (plans/sequences.py)
    assert "nextval('seq')" in rewrite("select nextval('seq')")


# -------------------------------------------- cross-engine (DuckDB vs Spark)

_CROSS_ENGINE = {
    # the canonical chunk-grid generator shape (reference:
    # packets/test_int4_to_int8/02_gen_obj.sql, re-expressed over testdata)
    "chunk_grid": """
with grid_a as (
  select T.point_a, row_number() over (order by T.point_a) as id
  from generate_series(0, 2500, 500) as T(point_a)
),
grid_b as (
  select T.point_b, row_number() over (order by T.point_b) as id
  from generate_series(499, 2999, 500) as T(point_b)
)
select A.point_a as a, B.point_b as b
from grid_a A join grid_b B on A.id = B.id
order by 1
""",
    "casts_and_concat": """
select (v % 3)::text as k,
       count(1)::int8 as n,
       max('text_' || v) as mx
from generate_series(1, 100) as T(v)
group by 1
order by 1
""",
    "string_and_regex": """
select string_agg(s, ';' order by s) as joined
from (
  select s from (select 'alpha' as s union all select 'pg_toast'
                 union all select 'beta') T
  where s !~ '^pg_.*'
) T
""",
    "string_agg_desc": """
select string_agg(s, ',' order by s desc) as joined
from (select 'a' as s union all select 'c' union all select 'b') T
""",
    "substr_forms": """
select substring('abcdef' from 2 for 3) as mid,
       substring('abcdef' from 4) as tail4
""",
}


def test_substring_regex_form(spark):
    # DuckDB lacks PG's substring(x from 'regex'); check Spark side directly
    out = spark.sql(rewrite("select substring('id=42x' from '\\d+') as num")).collect()
    assert out[0][0] == "42"


@pytest.mark.parametrize("name", sorted(_CROSS_ENGINE))
def test_cross_engine(name, spark, duck):
    pg_sql = _CROSS_ENGINE[name]
    spark_rows = [tuple(r) for r in spark.sql(rewrite(pg_sql)).collect()]
    duck_rows = [tuple(r) for r in duck.execute(pg_sql).fetchall()]
    assert spark_rows == duck_rows, f"{name}: {spark_rows[:3]} vs {duck_rows[:3]}"


# ------------------------------------------------- packet-level integration


def test_pg_dialect_packet(spark, tmp_path):
    """A reference-style PG packet (casts, generate_series, serial DDL) runs
    unmodified under dialect=postgres."""
    pdir = tmp_path / "pg_pkt"
    pdir.mkdir()
    (pdir / "run_once.sql").write_text(
        "CREATE TABLE pgd_t (id int8, fld text);\n"
        "INSERT INTO pgd_t SELECT T.v::int8, 'text_' || T.v"
        " from (SELECT generate_series(1, 50) as v) T;"
    )
    (pdir / "01_step.sql").write_text(
        "select count(1)::int8 as n, max(fld) as mx from pgd_t where id::int4 % 2 = 0"
    )
    (pdir / "meta_data.json").write_text('{"dialect": "postgres"}')
    runner = PacketRunner(spark, tmp_path / "wh")
    res = runner.run(pdir, dbs=["pgd_db"])
    assert res.result_code["pgd_db"] == ResultCode.SUCCESS
    table = res.result_data["pgd_db"]["01_step.sql"][0]
    assert table[0] == ["n", "mx"]
    assert table[1] == [25, "text_8"]  # lexicographic max of 'text_N'


def test_format_function(spark):
    """PG format(): %s/%I/%L/%% compiled onto format_string (+quote_ident /
    literal-quoting wrappers) — reference: dba_idx_diag/06_step.sql,
    alert_max_connections/01_step.sql."""
    from db_converter_spark.functions import register_pg_compat
    from db_converter_spark.plans.pgdialect import rewrite

    register_pg_compat(spark)
    r = spark.sql(
        rewrite("select format('Low: %s (%s)', 17, 88 || '%') as r")
    ).collect()[0]["r"]
    assert r == "Low: 17 (88%)"
    r = spark.sql(
        rewrite("select format('CREATE INDEX ON %I.%I (%I)', 'public', 'my table', 'id') as r")
    ).collect()[0]["r"]
    assert r == 'CREATE INDEX ON public."my table" (id)'
    r = spark.sql(
        rewrite("select format('v = %L, pct 100%%', 'it''s') as r")
    ).collect()[0]["r"]
    assert r == "v = 'it''s', pct 100%"
    r = spark.sql(
        rewrite("select format('null: %L', cast(null as string)) as r")
    ).collect()[0]["r"]
    assert r == "null: NULL"
    # dynamic format string degrades to plain format_string (%s only)
    assert "format_string(dyn" in rewrite("select format(dyn, a)")


# --------------------------------------------- interval-literal rewrite scope


@pytest.mark.parametrize(
    ("pg", "expect"),
    [
        # ordering comparisons against duration-shaped literals → INTERVAL
        ("select x > '15 days'", "select x > INTERVAL '15' DAY"),
        (
            "select x >= '00:00:00.000001'",
            "select x >= INTERVAL '00:00:00.000001' HOUR TO SECOND",
        ),
        # equality is NOT rewritten (plausible plain-string compare)
        ("select col = '12:30:00' from t", "select col = '12:30:00' from t"),
        # text inside comments / other strings untouched (post-protect rewrite)
        (
            "select x -- was > '15 days'\nfrom t",
            "select x -- was > '15 days'\nfrom t",
        ),
        (
            "select 'op > ''15 days'' inside' as s",
            "select 'op > ''15 days'' inside' as s",
        ),
    ],
)
def test_interval_cmp_literal_scope(pg, expect):
    assert rewrite(pg) == expect


# -------------------------------------------------------- SRF auto-hoist


@pytest.mark.parametrize(
    ("pg", "expect"),
    [
        # SRF nested in a cast → LATERAL VIEW + column ref
        (
            "select a, unnest(x)::int as v from t where a > 1",
            "select a, CAST(__srf_c0 AS int) as v from t "
            " LATERAL VIEW explode(x) __srf_v0 AS __srf_c0 where a > 1",
        ),
        # top-level SRF untouched
        ("select unnest(x) as v from t", "select explode(x) as v from t"),
        # nested inside an outer function call
        (
            "select coalesce(unnest(x), 0) from t",
            "select coalesce(__srf_c0, 0) from t "
            " LATERAL VIEW explode(x) __srf_v0 AS __srf_c0 ",
        ),
    ],
)
def test_srf_hoist(pg, expect):
    assert rewrite(pg).split() == expect.split()


def test_srf_hoist_alert_bloat_shape():
    """The real reference shape (packets/alert_bloat/01_step.sql:9)."""
    out = rewrite(
        "select nspname, regexp_split_to_table(indkey::text, ' ')::smallint"
        " AS attnum from pg_index i join pg_class c on i.indexrelid = c.oid"
        " where c.relkind = 'i'"
    )
    assert "CAST(__srf_c0 AS smallint) AS attnum" in out
    assert (
        "LATERAL VIEW explode(split(CAST(indkey AS string), ' '))"
        " __srf_v0 AS __srf_c0" in out
    )
    # the lateral view attaches after the joins, before WHERE
    assert out.index("LATERAL VIEW") < out.index("where c.relkind")


@pytest.mark.parametrize(
    ("pg", "expect"),
    [
        # two nested SRFs in one select list → two lateral views
        (
            "select unnest(a)::int as x, unnest(b)::int as y from t",
            "select CAST(__srf_c0 AS int) as x, CAST(__srf_c1 AS int) as y"
            " from t LATERAL VIEW explode(a) __srf_v0 AS __srf_c0"
            " LATERAL VIEW explode(b) __srf_v1 AS __srf_c1",
        ),
        # lateral view lands BEFORE group by
        (
            "select k, sum(unnest(v)::int) as s from t group by k",
            "select k, sum(CAST(__srf_c0 AS int)) as s from t"
            " LATERAL VIEW explode(v) __srf_v0 AS __srf_c0 group by k",
        ),
        # no FROM clause → nothing to attach, left as-is
        ("select 1 + unnest(x) as v", "select 1 + explode(x) as v"),
    ],
)
def test_srf_hoist_edges(pg, expect):
    assert rewrite(pg).split() == expect.split()


def test_srf_hoist_executes(spark):
    """The hoisted statement must RUN with PG's implicit-lateral semantics,
    not merely analyze."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW srf_t AS"
        " SELECT * FROM VALUES (1, '2 3'), (2, '40') AS t(k, s)"
    )
    out = spark.sql(
        rewrite("select k, regexp_split_to_table(s, ' ')::int * 10 as v from srf_t")
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, 20), (1, 30), (2, 400)]


# ----------------------------------------------------------- DISTINCT ON


def test_distinct_on_against_duckdb(spark):
    """PG's DISTINCT ON, cross-checked: DuckDB supports the construct
    natively, so run the ORIGINAL text there and the rewrite on Spark."""
    import duckdb

    rows = [(1, 10, "x"), (1, 20, "y"), (2, 5, "z"), (2, 9, "w"), (3, 1, "q")]
    spark.createDataFrame(rows, "k INT, ts INT, v STRING").createOrReplaceTempView("don_t")
    con = duckdb.connect()
    con.execute("CREATE TABLE don_t(k INT, ts INT, v VARCHAR)")
    con.executemany("INSERT INTO don_t VALUES (?, ?, ?)", rows)
    for sql in [
        "select distinct on (k) k, v from don_t order by k, ts desc",
        "select distinct on (k) k, ts, v from don_t where ts > 1 order by k, ts",
        "select distinct on (k) v from don_t order by k, ts desc limit 2",
    ]:
        got = [tuple(r) for r in spark.sql(rewrite(sql)).collect()]
        want = con.execute(sql).fetchall()
        assert got == want, (sql, got, want)


def test_distinct_on_qualified_refs(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW don_q AS SELECT * FROM VALUES"
        " (1, 10, 'x'), (1, 20, 'y') AS t(k, ts, v)"
    )
    out = spark.sql(
        rewrite("select distinct on (don_q.k) don_q.k, don_q.v from don_q"
                " order by don_q.k, don_q.ts desc")
    ).collect()
    assert [tuple(r) for r in out] == [(1, "y")]


def test_distinct_on_group_by_unsupported():
    with pytest.raises(UnsupportedConstruct):
        rewrite("select distinct on (k) k from t group by k")


# ----------------------------------------------------------- SELECT INTO


@pytest.mark.parametrize(
    ("pg", "expect"),
    [
        (
            "select a, b into newtbl from src where a > 1",
            "CREATE TABLE newtbl AS select a, b from src where a > 1",
        ),
        ("SELECT x INTO TEMP tmp_t FROM y", "CREATE TABLE tmp_t AS SELECT x FROM y"),
        # subquery INTO-free select, INSERT INTO: untouched
        ("select a from t where b in (select c from u)",
         "select a from t where b in (select c from u)"),
        ("insert into t select * from u", "insert into t select * from u"),
    ],
)
def test_select_into(pg, expect):
    assert rewrite(pg) == expect


def test_select_into_executes(spark):
    spark.sql("CREATE OR REPLACE TEMP VIEW si_src AS SELECT 1 AS a, 2 AS b")
    spark.sql("DROP TABLE IF EXISTS si_new")
    spark.sql(rewrite("select a, b into si_new from si_src"))
    assert [tuple(r) for r in spark.table("si_new").collect()] == [(1, 2)]
    spark.sql("DROP TABLE si_new")
