"""``sqlsplit.parse_dml`` — the one reader of PG DML text. Every DML shape
the runner, sequence and observed-count tests execute is parsed here field
by field, plus the literal, nesting and comment-head cases that keyword
scanning must survive."""

from __future__ import annotations

import re

import pytest

from db_converter_spark.plans.pgdialect import rewrite
from db_converter_spark.plans.sqlsplit import parse_dml

# (statement, expected fields; fields not named are not checked)
_CASES = {
    "update_where": (
        "update updb.up_t set grp = grp + 1 where id < 10",
        dict(kind="update", table="updb.up_t", alias=None,
             set_map={"grp": "grp + 1"}, predicate="id < 10", returning=None),
    ),
    "update_no_where": (
        "update updb.up_t set no_such_column = 1",
        dict(kind="update", set_map={"no_such_column": "1"}, predicate=None),
    ),
    "update_returning": (
        "UPDATE r2 SET v = v + 5 WHERE k <= 2 RETURNING k, v",
        dict(kind="update", table="r2", set_map={"v": "v + 5"}, predicate="k <= 2",
             returning="k, v", statement="UPDATE r2 SET v = v + 5 WHERE k <= 2"),
    ),
    "update_nextval": (
        "UPDATE unx SET sid = nextval('unx_seq') WHERE k <= 5",
        dict(kind="update", set_map={"sid": "nextval('unx_seq')"}, predicate="k <= 5"),
    ),
    "update_from_table_condition": (
        "update rngdb.rt t set band = s.band_id from rngdb.rs s"
        " where t.k >= s.lo and t.k < s.hi",
        dict(kind="update-from", table="rngdb.rt", alias="t",
             source="SELECT * FROM rngdb.rs", source_alias="s",
             set_map={"band": "s.band_id"}, predicate="t.k >= s.lo and t.k < s.hi"),
    ),
    "update_from_equi": (
        "UPDATE cnt_t t SET v = s.w FROM cnt_s s WHERE t.k = s.k",
        dict(kind="update-from", table="cnt_t", alias="t", source_alias="s",
             predicate="t.k = s.k"),
    ),
    "update_from_subquery_tx_comments": (
        "-- tx start\nUPDATE mig_tbl a SET id_new = t.id\n"
        "FROM ( select s.id from mig_tbl s where s.id >= 1 and s.id <= 10 ) AS t\n"
        "WHERE a.id = t.id;",
        dict(kind="update-from", table="mig_tbl", alias="a",
             source=" select s.id from mig_tbl s where s.id >= 1 and s.id <= 10 ",
             source_alias="t", set_map={"id_new": "t.id"}, predicate="a.id = t.id"),
    ),
    "update_from_alias_defaults_to_table": (
        "UPDATE ufx SET c = nextval('ufx_seq') FROM (SELECT 1 AS k) s WHERE ufx.k = s.k",
        dict(kind="update-from", table="ufx", alias="ufx", source="SELECT 1 AS k",
             source_alias="s"),
    ),
    "delete_where": (
        "delete from updb.up_t where id < 5",
        dict(kind="delete", table="updb.up_t", predicate="id < 5", source=None),
    ),
    "delete_constant_true": (
        "DELETE FROM cnt_t WHERE 1 = 1",
        dict(kind="delete", predicate="1 = 1"),
    ),
    "delete_all": ("DELETE FROM cnt_t", dict(kind="delete", predicate=None)),
    "delete_returning_star": (
        "DELETE FROM r3 WHERE k = 2 RETURNING *",
        dict(kind="delete", predicate="k = 2", returning="*"),
    ),
    "delete_using_returning": (
        "DELETE FROM du_t USING du_s WHERE du_t.k = du_s.k RETURNING du_t.k",
        dict(kind="delete-using", table="du_t", alias="du_t", source="SELECT * FROM du_s",
             source_alias="du_s", predicate="du_t.k = du_s.k", returning="du_t.k"),
    ),
    "delete_using_subquery_aliases": (
        "DELETE FROM du_t a USING (SELECT 7 AS kk) b WHERE a.k = b.kk",
        dict(kind="delete-using", alias="a", source="SELECT 7 AS kk", source_alias="b",
             predicate="a.k = b.kk"),
    ),
    "insert_values_no_columns": (
        "insert into maint_t values ('x', 1)",
        dict(kind="insert", table="maint_t", columns=None, source="values ('x', 1)"),
    ),
    "insert_columns_returning": (
        "INSERT INTO r1(name) VALUES ('a'), ('b') RETURNING id, name",
        dict(kind="insert", table="r1", columns=("name",),
             source="VALUES ('a'), ('b')", returning="id, name"),
    ),
    "insert_select": (
        "INSERT INTO dtbl(name) SELECT concat('n_', v) FROM (SELECT explode(sequence(1, 5)) AS v)",
        dict(kind="insert", columns=("name",),
             source="SELECT concat('n_', v) FROM (SELECT explode(sequence(1, 5)) AS v)"),
    ),
    "insert_parenthesized_query_is_not_a_column_list": (
        "insert into t (select a from u)",
        dict(kind="insert", columns=None, source="(select a from u)"),
    ),
    "insert_default_values": (
        "INSERT INTO dv DEFAULT VALUES RETURNING id, name",
        dict(kind="insert", table="dv", source=None, returning="id, name"),
    ),
    "insert_literal_returning_untouched": (
        "INSERT INTO r5 VALUES ('no returning here')",
        dict(kind="insert", source="VALUES ('no returning here')", returning=None),
    ),
    "upsert_do_nothing": (
        "INSERT INTO cnt_t(k, v) VALUES (1, 0), (7, 70) ON CONFLICT (k) DO NOTHING",
        dict(kind="upsert", columns=("k", "v"), source="VALUES (1, 0), (7, 70)",
             conflict_keys=("k",), set_map=None, predicate=None),
    ),
    "upsert_do_update_returning": (
        "INSERT INTO r4(k, v) VALUES (1, 100), (2, 20)"
        " ON CONFLICT (k) DO UPDATE SET v = excluded.v RETURNING k, v",
        dict(kind="upsert", set_map={"v": "excluded.v"}, predicate=None, returning="k, v"),
    ),
    "upsert_do_update_where": (
        "INSERT INTO cnt_t(k, v) VALUES (1, 0) ON CONFLICT (K, `v`)"
        " DO UPDATE SET v = excluded.v WHERE t.v > 10",
        dict(kind="upsert", conflict_keys=("k", "v"), set_map={"v": "excluded.v"},
             predicate="t.v > 10"),
    ),
    # keywords and separators inside literals never split a clause
    "literal_where_comma_eq": (
        "update t set note = 'a where b, c = d', grp = 2 where id = 1",
        dict(kind="update", set_map={"note": "'a where b, c = d'", "grp": "2"},
             predicate="id = 1"),
    ),
    "literal_returning_and_on_conflict": (
        "insert into t(a, b) values (1, 'x returning y, on conflict (a) do nothing')"
        " on conflict (a) do update set b = 'where, =' where t.b <> 'returning'"
        " returning a",
        dict(kind="upsert", source="values (1, 'x returning y, on conflict (a) do nothing')",
             set_map={"b": "'where, ='"}, predicate="t.b <> 'returning'", returning="a"),
    ),
    "literal_from_and_using": (
        "delete from t where note = 'from x using y'",
        dict(kind="delete", predicate="note = 'from x using y'"),
    ),
    # keywords inside parentheses belong to the nested query
    "nested_parentheses": (
        "update t set a = (select max(b) from (select b from u where c = 1) q),"
        " d = coalesce(e, (f))"
        " where id in (select id from v where w = 2) returning a",
        dict(kind="update", predicate="id in (select id from v where w = 2)",
             set_map={"a": "(select max(b) from (select b from u where c = 1) q)",
                      "d": "coalesce(e, (f))"},
             returning="a"),
    ),
    "from_after_where_is_not_update_from": (
        "update t set a = 1 where b is distinct from c",
        dict(kind="update", predicate="b is distinct from c"),
    ),
    "quoted_comma_in_conflict_key": (
        "INSERT INTO t (a, b) VALUES (1, 2) ON CONFLICT (`k,1`, b) DO NOTHING",
        dict(kind="upsert", columns=("a", "b"), conflict_keys=("k,1", "b")),
    ),
    "backtick_identifier_with_quote": (
        "DELETE FROM t WHERE `o'k` = 1 RETURNING *",
        dict(kind="delete", predicate="`o'k` = 1", returning="*"),
    ),
    "comment_heads_and_semicolon": (
        "-- tx start\n/* block */\n  delete from t where id = 1;",
        dict(kind="delete", statement="delete from t where id = 1", predicate="id = 1"),
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_parse_dml(case):
    stmt, want = _CASES[case]
    dml = parse_dml(stmt)
    assert dml is not None
    assert {k: getattr(dml, k) for k in want} == want


@pytest.mark.parametrize(
    ("pg", "want"),
    [
        # E'…' literal: the escaped quote does not end it
        (
            "UPDATE t SET a = E'x\\' where b' WHERE id = 1",
            dict(set_map={"a": "'x\\' where b'"}, predicate="id = 1"),
        ),
        # a quote inside a quoted identifier (backtick-quoted by the rewrite)
        ('UPDATE t SET "it\'s" = 1 WHERE id = 2', dict(set_map={"it's": "1"}, predicate="id = 2")),
        # a comma inside a quoted column name
        ('INSERT INTO t ("a,b", c) VALUES (1, 2)', dict(columns=("a,b", "c"), source="VALUES (1, 2)")),
    ],
)
def test_parse_dml_of_rewritten_pg(pg, want):
    dml = parse_dml(rewrite(pg))
    assert {k: getattr(dml, k) for k in want} == want


@pytest.mark.parametrize(
    "stmt",
    [
        "select 1",
        "create table t (a int) using parquet",
        "merge into t using s on t.k = s.k when matched then delete",
        "-- update t set a = 1\nselect 2",
        "delete from t a where a.k = 1",  # aliased DELETE without USING
    ],
)
def test_not_parsed(stmt):
    assert parse_dml(stmt) is None


@pytest.mark.parametrize(
    "stmt,message",
    [
        ("update t set a = s.a from s", "UPDATE ... FROM requires a WHERE join condition"),
        ("delete from t using s", "DELETE ... USING requires a WHERE join condition"),
        ("insert into t values (1) on conflict do nothing", "cannot parse ON CONFLICT"),
        ("update t set a where b = 1", "cannot parse SET clause item"),
        ("update t set a = 1 from (select 1) where t.a = 1", "cannot parse UPDATE ... FROM"),
    ],
)
def test_malformed_dml_raises(stmt, message):
    with pytest.raises(ValueError, match=re.escape(message)):
        parse_dml(stmt)
