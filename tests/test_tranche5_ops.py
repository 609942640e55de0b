"""ev11 / mg05 / ta11 / dq03 / pipe10 structural invariants — the
properties the oracle compare can't see: histogram-percentile math on
known gaps, checksum sensitivity to row edits / duplication and
order-independence, idf zero/rank semantics, profile counts on injected
nulls, and dataset-card conservation on synthesized duplicates."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _restore_views(spark):
    """Tests here synthesize tiny `events`/`lineitem`/`documents` temp
    views; restore the real ones THROUGH the memo (register_views
    memoizes on the session — a bare dropTempView once broke 8
    plan-shape tests downstream)."""
    yield
    from db_converter_spark.catalog import register_views

    spark._dbc_registered_sf = None
    register_views(spark, SF_DIR)


def test_ev11_known_gaps(spark):
    """One user, one type, gaps 1..8 s and one 100 s gap: buckets are the
    bit lengths, p50/p95 land where the cumulative histogram says."""
    from db_converter_spark.operators.events import _EV11_SPARK

    # events at t0, t0+1, t0+3, t0+7, ... gaps: 1,2,4,8,16,32,64,100
    spark.sql(
        """
        SELECT CAST(i AS BIGINT) AS event_id,
          timestamp(from_unixtime(1700000000 + CAST(s AS BIGINT))) AS ts,
          CAST(1 AS BIGINT) AS user_id, 'probe' AS event_type,
          1.0 AS value, '' AS props
        FROM VALUES (0,0),(1,1),(2,3),(3,7),(4,15),(5,31),(6,63),(7,127),(8,227)
          AS t(i, s)
        """
    ).createOrReplaceTempView("events")
    rows = spark.sql(_EV11_SPARK).collect()
    assert len(rows) == 1
    r = rows[0]
    # gaps: 1,2,4,8,16,32,64,100 -> buckets (bit length): 1,2,3,4,5,6,7,7
    assert r["n_gaps"] == 8
    # mean = 227/8 = 28.375 s -> 28375 ms
    assert r["mean_gap_ms"] == 28375
    # cumulative: b1:1 b2:2 b3:3 b4:4 b5:5 b6:6 b7:8 ; p50 at cum>=4 -> b4
    assert r["p50_bucket"] == 4
    # p95 at 20*cum >= 19*8=152 -> cum>=7.6 -> bucket 7
    assert r["p95_bucket"] == 7


def _mini_lineitem(spark, rows_sql: str):
    spark.sql(
        f"""
        SELECT * FROM VALUES {rows_sql}
        AS t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
             l_shipdate)
        """
    ).createOrReplaceTempView("lineitem")


_BASE_ROWS = (
    "(1, 10, 5, 1, 5.0, 100.0, 0.05, 0.02, 'N', 'O', TIMESTAMP'2024-01-01 00:00:00'),"
    "(2, 11, 6, 1, 7.0, 200.0, 0.00, 0.01, 'R', 'F', TIMESTAMP'2024-01-02 00:00:00')"
)


def test_mg05_checksum_sensitivity_and_order_independence(spark):
    from db_converter_spark.operators.events import _MG05_SPARK

    _mini_lineitem(spark, _BASE_ROWS)
    base = spark.sql(_MG05_SPARK).collect()[0]

    # permuted row order -> identical checksums (commutative reductions)
    _mini_lineitem(
        spark,
        "(2, 11, 6, 1, 7.0, 200.0, 0.00, 0.01, 'R', 'F', TIMESTAMP'2024-01-02 00:00:00'),"
        "(1, 10, 5, 1, 5.0, 100.0, 0.05, 0.02, 'N', 'O', TIMESTAMP'2024-01-01 00:00:00')",
    )
    perm = spark.sql(_MG05_SPARK).collect()[0]
    assert tuple(perm) == tuple(base)

    # a single value edit flips the xor checksum
    _mini_lineitem(spark, _BASE_ROWS.replace("5.0, 100.0", "5.0, 100.01"))
    edited = spark.sql(_MG05_SPARK).collect()[0]
    assert edited["xor_checksum"] != base["xor_checksum"]

    # duplicating a row PAIR cancels in xor but not in count/sum —
    # the complementary reductions exist for exactly this
    _mini_lineitem(spark, _BASE_ROWS + "," + _BASE_ROWS)
    duped = spark.sql(_MG05_SPARK).collect()[0]
    assert duped["xor_checksum"] == 0  # every h60 xors out pairwise
    assert duped["n_rows"] == 4 and duped["n_rows"] != base["n_rows"]
    assert duped["sum_checksum"] == 2 * base["sum_checksum"]


def test_ta11_idf_semantics(spark):
    """A term in every document scores idf 0 (ln 1); rarer terms rank
    above it; at most 5 terms per doc; ranks are 1..k dense."""
    from db_converter_spark.operators.textops import _TA11_TAIL, _TA11_TF_SPARK

    spark.sql(
        """
        SELECT CAST(i AS BIGINT) AS doc_id,
          concat('common rare', CAST(i AS STRING), ' common filler', CAST(i AS STRING)) AS text,
          'en' AS lang, 'synth' AS source, CAST(10 AS BIGINT) AS n_chars
        FROM (SELECT explode(sequence(1, 4)) AS i)
        """
    ).createOrReplaceTempView("documents")
    tf = spark.sql(_TA11_TF_SPARK).localCheckpoint(eager=True)
    rows = spark.sql(_TA11_TAIL, tf=tf).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3, 4}
    for doc, terms in by_doc.items():
        terms.sort(key=lambda r: r["rnk"])
        assert [t["rnk"] for t in terms] == list(range(1, len(terms) + 1))
        assert len(terms) <= 5
        scores = {t["term"]: t for t in terms}
        # 'common' appears in all docs -> idf 0 -> score 0
        assert scores["common"]["idf_x1000"] == 0
        assert scores["common"]["tfidf_x1000"] == 0
        # the doc-unique terms (df=1, N=4 -> idf = 1000*ln4 = 1386) rank 1-2
        uniq = [t for t in terms if t["rnk"] <= 2]
        assert all(t["idf_x1000"] == 1386 for t in uniq)
        assert all(t["term"].endswith(str(doc)) for t in uniq)


def test_dq03_counts_injected_profile(spark):
    from db_converter_spark.operators.quality import _DQ03_O_SPARK

    spark.sql(
        """
        SELECT * FROM VALUES
          (1, 10,   100.00, DATE'2024-01-01'),
          (2, 10,   250.50, DATE'2024-03-01'),
          (3, NULL, 100.00, NULL),
          (4, 12,   99.99,  DATE'2024-02-01')
        AS t(o_orderkey, o_custkey, o_totalprice, o_orderdate)
        """
    ).createOrReplaceTempView("orders")
    r = spark.sql(_DQ03_O_SPARK).collect()[0]
    assert r["n_rows"] == 4
    assert r["nn_custkey"] == 3 and r["nd_custkey"] == 2
    assert r["min_custkey"] == 10 and r["max_custkey"] == 12
    assert r["nd_price"] == 3
    assert r["min_price_x100"] == 9999 and r["max_price_x100"] == 25050
    assert r["nn_odate"] == 3 and r["nd_odate"] == 3
    # 2024-01-01 = 19723 days since epoch
    assert r["min_odate_days"] == 19723


def test_pipe10_dup_and_lang_accounting(spark):
    """Synthesized corpus: per source, known dup counts and language mix
    must land exactly; n_docs conserves the corpus."""
    from db_converter_spark.operators.pipeline import _PIPE10, _PIPE10_PD_SPARK

    # src_a: 6 docs, 2 exact copies of doc 'x' (1 dup), langs en:4 de:2
    # src_b: 3 unique docs, all fr
    spark.sql(
        """
        SELECT * FROM VALUES
          (1, 'x same text', 'en', 'src_a', 11),
          (2, 'x same text', 'en', 'src_a', 11),
          (3, 'y other',     'en', 'src_a', 7),
          (4, 'z more',      'en', 'src_a', 6),
          (5, 'w eins zwei', 'de', 'src_a', 11),
          (6, 'v drei vier', 'de', 'src_a', 11),
          (7, 'a un',        'fr', 'src_b', 4),
          (8, 'b deux',      'fr', 'src_b', 6),
          (9, 'c trois',     'fr', 'src_b', 7)
        AS t(doc_id, text, lang, source, n_chars)
        """
    ).createOrReplaceTempView("documents")
    per_doc = spark.sql(_PIPE10_PD_SPARK).localCheckpoint(eager=True)
    rows = {r["source"]: r for r in spark.sql(_PIPE10, per_doc=per_doc).collect()}
    assert set(rows) == {"src_a", "src_b"}
    a, b = rows["src_a"], rows["src_b"]
    assert a["n_docs"] == 6 and b["n_docs"] == 3
    assert a["n_exact_dups"] == 1 and b["n_exact_dups"] == 0
    assert a["dup_frac_x1000"] == 167  # round(1000/6)
    assert a["n_langs"] == 2 and a["top_lang"] == "en"
    assert a["top_lang_x1000"] == 667
    assert b["n_langs"] == 1 and b["top_lang"] == "fr"
    assert b["top_lang_x1000"] == 1000
    # token mass: src_b = 2+2+2 = 6 tokens, mean 2.0 -> x10 = 20
    assert b["n_tokens"] == 6 and b["mean_tokens_x10"] == 20


def test_q37_pivot_matches_long_format(spark):
    """The wide PIVOT row for each status must equal the long-format
    (status, year) aggregate pivoted by hand."""
    from db_converter_spark.operators.relational import q37_pivot

    wide = {r["o_orderstatus"]: r for r in q37_pivot(spark, SF_DIR).collect()}
    long_rows = spark.sql(
        """
        SELECT o_orderstatus, year(o_orderdate) AS y,
          SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_orderstatus, year(o_orderdate)
        """
    ).collect()
    expect: dict[tuple, int] = {}
    for r in long_rows:
        expect[(r["o_orderstatus"], r["y"])] = r["cents"]
    for status, row in wide.items():
        for y in range(1995, 2001):
            assert row[f"y{y}"] == expect.get((status, y), 0), (status, y)


def test_dq04_bands_on_injected_discrepancies(spark):
    """Synthetic orders/lineitem with known discrepancies: exact match,
    a 0.5% drift, a 5% drift and a header with no detail rows must land
    in their bands with the right diff totals."""
    from db_converter_spark.operators.quality import _DQ04

    spark.sql(
        """
        SELECT * FROM VALUES
          (1, 10, 'O', 100.00, DATE'2024-01-01'),
          (2, 11, 'O', 200.00, DATE'2024-01-02'),
          (3, 12, 'F', 100.00, DATE'2024-01-03'),
          (4, 13, 'F', 50.00,  DATE'2024-01-04')
        AS t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate)
        """
    ).createOrReplaceTempView("orders")
    # line value = price*(1-disc)*(1+tax); zero disc/tax keeps it exact
    spark.sql(
        """
        SELECT * FROM VALUES
          (1, 1, 1, 1, 1.0, 100.00, 0.0, 0.0, 'N', 'O', TIMESTAMP'2024-01-01 00:00:00'),
          (2, 1, 1, 1, 1.0, 199.00, 0.0, 0.0, 'N', 'O', TIMESTAMP'2024-01-01 00:00:00'),
          (3, 1, 1, 1, 1.0, 95.00,  0.0, 0.0, 'N', 'O', TIMESTAMP'2024-01-01 00:00:00')
        AS t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
             l_shipdate)
        """
    ).createOrReplaceTempView("lineitem")
    rows = {r["band"]: r for r in spark.sql(_DQ04).collect()}
    assert set(rows) == {"exact", "within_1pct", "over_1pct", "missing_detail"}
    assert rows["exact"]["n_orders"] == 1
    assert rows["exact"]["total_abs_diff_cents"] == 0
    assert rows["within_1pct"]["n_orders"] == 1
    assert rows["within_1pct"]["total_abs_diff_cents"] == 100  # 1.00 on 200
    assert rows["over_1pct"]["n_orders"] == 1
    assert rows["over_1pct"]["total_abs_diff_cents"] == 500  # 5.00 on 100
    assert rows["missing_detail"]["n_orders"] == 1
    assert rows["missing_detail"]["total_abs_diff_cents"] == 5000  # whole header
