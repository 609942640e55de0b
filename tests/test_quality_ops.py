"""dq01 / dq02 / pipe09 / ta10 / mg04 structural invariants — the
properties the oracle compare can't see: violation counting on injected
bad rows, the anomaly gate vs a float z-score, the no-leakage split
guarantee, vocabulary-growth conservation, and compaction-plan packing
bounds."""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_DIR


pytestmark = pytest.mark.usefixtures("restore_views")


def test_dq01_counts_injected_violations(spark):
    """The audit must count each violation class exactly: inject a dup key,
    a bad status, a negative price, a null custkey and an orphan lineitem
    into tiny temp tables and assert the per-constraint counters."""
    from db_converter_spark.operators.quality import _DQ01_L, _DQ01_O, _DQ01_RI

    spark.sql(
        """
        SELECT * FROM VALUES
          (1, 10,   'O', 100.0, DATE'2024-01-01'),
          (1, 11,   'F', 200.0, DATE'2024-01-02'),
          (2, NULL, 'X', -5.0,  NULL),
          (3, 12,   'P', 300.0, DATE'2024-01-03')
        AS t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate)
        """
    ).createOrReplaceTempView("orders")
    spark.sql(
        """
        SELECT * FROM VALUES
          (1, 1, 5.0,  0.05, DATE'2024-02-01'),
          (1, 1, 5.0,  0.05, DATE'2024-02-01'),
          (1, 2, 99.0, 1.5,  NULL),
          (9, 1, 10.0, 0.0,  DATE'2024-02-02')
        AS t(l_orderkey, l_linenumber, l_quantity, l_discount, l_shipdate)
        """
    ).createOrReplaceTempView("lineitem")
    o = spark.sql(_DQ01_O).collect()[0]
    l = spark.sql(_DQ01_L).collect()[0]
    ri = spark.sql(_DQ01_RI).collect()[0]
    assert o["null_custkey"] == 1 and o["null_orderdate"] == 1
    assert o["dup_orderkey"] == 1  # orderkey 1 twice
    assert o["bad_status"] == 1 and o["bad_price"] == 1
    assert l["dup_linekey"] == 1  # (1,1) twice
    assert l["bad_qty"] == 1 and l["bad_discount"] == 1 and l["null_shipdate"] == 1
    assert ri["n_orphans"] == 1  # l_orderkey 9 has no order


def test_dq02_integer_gate_matches_float_zscore(spark):
    """The denominator-cleared integer comparison must agree with the
    plain float z-score on every (type, day) of the real corpus — and the
    flag must fire on a synthetic 10× spike."""
    from db_converter_spark.operators.quality import dq02_rate_anomaly

    rows = dq02_rate_anomaly(spark, SF_DIR).collect()
    assert rows, "no daily rows"
    # reconstruct each baseline from the daily series and cross-check
    daily: dict[tuple[str, str], int] = {
        (r["event_type"], r["event_date"]): r["n_events"] for r in rows
    }
    by_type: dict[str, list[tuple[str, int]]] = {}
    for (t, d), n in daily.items():
        by_type.setdefault(t, []).append((d, n))
    checked = anomalies = 0
    for t, series in by_type.items():
        series.sort()
        for i, (d, n) in enumerate(series):
            base = [v for _, v in series[max(0, i - 7) : i]]
            k = len(base)
            flagged = next(
                r["is_anomaly"]
                for r in rows
                if r["event_type"] == t and r["event_date"] == d
            )
            if k < 4:
                assert not flagged
                continue
            mean = sum(base) / k
            var = sum(v * v for v in base) / k - mean * mean
            expect = abs(n - mean) > 3 * math.sqrt(var) if var > 0 else n != mean
            assert flagged == expect, (t, d, n, base)
            checked += 1
            anomalies += flagged
    assert checked > 50
    # synthetic spike: flat 100/day for 8 days then 1000 must flag
    spark.sql(
        """
        SELECT explode(sequence(1, CASE WHEN d = 9 THEN 1000 ELSE 100 END)) AS i,
               timestamp(date_add(DATE'2024-03-01', CAST(d AS INT))) AS ts,
               'probe' AS event_type
        FROM (SELECT explode(sequence(1, 9)) AS d)
        """
    ).createOrReplaceTempView("events")
    from db_converter_spark.operators.quality import _DQ02_SPARK

    probe = {r["event_date"]: r for r in spark.sql(_DQ02_SPARK).collect()}
    assert probe["2024-03-10"]["is_anomaly"] is True
    assert not any(r["is_anomaly"] for d, r in probe.items() if d != "2024-03-10")


def test_pipe09_no_cluster_straddles_splits(spark):
    """The leakage guarantee on synthesized duplicates: exact copies AND
    trivial near-dups (case/punctuation variants) of a document must land
    in the same split with the right cluster_size; the real-corpus coin
    stays inside a binomial 4-sigma band and re-runs are deterministic."""
    from db_converter_spark.operators.pipeline import (
        _PIPE09_SPARK,
        pipe09_leakage_safe_split,
    )

    # synthesized corpus: 30 base docs, each with an exact copy and a
    # case+punct variant — 3-member clusters under dd02 normalization
    spark.sql(
        """
        SELECT d * 10 + v AS doc_id, 'synth' AS source,
          CASE WHEN v = 2
               THEN upper(concat('base text number ', d, ' quick brown fox')) || '!!'
               ELSE concat('base text number ', d, ' quick brown fox') END AS text
        FROM (SELECT explode(sequence(1, 30)) AS d)
        LATERAL VIEW explode(sequence(0, 2)) vt AS v
        """
    ).createOrReplaceTempView("documents")
    rows = spark.sql(_PIPE09_SPARK).collect()
    assert len(rows) == 90
    by_base: dict[int, set] = {}
    for r in rows:
        assert r["cluster_size"] == 3, r
        by_base.setdefault(r["doc_id"] // 10, set()).add(r["split"])
    assert all(len(s) == 1 for s in by_base.values()), "a cluster straddles splits"

    # real corpus: unique docs, coin calibration + determinism
    rows1 = pipe09_leakage_safe_split(spark, SF_DIR).collect()
    n = len(rows1)
    assert n and len({r["doc_id"] for r in rows1}) == n
    n_train = sum(1 for r in rows1 if r["split"] == "train")
    sigma = math.sqrt(n * 0.9 * 0.1)
    assert abs(n_train - 0.9 * n) <= 4 * sigma + 1
    rows2 = pipe09_leakage_safe_split(spark, SF_DIR).collect()
    assert {tuple(r) for r in rows1} == {tuple(r) for r in rows2}


def test_ta10_conservation(spark):
    """cum_tokens must equal the corpus token total and cum_types the
    corpus vocabulary size; per-decile new types sum to the vocabulary."""
    from db_converter_spark.operators.textops import ta10_vocab_growth

    rows = sorted(ta10_vocab_growth(spark, SF_DIR).collect(), key=lambda r: r["decile"])
    totals = spark.sql(
        "SELECT COUNT(*) AS toks, COUNT(DISTINCT w) AS types FROM "
        "(SELECT explode(split(text, ' ')) AS w FROM documents) WHERE w <> ''"
    ).collect()[0]
    assert rows[-1]["cum_tokens"] == totals["toks"]
    assert rows[-1]["cum_types"] == totals["types"]
    assert sum(r["n_new_types"] for r in rows) == totals["types"]
    assert sum(r["n_tokens"] for r in rows) == totals["toks"]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_tokens"] == prev["cum_tokens"] + cur["n_tokens"]


def test_mg04_packing_bounds(spark):
    """Within each month partition: file ids are non-decreasing in chunk
    order, every output file except possibly the last is filled past the
    target only by its final (straddling) chunk, and the plan conserves
    the table's row count."""
    from db_converter_spark.operators.events import mg04_compaction_plan
    from db_converter_spark.catalog import load_table

    target = 262144
    rows = mg04_compaction_plan(spark, SF_DIR).collect()
    total = load_table(spark, SF_DIR, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == total
    by_month: dict[str, list] = {}
    for r in rows:
        by_month.setdefault(r["part_month"], []).append(r)
    for month, chunks in by_month.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        run = 0
        for r in chunks:
            assert r["target_file_id"] == run // target, (month, r)
            assert r["file_offset_bytes"] == run - (run // target) * target
            run += r["est_bytes"]
        # every file's byte span starts below target + max single chunk
        max_chunk = max(r["est_bytes"] for r in chunks)
        files: dict[int, int] = {}
        for r in chunks:
            files[r["target_file_id"]] = files.get(r["target_file_id"], 0) + r["est_bytes"]
        for size in files.values():
            assert size <= target + max_chunk
