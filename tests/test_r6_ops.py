"""ev16 / dd16 structural invariants — the properties the oracle compare
can't see: ev16's micro-batch lateness arithmetic on a hand-built
disordered stream (the real testdata stream is perfectly ordered, so the
drop columns are all-zero there), and dd16's internal consistency with
the dd10 candidate set it audits."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


pytestmark = pytest.mark.usefixtures("restore_views")


def test_ev16_lateness_arithmetic_on_disordered_stream(spark):
    """Planted disorder: batch 0 (event_ids 0..2) raises the high-water
    mark to 11:00; batch 1 (ids 1000..1002) arrives with event times
    2h, 30s and 20min behind it. Every drop count is hand-checkable,
    and batch 0 itself is never judged (no PRIOR batch watermark)."""
    from db_converter_spark.operators.events import _EV16_SPARK

    rows = [
        (0, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:30:00"),
        (2, "2024-01-01 11:00:00"),      # hwm for batch 1
        (1000, "2024-01-01 09:00:00"),   # 7200 s late
        (1001, "2024-01-01 10:59:30"),   # 30 s late
        (1002, "2024-01-01 10:40:00"),   # 1200 s late
    ]
    spark.createDataFrame(
        [(i, t, 7, "click", 1.0, "{}") for i, t in rows],
        "event_id LONG, ts STRING, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    ).createOrReplaceTempView("events")
    out = {r["watermark_s"]: r for r in spark.sql(_EV16_SPARK).collect()}
    assert set(out) == {60, 300, 1800, 3600}
    for r in out.values():
        assert r["event_type"] == "click"
        assert r["n_judged"] == 3          # batch 0 is never judged
        assert r["n_behind_wm"] == 3
        assert r["max_lateness_s"] == 7200
    # 7200 and 1200 exceed 60/300; only 7200 exceeds 1800/3600
    assert out[60]["n_dropped"] == 2 and out[300]["n_dropped"] == 2
    assert out[1800]["n_dropped"] == 1 and out[3600]["n_dropped"] == 1
    assert out[60]["drop_rate_x100k"] == 66667   # round(2/3 * 100000)
    assert out[3600]["drop_rate_x100k"] == 33333


def test_dd16_consistent_with_dd10_candidates(spark):
    """The calibration table must partition dd10's candidate set exactly:
    level sums equal dd10's n_candidate_pairs, every level clears the
    >=5-of-8 agreement gate, and the gate-pass total equals dd10's
    n_verified_08."""
    from db_converter_spark.registry import all_queries

    sf = SF_DIR.replace("sf0.001", "sf0.01")
    qs = all_queries()
    cal = qs["dd16_lsh_calibration"].builder(spark, sf).collect()
    verify = qs["dd10_lsh_jaccard_verify"].builder(spark, sf).collect()[0]
    assert all(r["n_agree"] >= 5 for r in cal), cal
    assert sum(r["n_pairs"] for r in cal) == verify["n_candidate_pairs"]
    assert sum(r["n_pass_dup_gate"] for r in cal) == verify["n_verified_08"]
    # Broder's estimator: absolute error must SHRINK as agreement rises
    errs = {r["n_agree"]: r["est_abs_err_x1000"] for r in cal}
    assert errs[max(errs)] == min(errs.values()), errs
