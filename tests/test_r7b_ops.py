"""Semantic tests for the four r7-new operators beyond the oracle compare:
ta13's union-of-positions coverage math on planted repetition, pipe14's
waterfill invariants (budget conservation, cap pinning, water line), ev17's
one-sided count-min guarantee on a planted heavy hitter, and ss13's
complete-candidate equivalence + a planted prefix-adversarial corpus that
forces a real recall miss."""

from __future__ import annotations

import pytest

from db_converter_spark.operators.events import _ev17_run
from db_converter_spark.operators.similarity import _ss13_run
from db_converter_spark.operators.textops import _ta13_run
from db_converter_spark.registry import all_queries
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def _restore_views(spark):
    yield
    from db_converter_spark.catalog import register_views

    spark._dbc_registered_sf = None
    register_views(spark, SF_DIR)


def _docs_view(spark, rows):
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .createOrReplaceTempView("documents")


# ---------------------------------------------------------------------------
# ta13 — union-of-positions coverage semantics
# ---------------------------------------------------------------------------


def test_ta13_dup_coverage_counts_overlapping_positions_once(spark):
    # "a a a a a a": the 5-gram "a a a a a" occurs at pos 0 and 1 (cnt=2),
    # so BOTH occurrences are duplicated and their union covers all 6
    # positions -> dup coverage exactly 1.0. A naive per-occurrence sum
    # would claim 2*5/6 = 1.67 coverage; the union semantics cap it.
    # doc_id=1 avoids the operator's own doc_id%7 plant.
    _docs_view(spark, [(1, "s", "a a a a a a")])
    rows = {(r["n"], r["rule"]): r for r in _ta13_run(spark).collect()}
    assert rows[(5, "dup_gram_cov")]["avg_frac"] == 1.0
    # the 6-gram occurs once -> not duplicated -> coverage 0
    assert rows[(6, "dup_gram_cov")]["avg_frac"] == 0.0
    # dup coverage 1.0 > 0.15 threshold -> flagged
    assert rows[(5, "dup_gram_cov")]["n_flagged"] == 1


def test_ta13_top_gram_coverage_and_threshold_flags(spark):
    # "x y x y z": top 2-gram is "x y" (cnt=2, 2 chars of words), word
    # chars total 5 -> coverage 2*2/5 = 0.8 > 0.20 -> flagged.
    _docs_view(spark, [(1, "s", "x y x y z")])
    rows = {(r["n"], r["rule"]): r for r in _ta13_run(spark).collect()}
    assert rows[(2, "top_gram_cov")]["avg_frac"] == 0.8
    assert rows[(2, "top_gram_cov")]["n_flagged"] == 1


def test_ta13_staged_path_matches_unstaged_on_fixture(spark, monkeypatch):
    # The memory-decade STAGED path (sequential per-n checkpoint jobs) is
    # the plan actually used at scale, but the docs.count() switch means
    # the oracle compare only ever exercises the non-staged union at test
    # scale (r8 ADVICE). Force staged=True via the threshold hook and pin
    # it to the non-staged result on a fixture that exercises both rules.
    from db_converter_spark.operators import textops

    _docs_view(
        spark,
        [(1, "s", "a a a a a a"), (2, "s", "x y x y z"), (7, "p", "w1 w2 w3 w4 w5 w6 w7 w8 w9")],
    )
    baseline = sorted(map(tuple, _ta13_run(spark).collect()))
    monkeypatch.setattr(textops, "_TA13_STAGED_DOC_THRESHOLD", 0)
    staged = sorted(map(tuple, _ta13_run(spark).collect()))
    assert staged == baseline
    assert any(r[2] == "dup_gram_cov" and r[4] > 0 for r in staged)
    # ...and the memory-decade doc-SHARDED variant (pmod(doc_id, K) slices
    # per n-pass) must be exact too: force one shard per doc
    monkeypatch.setattr(textops, "_TA13_DOCS_PER_SHARD", 1)
    sharded = sorted(map(tuple, _ta13_run(spark).collect()))
    assert sharded == baseline


def test_ta13_operator_plant_fires_only_on_doc_id_mod_7(spark):
    # the operator's own deterministic repetition plant (doc_id % 7 = 0,
    # >= 8 words) must create nonzero dup coverage for the planted doc and
    # leave a same-text unplanted doc at zero
    text = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    _docs_view(spark, [(7, "planted", text), (8, "clean", text)])
    rows = _ta13_run(spark).collect()
    planted = [r for r in rows if r["source"] == "planted" and r["rule"] == "dup_gram_cov"]
    clean = [r for r in rows if r["source"] == "clean" and r["rule"] == "dup_gram_cov"]
    assert all(r["avg_frac"] > 0 for r in planted)
    assert all(r["avg_frac"] == 0 for r in clean)


# ---------------------------------------------------------------------------
# pipe14 — waterfill invariants
# ---------------------------------------------------------------------------


def test_pipe14_waterfill_invariants(spark):
    rows = all_queries()["pipe14_unimax_waterfill"].builder(spark, SF_DIR).collect()
    assert len(rows) > 0
    total_cap = sum(r["cap_tokens"] for r in rows)
    budget = 2.0 * total_cap
    # allocations conserve the budget exactly (uncapped split the leftover)
    assert abs(sum(r["alloc_tokens"] for r in rows) - budget) < 1e-2
    capped = [r for r in rows if r["capped"] == 1]
    uncapped = [r for r in rows if r["capped"] == 0]
    # the md5 heterogeneity plant must exercise BOTH branches at sf0.001+
    assert capped and uncapped
    for r in capped:
        assert r["alloc_tokens"] == float(r["max_tokens"])
        assert r["epochs"] == 4.0
    # all uncapped sources sit on the same water line
    line = {r["alloc_tokens"] for r in uncapped}
    assert len(line) == 1
    # the water line is above every capped allocation
    assert all(min(line) >= r["alloc_tokens"] for r in capped)
    # uncapped sources run strictly under the epoch cap
    assert all(r["epochs"] < 4.0 for r in uncapped)


# ---------------------------------------------------------------------------
# ev17 — count-min one-sided guarantee
# ---------------------------------------------------------------------------


def test_ev17_never_underestimates_and_finds_planted_heavy_hitter(spark):
    rows = [(999,)] * 50 + [(u,) for u in range(40) for _ in range(3)]
    spark.createDataFrame(rows, "user_id long").createOrReplaceTempView("events")
    out = _ev17_run(spark).collect()
    assert len(out) == 10
    by_rank = {r["rnk"]: r for r in out}
    assert by_rank[1]["user_id"] == 999
    assert by_rank[1]["exact_n"] == 50
    for r in out:  # CM property: estimate >= exact, always
        assert r["cm_est"] >= r["exact_n"]
        assert r["overest"] == r["cm_est"] - r["exact_n"]


def test_ev17_on_real_corpus_one_sided(spark):
    out = all_queries()["ev17_countmin_audit"].builder(spark, SF_DIR).collect()
    assert len(out) == 10
    assert all(r["overest"] >= 0 for r in out)
    assert [r["rnk"] for r in sorted(out, key=lambda r: r["rnk"])] == list(range(1, 11))


# ---------------------------------------------------------------------------
# ss13 — complete-candidate equivalence and a forced miss
# ---------------------------------------------------------------------------


def _emb_view(spark, rows):
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .createOrReplaceTempView("embeddings")


def test_ss13_complete_candidates_equal_exact(spark):
    # with <= 32 base vectors the candidate set is the whole corpus, so
    # the two-stage result must equal the exact ranking: recall 1.0 and a
    # zero top-1 gap for every query
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(20)]) for i in range(30)]
    _emb_view(spark, rows)
    out = _ss13_run(spark).collect()
    assert len(out) == 1  # only vec_id=0 matches the query predicate
    assert out[0]["recall_at_3"] == 1.0
    assert out[0]["approx_top1"] == out[0]["exact_top1"]
    assert out[0]["top1_sim_gap"] == 0.0


def test_ss13_prefix_blind_corpus_forces_a_miss(spark):
    # 40 base vectors whose FIRST 16 dims are identical (the prefix cannot
    # rank them; the candidate cut falls back to the vec_id tiebreak and
    # keeps ids 1..32) while the full-dim winners live in the excluded ids
    # 33..40 -> the audit must report recall < 1 and a positive top-1 gap.
    # This is the measurement the operator exists to surface.
    base = [1.0] * 16
    rows = [(0, base + [1.0, 0.0, 0.0, 0.0])]  # the query
    for i in range(1, 33):
        rows.append((i, base + [-1.0, 0.5, 0.5, 0.5]))  # candidates kept by id
    for i in range(33, 41):
        rows.append((i, base + [1.0, 0.0, 0.0, 0.0]))  # true winners, excluded
    _emb_view(spark, rows)
    out = _ss13_run(spark).collect()
    assert len(out) == 1
    assert out[0]["recall_at_3"] == 0.0
    assert out[0]["exact_top1"] == 33
    assert out[0]["approx_top1"] == 1
    assert out[0]["top1_sim_gap"] > 0


# ---------------------------------------------------------------------------
# dd17 — incremental admission semantics
# ---------------------------------------------------------------------------


def test_dd17_rejects_batch_dup_admits_unique_ignores_corpus_dups(spark):
    # ids: 3 and 17 are batch (doc_id % 7 = 3); 1, 2, 9 are corpus.
    # - batch doc 3 is VERBATIM-identical to corpus doc 1 -> rejected (J=1)
    # - batch doc 17 is unique -> admitted, zero candidates
    # - corpus docs 2 and 9 duplicate EACH OTHER -> must not appear in the
    #   report at all (admission only judges the batch)
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    c = "one two three four five six seven eight nine ten"
    _docs_view(spark, [
        (1, "s1", a), (3, "s1", a),
        (17, "s2", "totally different words nothing shared here at all ok fine"),
        (2, "s3", c), (9, "s3", c),
    ])
    from db_converter_spark.operators.dedup import (
        _DD10_DOCSH_SPARK, _DD17_CAND_SPARK, _DD17_SIG_SPARK, _DD17_TAIL_SPARK,
    )
    cand = spark.sql(_DD17_CAND_SPARK, sig=spark.sql(_DD17_SIG_SPARK))
    doc_sh = spark.sql(_DD10_DOCSH_SPARK, cand=cand)
    rows = {
        r["source"]: r
        for r in spark.sql(_DD17_TAIL_SPARK, cand=cand, doc_sh=doc_sh).collect()
    }
    assert rows["s1"]["n_rejected_dup"] == 1
    assert rows["s1"]["rejected_checksum"] == 3
    assert rows["s1"]["max_jaccard"] == 1.0
    assert rows["s2"]["n_with_candidates"] == 0
    assert rows["s2"]["n_rejected_dup"] == 0
    # corpus-internal duplicates contribute no batch rows: s3 absent
    assert "s3" not in rows


def test_dd17_real_corpus_invariants(spark):
    rows = all_queries()["dd17_incremental_dedup"].builder(spark, SF_DIR).collect()
    assert len(rows) == 20  # every source ships batch docs (mod-7 vs 20 sources)
    total_rejected = 0
    for r in rows:
        assert 0 <= r["n_rejected_dup"] <= r["n_with_candidates"] <= r["n_batch_docs"]
        assert r["n_candidate_pairs"] >= r["n_with_candidates"] or r["n_with_candidates"] == 0
        total_rejected += r["n_rejected_dup"]
    assert total_rejected > 0  # the synthetic corpus plants real dups


# ---------------------------------------------------------------------------
# dq07 — exactness against an INDEPENDENT implementation
# ---------------------------------------------------------------------------


def test_dq07_exact_matches_duckdb_quantile_disc(spark):
    # the oracle compare proves Spark == our DuckDB SQL; this proves the
    # algorithm itself: histogram-partitioned selection must equal
    # DuckDB's own quantile_disc (nearest-rank), an independent
    # implementation, at every probed quantile
    import duckdb

    rows = {r["qpct"]: r for r in
            all_queries()["dq07_quantile_profile"].builder(spark, SF_DIR).collect()}
    con = duckdb.connect()
    ref = con.execute(
        "SELECT quantile_disc(CAST(ROUND(o_totalprice*100) AS BIGINT),"
        " [0.25, 0.5, 0.75, 0.9, 0.99])"
        f" FROM read_parquet('{SF_DIR}/orders.parquet')"
    ).fetchone()[0]
    for q, want in zip((25, 50, 75, 90, 99), ref):
        assert rows[q]["exact_cents"] == want, (q, rows[q], want)
        # the sketch estimate is the containing bin's right edge: never
        # below the exact value, and within one bin width of it
        assert rows[q]["err_cents"] >= 0
    lo, hi = con.execute(
        "SELECT MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)),"
        " MAX(CAST(ROUND(o_totalprice*100) AS BIGINT))"
        f" FROM read_parquet('{SF_DIR}/orders.parquet')"
    ).fetchone()
    width = (hi - lo + 1) // 4096 + 1
    assert all(rows[q]["err_cents"] <= width for q in (25, 50, 75, 90, 99))


# ---------------------------------------------------------------------------
# ss14 — quantization error semantics
# ---------------------------------------------------------------------------


def test_ss14_lossless_on_grid_aligned_corpus(spark):
    # vectors whose components are exactly 0/1 sit ON the SQ8 grid
    # (lo=0, hi=1 -> codes 0/255 dequantize exactly) -> zero sim error
    # at every rank and perfect exact-top-10 agreement
    import random

    from db_converter_spark.operators.similarity import (
        _SS14_CODES_SPARK, _SS14_DIMS_SPARK, _SS14_EXACT_SPARK,
        _SS14_SROW_SPARK, _SS14_TAIL_SPARK,
    )

    rng = random.Random(11)
    rows = [(i, [float(rng.randint(0, 1)) for _ in range(16)]) for i in range(40)]
    _emb_view(spark, rows)
    srow = spark.sql(_SS14_SROW_SPARK, dims=spark.sql(_SS14_DIMS_SPARK))
    out = spark.sql(
        _SS14_TAIL_SPARK,
        codes=spark.sql(_SS14_CODES_SPARK, srow=srow),
        srow=srow,
        exact=spark.sql(_SS14_EXACT_SPARK),
    ).collect()
    assert len(out) == 10
    for r in out:
        assert r["sim_err"] == 0.0, r
        assert r["sim_sq8"] == r["sim_exact"], r
        assert r["in_exact_top10"] == 1, r


def test_ss14_real_corpus_error_bounded(spark):
    out = all_queries()["ss14_sq8_topk"].builder(spark, SF_DIR).collect()
    assert len(out) == 10
    assert [r["rnk"] for r in sorted(out, key=lambda r: r["rnk"])] == list(range(1, 11))
    # 8-bit per-dim quantization on 64 dims keeps cosine error tiny
    assert all(abs(r["sim_err"]) < 0.05 for r in out), out
    assert sum(r["in_exact_top10"] for r in out) >= 8, out


# ---------------------------------------------------------------------------
# ev18 — streaming histogram-quantile invariants
# ---------------------------------------------------------------------------


def test_ev18_streaming_quantile_invariants(spark):
    rows = all_queries()["ev18_streaming_quantiles"].builder(spark, SF_DIR).collect()
    assert len(rows) > 0
    import duckdb

    total = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchone()[0]
    assert sum(r["n_events"] for r in rows) == total  # every event binned once
    for r in rows:
        # quantile estimates are monotone and sit on 400-cent bin right edges
        assert r["est_p50_cents"] <= r["est_p90_cents"] <= r["est_p99_cents"]
        for c in ("est_p50_cents", "est_p90_cents", "est_p99_cents"):
            assert r[c] % 400 == 399 and 0 <= r[c] < 256 * 400
