"""dc05 sketched source-overlap — the properties the oracle compare can't
see: the KMV estimator's accuracy against the EXACT dc02 matrix at sf0.1
(within documented ε on every pair),
and a planted high-containment fixture proving the sketch surfaces overlap
the way the exact matrix does."""

from __future__ import annotations

import pytest

from db_converter_spark.registry import all_queries

SF01 = "/root/testdata/sf0.1"

# documented ε (x1000 units): RSE(J) at k=512 is ≤ 2.2%; the containment
# derivation Î/min amplifies by (|A|+|B|)/min(|A|,|B|) ≤ ~3 on the corpus
# sources (sizes within ~3x of each other), so 0.1 is a ~1.5σ-per-pair /
# comfortably-all-pairs bound — and the measured max error at sf0.1 is
# far below it (assert tightness is the point of the test, not slack).
_EPS_X1000 = 100


pytestmark = pytest.mark.usefixtures("restore_views")


def test_dc05_estimator_within_eps_of_exact_dc02_every_pair(spark):
    qs = all_queries()
    exact = {
        (r["sa"], r["sb"]): r
        for r in qs["dc02_source_overlap"].builder(spark, SF01).collect()
    }
    est = {
        (r["sa"], r["sb"]): r
        for r in qs["dc05_sketched_overlap"].builder(spark, SF01).collect()
    }
    # dc05 emits ALL C(n,2) pairs; dc02's inner pair join only pairs with
    # shared grams — every exact pair must be present on the sketch side
    assert set(exact) <= set(est)
    worst_j = worst_c = 0
    for k, e in est.items():
        x = exact.get(k)
        if x is not None:
            # per-source distinct-gram cardinalities are EXACT by
            # construction (same DISTINCT stream, counted, not estimated)
            assert (e["grams_a"], e["grams_b"]) == (x["grams_a"], x["grams_b"]), k
            union = x["grams_a"] + x["grams_b"] - x["shared_grams"]
            exact_j = round(1000 * x["shared_grams"] / union)
            exact_c = x["containment_x1000"]
        else:
            exact_j = exact_c = 0
        dj = abs(e["jaccard_est_x1000"] - exact_j)
        dc = abs(e["containment_est_x1000"] - exact_c)
        worst_j = max(worst_j, dj)
        worst_c = max(worst_c, dc)
        assert dj <= _EPS_X1000, (k, e["jaccard_est_x1000"], exact_j)
        assert dc <= _EPS_X1000, (k, e["containment_est_x1000"], exact_c)
    # the sketch relation must stay bounded: k hashes per source max
    assert all(e["union_k"] <= 512 for e in est.values())
    print(f"dc05 vs dc02 @ sf0.1: worst |ΔJ|={worst_j} |ΔC|={worst_c} (x1000)")


def test_dc05_surfaces_planted_containment(spark):
    """Planted asymmetric overlap: source B embeds every one of source A's
    documents verbatim inside longer documents (A ⊂ B gram-wise, plus B's
    own filler), source C is disjoint. The sketch estimate must read
    containment(A,B) high and containment(A,C) ≈ 0 — the data-mixing
    signal dc02 computes exactly."""
    from db_converter_spark.operators.dedup import (
        _DC05_GRAMS_SPARK,
        _DC05_SK_SPARK,
        _DC05_SZS_SPARK,
        _DC05_TAIL_SPARK,
    )

    rows = []
    # A: 40 docs of 30 distinctive words each
    for i in range(40):
        words = [f"alpha{i}w{j}" for j in range(30)]
        rows.append((i, " ".join(words), "srcA"))
    # B: each A doc wrapped in 60 words of B-only filler -> every A gram
    # survives verbatim inside B
    for i in range(40):
        core = [f"alpha{i}w{j}" for j in range(30)]
        filler = [f"beta{i}f{j}" for j in range(30)]
        rows.append((1000 + i, " ".join(filler + core + filler), "srcB"))
    # C: disjoint vocabulary
    for i in range(40):
        rows.append((2000 + i, " ".join(f"gamma{i}x{j}" for j in range(30)), "srcC"))
    spark.createDataFrame(
        [(d, t, s, "en", len(t)) for d, t, s in rows],
        "doc_id LONG, text STRING, source STRING, lang STRING, n_chars LONG",
    ).createOrReplaceTempView("documents")
    grams = spark.sql(_DC05_GRAMS_SPARK)
    sk = spark.sql(_DC05_SK_SPARK, grams=grams)
    szs = spark.sql(_DC05_SZS_SPARK, grams=grams)
    out = {
        (r["sa"], r["sb"]): r
        for r in spark.sql(_DC05_TAIL_SPARK, sk=sk, szs=szs).collect()
    }
    ab = out[("srcA", "srcB")]
    ac = out[("srcA", "srcC")]
    # every A gram is inside B: true containment = 1.0; KMV at k=512 over
    # ~1k A-grams reads it within a few percent
    assert ab["containment_est_x1000"] >= 900, ab
    assert ac["containment_est_x1000"] == 0 and ac["sketch_matches"] == 0, ac
