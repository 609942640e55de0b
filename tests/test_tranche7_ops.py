"""pipe13 structural invariants — the properties the oracle compare can't
see: hand-computable fixed-point DSIR arithmetic on a known corpus, both
engines agreeing on injected (non-parquet) rows, and the selection
actually enriching the target domain on real data."""

from __future__ import annotations

import hashlib

import pytest

from tests.conftest import SF_DIR


pytestmark = pytest.mark.usefixtures("restore_views")


def _bucket(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 256


def _expected_scores(docs):
    """Python twin of pipe13's fixed-point arithmetic: per-bucket
    add-1-smoothed linear ratio, count-weighted per-doc mean."""
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    feats = []
    for doc_id, lang, words in docs:
        counts: dict[int, int] = {}
        for w in words:
            counts[_bucket(w)] = counts.get(_bucket(w), 0) + 1
        feats.append((doc_id, lang, counts))
        for b, c in counts.items():
            cr[b] = cr.get(b, 0) + c
            if lang == "en":
                ct[b] = ct.get(b, 0) + c
    out = {}
    for doc_id, lang, counts in feats:
        raw = sum(
            c * (((ct.get(b, 0) + 1) * (1 << 20)) // (cr[b] + 1))
            for b, c in counts.items()
        )
        n_tok = sum(counts.values())
        out[doc_id] = (lang, n_tok, raw // n_tok)
    return out


_DOCS = [
    (1, "en", ["alpha", "alpha", "beta"]),
    (2, "de", ["alpha", "gamma"]),
    (3, "de", ["gamma", "gamma", "gamma"]),
]


def _spark_pipe13(spark):
    from db_converter_spark.operators.pipeline import (
        _PIPE13_FEAT_SPARK,
        _pipe13_main,
    )

    feat = spark.sql(_PIPE13_FEAT_SPARK).localCheckpoint(eager=True)
    return spark.sql(_pipe13_main("{feat}", "DIV", ""), feat=feat)


def test_pipe13_known_fixed_point_arithmetic(spark):
    """Three hand-built docs with collision-free word buckets: every
    per-bucket ratio and per-doc score recomputes exactly in Python, the
    English doc ranks first, and ordering is (score DESC, doc_id)."""
    words = {w for _, _, ws in _DOCS for w in ws}
    assert len({_bucket(w) for w in words}) == len(words), "bucket collision"
    spark.createDataFrame(
        [(i, " ".join(ws), lang, "s", 1) for i, lang, ws in _DOCS],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).createOrReplaceTempView("documents")
    rows = _spark_pipe13(spark).collect()
    expected = _expected_scores(_DOCS)
    got = {r["doc_id"]: (r["lang"], r["n_tokens"], r["dsir_score_q20"]) for r in rows}
    assert got == expected, (got, expected)
    # the target-domain doc ranks first; order is score-desc
    assert [r["doc_id"] for r in rows] == sorted(
        expected, key=lambda d: (-expected[d][2], d)
    )
    assert rows[0]["lang"] == "en"


def test_pipe13_both_engines_on_synthetic_corpus(spark):
    """The dq06/ss11 pattern: run the DuckDB oracle on the SAME injected
    rows as the Spark structural test (including a doc whose every word
    is unseen in the target) and assert identical rows — pins the md5
    bucketing, smoothing and DIV/// floor agreement off the driver's
    parquet fixtures."""
    import duckdb

    from db_converter_spark.operators.pipeline import _PIPE13_DUCK

    docs = _DOCS + [(4, "zh", ["delta", "delta"])]
    spark.createDataFrame(
        [(i, " ".join(ws), lang, "s", 1) for i, lang, ws in docs],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).createOrReplaceTempView("documents")
    got = sorted(tuple(r) for r in _spark_pipe13(spark).collect())

    con = duckdb.connect()
    values = ", ".join(
        f"({i}, '{' '.join(ws)}', '{lang}', 's', 1)" for i, lang, ws in docs
    )
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + values
        + ") t(doc_id, text, lang, source, n_chars)"
    )
    orows = sorted(tuple(r) for r in con.execute(_PIPE13_DUCK).fetchall())
    assert got == orows, (got, orows)


def test_pipe13_enriches_target_on_real_corpus(spark):
    """On the real corpus the count-weighted ratio must point the right
    way: English documents score higher on average than non-English ones
    (the selection exists to enrich the target domain)."""
    from db_converter_spark.registry import QUERIES

    rows = QUERIES["pipe13_importance_resample"].builder(spark, SF_DIR).collect()
    assert rows, "empty selection"
    scores = [r["dsir_score_q20"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    en = [r["dsir_score_q20"] for r in rows if r["lang"] == "en"]
    other = [r["dsir_score_q20"] for r in rows if r["lang"] != "en"]
    assert en and other, "fixture should contain both target and non-target"
    assert sum(en) / len(en) > sum(other) / len(other)


def test_dd14_tie_break_and_both_engines_on_duplicate_vectors(spark):
    """dd14's packed argmax key (cs_x1m·10²⁰ − cid, DECIMAL/HUGEINT-wide
    so EVERY BIGINT cid is ordering-safe) under EXACT cosine ties — the
    case duplicate embeddings create and the parquet fixtures never pin:
    two identical centroid vectors at different cids must both lose every
    tie to the lower cid (empty high-cid cell), and the keep-rule must
    purge the more centroid-typical member — through the full TWO-LEVEL
    assignment (supers here are a subset of {0, 251, 502}; every
    membership case collapses to the flat answer on this fixture). Runs
    the SAME rows through the DuckDB oracle and asserts identical
    output."""
    import duckdb

    from db_converter_spark.operators.dedup import _DD14_DUCK

    def unit(i, j):
        v = [0.0] * 8
        v[i], v[j] = 3.0, 4.0  # norm 5, direction set by (i, j)
        return v

    rows = [
        # centroid cids under stride 251: vec_id 0, 251, 502
        (0, unit(0, 1)),    # centroid A
        (251, unit(0, 1)),  # centroid B — IDENTICAL vector to A: every
                            # vec ties between cid 0 and 251 -> cid 0 wins
        (502, unit(2, 3)),  # centroid C — distinct direction
        # members: two dups near A's direction, one loner near C's
        (10, unit(0, 1)),
        (11, [x * 2 for x in unit(0, 1)]),  # same direction, scaled
        (20, unit(2, 3)),
    ]
    spark.createDataFrame(
        [(i, e, 0) for i, e in rows],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    ).createOrReplaceTempView("embeddings")

    from db_converter_spark.catalog import register_views  # noqa: F401
    from db_converter_spark.operators.dedup import (
        _DD14_ASSIGN_SPARK,
        _DD14_PAIRS_FROM_RAW,
        _DD14_SPARK_MAIN,
        _dd14_pairs_py,
    )

    assign = spark.sql(_DD14_ASSIGN_SPARK)
    acheck = {r["vec_id"]: r["cid"] for r in assign.collect()}
    # every A-direction vec ties between the duplicate centroids 0/251
    # and must land on the LOWER cid; nothing may occupy cell 251
    assert acheck[0] == 0 and acheck[251] == 0 and acheck[10] == 0
    assert acheck[11] == 0 and acheck[502] == 502 and acheck[20] == 502
    ckpt = assign.localCheckpoint(eager=True)
    # the pair cosine runs vectorized per cid group (8-dim vectors
    # here — the worker folds over whatever dimension the data carries)
    pairs = spark.sql(_DD14_PAIRS_FROM_RAW, raw=_dd14_pairs_py(ckpt))
    # cell sizes are inlined in _DD14_SPARK_MAIN (no dd14_cells relation)
    got = sorted(
        tuple(r) for r in spark.sql(_DD14_SPARK_MAIN, pairs=pairs, assign=ckpt).collect()
    )
    cells = {r[0]: r for r in got}
    assert set(cells) == {0, 502}, cells
    # cell 0 holds {0, 251, 10, 11}: all sim-1.0 pairs are dups; the
    # keep-rule keeps ONE member, purging the other three
    assert cells[0][1] == 4 and cells[0][2] == 6 and cells[0][3] == 3
    assert cells[502][1] == 2 and cells[502][2] == 1 and cells[502][3] == 1

    con = duckdb.connect()
    values = ", ".join(
        f"({i}, CAST({e} AS FLOAT[]), 0)" for i, e in rows
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        + values
        + ") t(vec_id, embedding, label)"
    )
    orows = sorted(tuple(r) for r in con.execute(_DD14_DUCK).fetchall())
    assert got == orows, (got, orows)


def test_dd14_vectorized_assign_matches_sql_assign(spark):
    """The numpy mapInPandas assignment (explicit per-dimension fold,
    guard-banded HALF_UP rounding, first-max tie-breaks) must be
    BIT-IDENTICAL to the SQL two-level assignment on a tie-heavy fixture:
    duplicate vectors (exact cosine ties at every level) and scaled copies
    (equal direction, different norms) across non-64 dims — the edges the
    parquet fixtures never pin. The parquet fixtures and the oracle
    compare cover the data scales; this pins the machinery."""
    import random

    from db_converter_spark.operators.dedup import (
        _DD14_ASSIGN_SPARK,
        _dd14_assign_py,
    )

    random.seed(7)
    base = [[random.uniform(-1, 1) for _ in range(16)] for _ in range(20)]
    rows = [
        (i, [x * (1.0, 2.0, 0.5)[i % 3] for x in base[i % 20]], 0)
        for i in range(1200)
    ]
    spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    ).createOrReplaceTempView("embeddings")
    try:
        sql_rows = sorted(
            (r["vec_id"], r["cid"], r["cs"], tuple(r["embedding"]), r["nrm"])
            for r in spark.sql(_DD14_ASSIGN_SPARK).collect()
        )
        assign, bc = _dd14_assign_py(
            spark, spark.sql("SELECT vec_id, embedding FROM embeddings")
        )
        py_rows = sorted(
            (r["vec_id"], r["cid"], r["cs"], tuple(r["embedding"]), r["nrm"])
            for r in assign.collect()
        )
        bc.destroy()
    finally:
        spark.catalog.dropTempView("embeddings")
    assert sql_rows == py_rows


def _dd14_cell(n: int, dim: int, seed: int):
    """One cell's applyInPandas input: shuffled rows, gapped vec_ids,
    float32 embeddings with their float64 norms."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    order = rng.permutation(n)
    return pd.DataFrame(
        {
            "vec_id": (np.arange(n, dtype=np.int64) * 3 + 5)[order],
            "cid": np.full(n, 42, dtype=np.int64),
            "cs": rng.integers(0, 10**6, n),
            "embedding": list(emb[order]),
            "nrm": np.sqrt((emb[order].astype(np.float64) ** 2).sum(axis=1)),
        }
    )


def _dd14_pairs_reference(pdf):
    """The whole-cell ``triu_indices`` enumeration the blocked pair stage
    must reproduce bit for bit, in the same (i, j) order."""
    import numpy as np
    import pandas as pd

    from db_converter_spark.operators.dedup import _DD14_PY_GATE

    pdf = pdf.sort_values("vec_id", kind="mergesort")
    ids = pdf["vec_id"].to_numpy(np.int64)
    cs = pdf["cs"].to_numpy(np.int64)
    nrm = pdf["nrm"].to_numpy(np.float64)
    emb = np.stack(list(pdf["embedding"])).astype(np.float64)
    ii, jj = np.triu_indices(len(pdf), 1)
    acc = np.zeros(len(ii), dtype=np.float64)
    for d in range(emb.shape[1]):
        acc = acc + emb[ii, d] * emb[jj, d]
    sim = acc / (nrm[ii] * nrm[jj])
    keep = sim >= _DD14_PY_GATE
    return pd.DataFrame(
        {
            "va": ids[ii[keep]],
            "vb": ids[jj[keep]],
            "cid": np.full(int(keep.sum()), np.int64(42)),
            "cs_a": cs[ii[keep]],
            "cs_b": cs[jj[keep]],
            "sim_raw": sim[keep],
        }
    )


@pytest.mark.parametrize("n, dim, block", [(1500, 8, None), (60, 5, 7), (61, 4, 100)])
def test_dd14_cell_pairs_blocks_match_whole_cell(monkeypatch, n, dim, block):
    """The pair stage enumerates a cell in row blocks; the rows it returns,
    their order and every sim_raw bit match the whole-cell enumeration.
    1,500 rows span two blocks at the module's budget; the small budgets
    force one-row blocks (row 0 alone exceeds 7 pairs) and mixed blocks."""
    import pandas as pd

    from db_converter_spark.operators import dedup

    if block is not None:
        monkeypatch.setattr(dedup, "_DD14_PAIR_BLOCK", block)
    assert n * (n - 1) // 2 > dedup._DD14_PAIR_BLOCK
    pdf = _dd14_cell(n, dim, seed=n)
    got = dedup._dd14_cell_pairs(pdf)
    want = _dd14_pairs_reference(pdf)
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_exact=True
    )
