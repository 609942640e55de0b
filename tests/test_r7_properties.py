"""Property-based tests (hypothesis) for the MATH of dq07, ev17, pipe14 and
ta13: the DuckDB oracle SQL runs on adversarial generated inputs and must
match a pure-Python reference implementation. Spark == oracle is proven by
test_oracle_parity; oracle == math closes the loop without paying a Spark
session per example."""

from __future__ import annotations

import math
from collections import Counter

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from db_converter_spark.operators.events import _EV17_DUCK
from db_converter_spark.operators.pipeline import (
    _PIPE14_BUDGET_MULT,
    _PIPE14_EPOCH_CAP,
    _pipe14_tail,
)
from db_converter_spark.operators.quality import _DQ07_DUCK
from db_converter_spark.operators.textops import _TA13_DUCK


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


# ---------------------------------------------------------------------------
# pipe14 — the closed-form waterfill must equal the greedy simulation
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=1, max_value=10_000), min_size=2, max_size=12))
@settings(max_examples=60, deadline=None)
def test_pipe14_waterfill_closed_form_equals_greedy(caps):
    con = _con()
    rows = ", ".join(
        f"('s{i:02d}', {t}, {t * _PIPE14_EPOCH_CAP})" for i, t in enumerate(caps)
    )
    con.execute(
        f"CREATE VIEW lim AS SELECT * FROM (VALUES {rows}) t(source, cap_tokens, c)"
    )
    got = {
        r[0]: r[4]
        for r in con.execute("WITH x AS (SELECT 1)" + _pipe14_tail("lim", lead=",")).fetchall()
    }
    # greedy reference: repeatedly give every live source an equal share,
    # cap the ones whose limit fits under it, repeat
    budget = sum(caps) * _PIPE14_BUDGET_MULT
    limits = {f"s{i:02d}": t * _PIPE14_EPOCH_CAP for i, t in enumerate(caps)}
    alloc: dict[str, float] = {}
    live = dict(limits)
    rem = budget
    while live:
        share = rem / len(live)
        capped = {s: c for s, c in live.items() if c <= share}
        if not capped:
            for s in live:
                alloc[s] = share
            rem = 0.0
            break
        for s, c in capped.items():
            alloc[s] = float(c)
            rem -= c
            del live[s]
    for s in limits:
        assert got[s] is not None
        assert math.isclose(got[s], alloc[s], rel_tol=0, abs_tol=0.51), (
            s, got[s], alloc[s], caps,
        )


# ---------------------------------------------------------------------------
# dq07 — histogram-partitioned selection must equal sorted nearest-rank
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=10_000_000), min_size=1, max_size=300)
)
@settings(max_examples=40, deadline=None)
def test_dq07_exact_equals_sorted_nearest_rank(cents):
    con = _con()
    rows = ", ".join(f"({v / 100.0!r})" for v in cents)
    con.execute(f"CREATE VIEW orders AS SELECT * FROM (VALUES {rows}) t(o_totalprice)")
    got = {r[0]: r[2] for r in con.execute(_DQ07_DUCK).fetchall()}
    ordered = sorted(cents)
    n = len(cents)
    for q in (25, 50, 75, 90, 99):
        want = ordered[(q * n + 99) // 100 - 1]
        assert got[q] == want, (q, got[q], want, cents)


# ---------------------------------------------------------------------------
# ev17 — count-min NEVER underestimates, top rank matches the exact count
# ---------------------------------------------------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=400)
)
@settings(max_examples=30, deadline=None)
def test_ev17_one_sided_on_arbitrary_multisets(user_ids):
    con = _con()
    rows = ", ".join(f"({u})" for u in user_ids)
    con.execute(f"CREATE VIEW events AS SELECT * FROM (VALUES {rows}) t(user_id)")
    out = con.execute(_EV17_DUCK).fetchall()
    exact = Counter(user_ids)
    want_top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = {r[1]: (r[0], r[2], r[3]) for r in out}  # user -> (rnk, exact, est)
    assert len(out) == min(10, len(exact))
    for rank, (u, n) in enumerate(want_top, start=1):
        rnk, ex, est = got[u]
        assert (rnk, ex) == (rank, n), (u, rnk, rank, ex, n)
        assert est >= ex  # the one-sided guarantee, for every key


# ---------------------------------------------------------------------------
# ta13 — union-of-positions duplicate coverage vs brute force
# ---------------------------------------------------------------------------


_WORDS = st.sampled_from(["a", "bb", "c", "ddd", "e"])


@given(st.lists(_WORDS, min_size=2, max_size=24))
@settings(max_examples=30, deadline=None)
def test_ta13_coverage_matches_bruteforce(words):
    con = _con()
    text = " ".join(words).replace("'", "")
    # doc_id = 1 sidesteps the operator's own doc_id % 7 plant
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES (1, 's', '{text}'))"
        " t(doc_id, source, text)"
    )
    got = {(r[1], r[2]): r[4] for r in con.execute(_TA13_DUCK).fetchall()}
    total_chars = sum(len(w) for w in words)
    for n in range(2, 11):
        if len(words) < n:
            assert not any(k[0] == n for k in got)
            continue
        grams = [tuple(words[i:i + n]) for i in range(len(words) - n + 1)]
        counts = Counter(grams)
        if n <= 4:
            # top coverage: occurrences x gram word-chars / total, capped at 1
            top = min((g for g, c in counts.items() if c == max(counts.values())))
            frac = min(1.0, counts[top] * sum(len(w) for w in top) / total_chars)
            assert math.isclose(got[(n, "top_gram_cov")], round(frac, 6), abs_tol=1e-6)
        else:
            covered: set[int] = set()
            for i, g in enumerate(grams):
                if counts[g] >= 2:
                    covered.update(range(i, i + n))
            frac = sum(len(words[i]) for i in covered) / total_chars
            assert math.isclose(got[(n, "dup_gram_cov")], round(frac, 6), abs_tol=1e-6)
