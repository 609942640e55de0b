"""Property-based tests (hypothesis) for the pure-Python SQL machinery:
the statement splitter and the PG dialect rewriter must never corrupt
quoted content, lose statements, or crash on adversarial input; and the
multimodal image entry points must never raise on a damaged image."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from db_converter_spark.plans.pgdialect import UnsupportedConstruct, _protect, _restore, rewrite
from db_converter_spark.plans.sqlsplit import mask_strings, split_statements

# identifiers / simple exprs / literals with nasty content
_ident = st.from_regex(r"[a-z_][a-z0-9_]{0,8}", fullmatch=True)
_lit_body = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="\x00\x01"
    ),
    max_size=20,
)


@st.composite
def _statement(draw):
    """A SELECT with a string literal (possibly containing ; -- :: ~ $$)."""
    col = draw(_ident)
    body = draw(_lit_body).replace("'", "''")
    tbl = draw(_ident)
    return f"select {col}, '{body}' from {tbl}"


@given(st.lists(_statement(), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_split_preserves_statement_count_and_content(stmts):
    joined = ";\n".join(stmts) + ";"
    out = split_statements(joined)
    assert len(out) == len(stmts)
    for orig, got in zip(stmts, out):
        assert got == orig.strip()


@given(_lit_body)
@settings(max_examples=300, deadline=None)
def test_rewrite_never_touches_literal_interiors(body):
    """Whatever PG-looking operators live INSIDE a string literal must
    survive rewrite byte-for-byte (modulo the documented backslash
    doubling)."""
    lit = body.replace("'", "''")
    sql = f"select '{lit}' as c from t"
    try:
        out = rewrite(sql)
    except UnsupportedConstruct:
        return  # DO-block lookalikes may trip the guard; that's a clean error
    expected_lit = lit.replace("\\", "\\\\")
    m = re.search(r"select '(.*)' as c from t", out, re.S)
    assert m is not None, f"literal structure lost: {out!r}"
    assert m.group(1) == expected_lit


@given(st.lists(st.sampled_from(
    ["select a::int8 from t", "select x ~ 'p' from u", "select 2^8",
     "select generate_series(1, 3)", "select now()",
     # expression-nested SRFs: the auto-hoist must also be stable
     "select unnest(a)::int as v from t",
     "select coalesce(unnest(a), 0) as v from t where k > 1",
     "select f(unnest(a)) as x, unnest(b)::text as y from t group by 1"]
), min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_rewrite_is_idempotent_on_its_output(stmts):
    """rewrite(rewrite(x)) == rewrite(x) — the output dialect contains no
    PG-isms left to rewrite (xor-free casts, no ::, no ~ operators)."""
    for s in stmts:
        once = rewrite(s)
        assert rewrite(once) == once


@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="\x00\x01"), max_size=60))
@settings(max_examples=300, deadline=None)
def test_split_and_rewrite_never_crash(garbage):
    """Total functions over arbitrary ASCII input: clean exceptions only;
    masking and protection keep every character."""
    split_statements(garbage)
    for dialect in ("postgres", "spark"):
        assert len(mask_strings(garbage, dialect)) == len(garbage)
    assert _restore(*_protect(garbage)) == garbage
    try:
        rewrite(garbage)
    except UnsupportedConstruct:
        pass


# literal bodies built from every character the lexer rules turn on
_lexer_body = st.lists(
    st.sampled_from(["\\", ";", "'", "`", '"', "$x1$", "$$", "--", "/*", "*/", "a", " ", "\n"]),
    max_size=8,
).map("".join)


def _quoted(body: str, kind: str, dialect: str) -> str:
    """``body`` spelled as one ``kind`` span of ``dialect`` text."""
    if kind == "plain" and dialect == "postgres":
        return "'" + body.replace("'", "''") + "'"
    if kind in ("plain", "e"):
        esc = body.replace("\\", "\\\\").replace("'", "\\'")
        return ("E'" if kind == "e" else "'") + esc + "'"
    if kind == "ident" and dialect == "spark":  # a string literal in Spark SQL
        return '"' + body.replace("\\", "\\\\").replace('"', '\\"') + '"'
    if kind == "ident":
        return '"' + body.replace('"', '""') + '"'
    if kind == "backtick":
        return "`" + body.replace("`", "``") + "`"
    # dollar body: the first tag that closes exactly after the body
    tag = next(t for t in (f"$x{i}$" for i in range(10)) if (body + t).find(t) == len(body))
    return tag + body + tag


@st.composite
def _lexer_script(draw):
    """(dialect, statements) — each statement holds one span of every kind."""
    dialect = draw(st.sampled_from(["postgres", "spark"]))
    stmts = []
    for i in range(draw(st.integers(1, 4))):
        items = [
            f"{_quoted(draw(_lexer_body), kind, dialect)} AS c{j}"
            for j, kind in enumerate(["plain", "e", "ident", "backtick", "dollar"])
        ]
        stmts.append(f"select {', '.join(items)} from t{i}")
    return dialect, stmts


@given(_lexer_script())
@settings(max_examples=300, deadline=None)
def test_lexer_rules_round_trip(script):
    """Under both dialect rules: the split gives the statements back, the
    mask keeps the length and blanks every quoted ``;``, and protecting
    then restoring a statement is the identity."""
    dialect, stmts = script
    joined = ";\n".join(stmts) + ";"
    assert split_statements(joined, dialect) == stmts
    mask = mask_strings(joined, dialect)
    assert len(mask) == len(joined)
    assert mask.count(";") == len(stmts)
    for s in stmts:
        assert _restore(*_protect(s)) == s


_WRAPPERS = ["{srf}", "{srf}::int", "coalesce({srf}, 0)", "f({srf}) + 1"]


@given(
    st.sampled_from(_WRAPPERS),
    st.sampled_from(["unnest(arr)", "generate_series(1, n)"]),
    st.sampled_from(["", " where k > 0", " group by k", " order by 1 limit 5"]),
)
@settings(max_examples=100, deadline=None)
def test_hoisted_srf_leaves_no_nested_generator(wrapper, srf, clause):
    """After rewrite, any explode() between SELECT and FROM is the WHOLE
    select item (Spark's requirement); nested ones moved to LATERAL VIEW."""
    import re

    sql = f"select k, {wrapper.format(srf=srf)} as v from t{clause}"
    out = rewrite(sql)
    assert rewrite(out) == out  # hoisting is idempotent
    head = out[: re.search(r"\bfrom\b", out, re.I).start()]
    if "explode(" in head:
        # only legal as the entire item: "select k, explode(...) as v"
        assert re.search(r",\s*explode\(", head), out
        assert wrapper == "{srf}", out
    else:
        assert "LATERAL VIEW explode(" in out, out


# ---------------------------------------------------------------------------
# mm05: the Pandas-UDF simhash must equal the SQL formula on ANY text —
# the corpus oracle pins it on real documents; this pins unicode, empties,
# and degenerate whitespace the corpus doesn't contain.
# ---------------------------------------------------------------------------


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
    )
)
@settings(max_examples=200, deadline=None)
def test_mm05_udf_simhash_matches_sql_formula(text):
    import duckdb
    import pandas as pd

    from db_converter_spark.operators.multimodal import _phash_batch

    [out] = list(
        _phash_batch(
            iter([pd.DataFrame({"doc_id": [0], "payload": [text.encode("utf-8")]})])
        )
    )
    py_hash = int(out["phash"][0])
    con = duckdb.connect()
    [(sql_hash,)] = con.execute(
        """
        SELECT CAST(list_sum([CASE WHEN 2 * length(list_filter(hs, h -> (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1))
                                    > length(hs)
                              THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END
                              for j in generate_series(0, 31)]) AS BIGINT)
        FROM (SELECT list_transform(list_filter(string_split(?, ' '), w -> w <> ''),
                                    w -> (('0x' || substr(md5(w), 1, 8))::BIGINT)) AS hs)
        """,
        [text],
    ).fetchall()
    assert py_hash == (sql_hash or 0), (text, py_hash, sql_hash)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        min_size=1,
        max_size=30,
    )
)
def test_ta09_bpe_oracle_matches_reference_python_bpe(words):
    """ta09's merge-learning semantics (greedy left-first replace-all,
    argmax by count desc then pair asc) pinned against a plain-Python
    reference BPE on arbitrary corpora — the same cross-implementation
    guarantee mm05's UDF test gives the perceptual hash. Runs the DuckDB
    oracle (same SQL text parity then extends to Spark via
    test_oracle_parity)."""
    import collections

    import duckdb

    from db_converter_spark.operators.textops import _TA09_N_MERGES, _ta09_duck

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?)", [(" ".join(words),)]
    )
    got = {
        r[0]: (r[1], r[2], r[4])
        for r in con.execute(_ta09_duck()).fetchall()
    }

    counts = collections.Counter(w for w in words if w)
    spell = {w: "··".join(list(w) + ["</w>"]) for w in counts}
    for it in range(1, _TA09_N_MERGES + 1):
        pc: collections.Counter = collections.Counter()
        for w, sp in spell.items():
            s = sp.split("··")
            for j in range(len(s) - 1):
                pc[(s[j], s[j + 1])] += counts[w]
        if not pc:
            assert it not in got
            break
        m = max(pc.values())
        pa, pb = sorted(k for k, v in pc.items() if v == m)[0]
        assert got.get(it) == (pa, pb, pc[(pa, pb)]), (it, got.get(it), (pa, pb))
        pat, rep = f"·{pa}··{pb}·", f"·{pa}{pb}·"
        spell = {w: ("·" + sp + "·").replace(pat, rep)[1:-1] for w, sp in spell.items()}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "zh"]),
            st.lists(
                st.text(alphabet="abcdef", min_size=1, max_size=5),
                min_size=1,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_pipe13_oracle_matches_python_twin(docs):
    """pipe13's fixed-point DSIR arithmetic (md5 bucketing, add-1
    smoothing, floor-division score) pinned against a plain-Python twin
    on arbitrary corpora — including all-target, no-target and
    bucket-collision cases the hand-built structural fixture can't
    cover. Runs the DuckDB oracle; Spark parity rides
    test_oracle_parity and the dd14 semantic tests."""
    import duckdb

    from db_converter_spark.operators.pipeline import _PIPE13_DUCK
    from tests.test_tranche7_ops import _expected_scores

    rows = [(i + 1, lang, words) for i, (lang, words) in enumerate(docs)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, ?, 's', 1)",
        [(i, " ".join(ws), lang) for i, lang, ws in rows],
    )
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(_PIPE13_DUCK).fetchall()
    }
    expected = _expected_scores(rows)
    assert got == expected, (got, expected)


# ---------------------------------------------------------------------------
# image entry points over damaged payloads
# ---------------------------------------------------------------------------


def _check_image_entry_points(payload: bytes) -> None:
    """``decode_image``, ``sample_frames`` and ``resize_image`` return
    their contract types for any bytes: one bad payload must not fail the
    whole mapInPandas task."""
    from db_converter_spark.operators.multimodal import (
        decode_image,
        resize_image,
        sample_frames,
    )

    meta = decode_image(payload)
    assert all(isinstance(meta[k], int) for k in ("width", "height", "n_frames"))
    assert meta["format"] in ("png", "jpeg", "gif", "webp")
    frames = sample_frames(payload)
    assert frames is None or len(frames) == 3
    resized = resize_image(payload)
    assert resized is None or len(resized) == 5


def test_image_entry_points_never_raise_on_any_prefix():
    from tests.image_fixtures import FIXTURES

    for payload, _meta in FIXTURES.values():
        for cut in range(len(payload)):
            _check_image_entry_points(payload[:cut])


@st.composite
def _damaged_image(draw):
    """A fixture with up to 8 bytes overwritten, then optionally cut; the
    cut is drawn from the header region half of the time."""
    from tests.image_fixtures import FIXTURES

    payload = bytearray(FIXTURES[draw(st.sampled_from(sorted(FIXTURES)))][0])
    for _ in range(draw(st.integers(0, 8))):
        payload[draw(st.integers(0, len(payload) - 1))] = draw(st.integers(0, 255))
    if draw(st.booleans()):
        cut = draw(st.one_of(st.integers(0, 48), st.integers(0, len(payload))))
        payload = payload[:cut]
    return bytes(payload)


@given(_damaged_image())
@settings(max_examples=400, deadline=None, derandomize=True)
def test_image_entry_points_never_raise_on_damaged_payloads(payload):
    _check_image_entry_points(payload)
