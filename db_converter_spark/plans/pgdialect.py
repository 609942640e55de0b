r"""PostgreSQL → Spark SQL dialect rewriter (SURVEY §4.3 item 1).

The reference ships SQL packets written for PostgreSQL and hands them to the
server verbatim (reference: dbccore/dbccore.py:852-865). Our engine executes
through Spark SQL, whose dialect covers almost all of the corpus natively
(CTEs, joins, ordinals, ``ilike``, ``||``, ``IS DISTINCT FROM``, interval
literals, ``bool_or`` …). This module textually rewrites the remaining
PG-isms so reference-style packets run unmodified:

- ``expr::type`` casts → ``CAST(expr AS type)`` with PG→Spark type mapping
  (``int4``→``int``, ``text``→``string``, ``serial``→``bigint`` …), the
  same mapping for ``CAST(expr AS type)`` and CREATE TABLE column types;
  ``'…'::interval`` → ``INTERVAL '…'`` literal; ``'{a,b}'::text[]`` →
  ``array('a','b')``.
- set-returning ``generate_series(a,b[,s])`` → ``explode(sequence(a,b[,s]))``
  (valid in both SELECT-list and FROM positions — Spark TVF).
- ``regexp_split_to_table(x,p)`` → ``explode(split(x,p))``;
  ``unnest(x)`` → ``explode(x)``.
- ``array_to_string`` → ``array_join``; ``array_agg(DISTINCT x)`` →
  ``array_sort(collect_set(x))`` (deterministic, SURVEY §7.4.3);
  ``array_agg(x)`` → ``collect_list(x)``; ``string_agg(x,s)`` →
  ``array_join(collect_list(x), s)``.
- ``substring(x from a for b)`` → ``substr(x,a,b)``;
  ``substring(x from 'regex')`` → ``regexp_extract(x,'regex',0)``.
- regex operators ``~ ~* !~ !~*`` → ``RLIKE`` (case-insensitive via an
  inline ``(?i)`` flag on literal patterns).
- ``x = ANY(arr)`` → ``array_contains(arr, x)``.
- ``IS NOT DISTINCT FROM`` → ``<=>``.
- ``a ^ b`` → ``power(a, b)`` (simple operands).
- ``now()`` / ``clock_timestamp()`` → ``current_timestamp()``;
  ``current_setting('k')`` → constant folded from the engine's settings map
  (reference: prepare_session GUCs, dbccore/dbccore.py:347-377).
- ``row_number() OVER ()`` → ``OVER (ORDER BY monotonically_increasing_id())``
  — PG's "whole-set numbering in arrival order" (SURVEY §2.6); callers who
  need a deterministic order should order the window explicitly.
- ``DO $$…$$`` blocks raise :class:`UnsupportedConstruct` directing authors
  to a ``.py`` step — the design decision of SURVEY §2.10.

The rewriter is token-safe: before any pass runs, every span of
``sqlsplit.lex`` read as PostgreSQL text is replaced by a sentinel, so
nothing inside quotes, comments or dollar bodies is ever rewritten. At the
end each span is respelled for Spark:

    span            PostgreSQL text (input)         Spark SQL text (output)
    --------------  ------------------------------  ------------------------
    -- ..., /*...*/ comment; /* */ nests            kept
    '...'           '' doubles; \ is a character    '...', every \ doubled
    E'...'          '' doubles; \ escapes           '...' (E dropped)
    "..."           identifier; "" doubles          `...`
    `...`           identifier; `` doubles          kept
    $tag$...$tag$   body; tag empty or identifier   kept

Passes find brackets, top-level commas and top-level keywords with the
``sqlsplit`` bracket helpers over the protected text.
"""

from __future__ import annotations

import re

from db_converter_spark.plans.sqlsplit import close_bracket, find_top, lex, split_top

__all__ = ["rewrite", "UnsupportedConstruct"]


class UnsupportedConstruct(Exception):
    """A PG construct with no Spark translation (DO blocks → py-steps)."""


_SENT = "\x01{}\x01"
_SENT_RE = re.compile("\x01(\\d+)\x01")

# PG type name → Spark SQL type (SURVEY §1.3 table).
_TYPE_MAP = {
    "int2": "smallint",
    "smallint": "smallint",
    "int4": "int",
    "int": "int",
    "integer": "int",
    "int8": "bigint",
    "bigint": "bigint",
    "serial": "bigint",
    "bigserial": "bigint",
    "float4": "float",
    "real": "float",
    "float8": "double",
    "double precision": "double",
    "bool": "boolean",
    "boolean": "boolean",
    "text": "string",
    "varchar": "string",
    "bpchar": "string",
    "char": "string",
    "character": "string",
    "character varying": "string",
    "name": "string",
    "uuid": "string",
    "json": "string",
    "jsonb": "string",
    "xml": "string",
    "bytea": "binary",
    "numeric": "decimal(38,18)",
    "date": "date",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "timestamp with time zone": "timestamp",
    "timestamp without time zone": "timestamp",
    "oid": "bigint",
    "regclass": "bigint",  # oid-valued; pg_*_size lookups key on the int oid
    # regtype renders as the type NAME (pg_attribute.atttypid is emulated as
    # the typname string, so ``atttypid = 'x'::regtype`` compares directly)
    "regtype": "string",
}


# One PG type name: a word, or one of the multi-word spellings, with an
# optional ``(p[,s])`` and ``[]``. Multi-word types are limited to the
# known PG spellings so a match never swallows following keywords
# ("x::int8 from t").
_PG_TYPE = (
    r"\w+(?:\s+varying|\s+precision|\s+with(?:out)?\s+time\s+zone)?"
    r"(?:\s*\([\d\s,]+\))?(?:\s*\[\s*\])?"
)
_CHAR_TYPES = ("varchar", "char", "bpchar", "character", "character varying")


def _norm_type(pg_type: str) -> str:
    return re.sub(r"\s+", " ", pg_type.strip().lower())


def _map_type(pg_type: str) -> str:
    t = _norm_type(pg_type)
    if t.endswith("[]"):
        return f"array<{_map_type(t[:-2])}>"
    m = re.match(r"(\w+(?: \w+)?)\s*\(([\d\s,]+)\)$", t)
    if m and m.group(1) in ("numeric", "decimal"):
        return f"decimal({m.group(2)})"
    if m and m.group(1) in _CHAR_TYPES:
        return "string"
    return _TYPE_MAP.get(t, t)


# ------------------------------------------------------------------ protect


def _protect(sql: str) -> tuple[str, list[str]]:
    """Replace every :func:`~db_converter_spark.plans.sqlsplit.lex` span of
    PostgreSQL text with a ``\\x01<i>\\x01`` sentinel; ``lits[i]`` keeps
    the span's text."""
    lits: list[str] = []
    out, pos = [], 0
    for a, b in lex(sql):
        out += (sql[pos:a], _SENT.format(len(lits)))
        lits.append(sql[a:b])
        pos = b
    out.append(sql[pos:])
    return "".join(out), lits


def _restore(text: str, lits: list[str]) -> str:
    return _SENT_RE.sub(lambda m: lits[int(m.group(1))], text)


def _is_string_lit(tok: str, lits: list[str]) -> bool:
    m = _SENT_RE.fullmatch(tok)
    return bool(m) and lits[int(m.group(1))].startswith(("'", "e'", "E'"))


def _lit_value(tok: str, lits: list[str]) -> str:
    """Unquoted value of a protected string literal."""
    raw = lits[int(_SENT_RE.fullmatch(tok).group(1))]
    if raw[0] in "eE":
        raw = raw[1:]
    return raw[1:-1].replace("''", "'")


# ---------------------------------------------------------- balanced calls


def _find_call(text: str, name: str, start: int = 0) -> tuple[int, int, int] | None:
    """Locate ``name ( … )`` → (name_start, args_start, close_paren_idx)."""
    m = re.compile(rf"(?<![\w.])({name})\s*\(", re.I).search(text, start)
    if not m:
        return None
    return m.start(), m.end(), close_bracket(text, m.end())


def _split_args(argtext: str) -> list[str]:
    """Top-level comma-separated arguments, stripped; an empty last one is
    dropped."""
    args = [argtext[a:b].strip() for a, b in split_top(argtext)]
    return args if args[-1] else args[:-1]


def _rewrite_calls(text: str, name: str, fn) -> str:
    """Repeatedly rewrite every ``name(...)`` call via ``fn(args_text)``."""
    pos = 0
    while True:
        hit = _find_call(text, name, pos)
        if hit is None:
            return text
        s, a, e = hit
        replacement = fn(text[a:e])
        text = text[:s] + replacement + text[e + 1 :]
        pos = s + len(replacement)


# ----------------------------------------------------------------- passes


def _rw_do_block(text: str, lits: list[str]) -> None:
    if re.match(r"\s*do\s+\x01", text, re.I):
        raise UnsupportedConstruct(
            "DO $$…$$ blocks have no Spark translation; write this step as a"
            " NN_step.py python step (SURVEY §2.10)"
        )


_FROM_SRF_RE = re.compile(r"\bfrom\s+(generate_series|unnest)\s*\(", re.I)
_SQL_KEYWORDS = frozenset(
    "where group order limit having on join inner left right full cross"
    " union except intersect offset fetch for window natural using as".split()
)


def _rw_from_srf_alias(text: str) -> str:
    """FROM-position set-returning functions with an alias: in PG the bare
    alias names the COLUMN too (``FROM generate_series(1,3) g`` yields a
    column ``g``; ``AS t(g)`` names table t, column g — reference packets
    write both, e.g. test_common/02_gen_obj.sql). Spark's ``explode``
    yields ``col``, so splice the alias through an explicit subquery
    BEFORE the generic call rewrite runs. Unaliased calls fall through to
    the plain ``explode(sequence(...))`` path."""
    fn_body = {"generate_series": "sequence"}
    pos = 0
    while True:
        m = _FROM_SRF_RE.search(text, pos)
        if not m:
            return text
        close = close_bracket(text, m.end())
        args = text[m.end() : close]
        am = re.match(
            r"\s*(?:as\s+)?([A-Za-z_]\w*)(\s*\(\s*([A-Za-z_]\w*)\s*\))?",
            text[close + 1 :],
            re.I,
        )
        if not am or am.group(1).lower() in _SQL_KEYWORDS:
            pos = close + 1  # unaliased (or keyword follows): generic path
            continue
        fn = m.group(1).lower()
        inner = f"{fn_body[fn]}({args})" if fn in fn_body else args
        tbl, col = am.group(1), am.group(3) or am.group(1)
        repl = f"FROM (SELECT explode({inner}) AS {col}) {tbl}"
        text = text[: m.start()] + repl + text[close + 1 + am.end() :]
        pos = m.start() + len(repl)


def _rw_functions(text: str, lits: list[str], settings: dict[str, str]) -> str:
    text = _rw_from_srf_alias(text)
    text = _rewrite_calls(
        text, "generate_series", lambda a: f"explode(sequence({a}))"
    )
    text = _rewrite_calls(
        text,
        "regexp_split_to_table",
        lambda a: "explode(split({}, {}))".format(*_split_args(a)[:2]),
    )
    text = _rewrite_calls(text, "unnest", lambda a: f"explode({a})")
    text = _rewrite_calls(text, "array_to_string", lambda a: f"array_join({a})")

    def agg(a: str) -> str:
        m = re.match(r"\s*distinct\s+(.*)$", a, re.I | re.S)
        if m:
            return f"array_sort(collect_set({m.group(1)}))"
        return f"collect_list({a})"

    text = _rewrite_calls(text, "array_agg", agg)

    def string_agg(a: str) -> str:
        # PG: string_agg(x, sep [ORDER BY k [ASC|DESC]]).  Without the inner
        # ORDER BY the concatenation order is unspecified in PG, Spark and
        # DuckDB alike; with it, sort the collected (key, value) pairs.
        x, rest = _split_args(a)[:2]
        m = re.match(r"(.*?)\s+order\s+by\s+(.*)$", rest, re.I | re.S)
        if not m:
            return f"array_join(collect_list({x}), {rest})"
        sep, key = m.group(1).strip(), m.group(2).strip()
        desc = False
        km = re.match(r"(.*?)\s+(asc|desc)\s*$", key, re.I | re.S)
        if km:
            key, desc = km.group(1).strip(), km.group(2).lower() == "desc"
        arr = f"array_sort(collect_list(struct({key} as _k, {x} as _v)))"
        if desc:
            arr = f"reverse({arr})"
        return f"array_join(transform({arr}, p -> p._v), {sep})"

    text = _rewrite_calls(text, "string_agg", string_agg)

    def substring(a: str) -> str:
        m = re.match(r"(.*?)\s+from\s+(.*?)(?:\s+for\s+(.*))?$", a, re.I | re.S)
        if not m:
            return f"substring({a})"
        x, frm, length = m.group(1), m.group(2), m.group(3)
        if length is not None:
            return f"substr({x}, {frm}, {length})"
        if _is_string_lit(frm.strip(), lits):
            return f"regexp_extract({x}, {frm}, 0)"
        return f"substr({x}, {frm})"

    text = _rewrite_calls(text, "substring", substring)
    text = _rewrite_calls(text, "now", lambda a: "current_timestamp()")
    text = _rewrite_calls(text, "clock_timestamp", lambda a: "current_timestamp()")

    def pg_to_char(a: str) -> str:
        # to_char(x, 'HH12:MI:SS.MS') over an INTERVAL (PG formats intervals
        # with time patterns; reference: packets/dba_active_maint/
        # 01_step.sql:8) → EXTRACT-based concat. Works for timestamps too —
        # extract() is polymorphic where Spark's to_char is not.
        args = _split_args(a)
        if len(args) == 2 and _is_string_lit(args[1].strip(), lits):
            fmt = _lit_value(args[1].strip(), lits)
            if re.fullmatch(r"HH(?:12|24)?:MI:SS(?:\.MS)?", fmt, re.I):
                x = f"({args[0]})"
                hh = f"lpad(CAST(extract(HOUR FROM {x}) AS STRING), 2, '0')"
                mi = f"lpad(CAST(extract(MINUTE FROM {x}) AS STRING), 2, '0')"
                ss = (
                    "lpad(CAST(CAST(floor(extract(SECOND FROM "
                    f"{x})) AS BIGINT) AS STRING), 2, '0')"
                )
                out = f"concat({hh}, ':', {mi}, ':', {ss}"
                if fmt.upper().endswith(".MS"):
                    out += (
                        ", '.', lpad(CAST(CAST(floor((extract(SECOND FROM "
                        f"{x}) % 1) * 1000) AS BIGINT) AS STRING), 3, '0')"
                    )
                return out + ")"
        return f"to_char({a})"

    text = _rewrite_calls(text, "to_char", pg_to_char)

    def pg_date_trunc(a: str) -> str:
        # PG truncates INTERVALS too; its sub-second plural units don't
        # exist in Spark. Render the ms/µs-truncated HH:MM:SS string
        # instead (what the packet displays; PG shows the same text for
        # sub-day intervals, and the surrounding CASE's other branch is a
        # string literal — reference: packets/dba_long_queries/
        # 01_step.sql:7-13). Sub-day assumption documented: activity ages.
        args = _split_args(a)
        if (
            len(args) == 2
            and _is_string_lit(args[0].strip(), lits)
            and _lit_value(args[0].strip(), lits).lower()
            in ("milliseconds", "microseconds")
        ):
            unit = _lit_value(args[0].strip(), lits).lower()
            x = f"({args[1]})"
            hh = f"lpad(CAST(extract(HOUR FROM {x}) AS STRING), 2, '0')"
            mi = f"lpad(CAST(extract(MINUTE FROM {x}) AS STRING), 2, '0')"
            ss = (
                "lpad(CAST(CAST(floor(extract(SECOND FROM "
                f"{x})) AS BIGINT) AS STRING), 2, '0')"
            )
            scale, width = (1000, 3) if unit == "milliseconds" else (1000000, 6)
            frac = (
                "lpad(CAST(CAST(floor((extract(SECOND FROM "
                f"{x}) % 1) * {scale}) AS BIGINT) AS STRING), {width}, '0')"
            )
            return f"concat({hh}, ':', {mi}, ':', {ss}, '.', {frac})"
        return f"date_trunc({a})"

    text = _rewrite_calls(text, "date_trunc", pg_date_trunc)

    def pg_age(a: str) -> str:
        # two-arg age(x, y) = x - y (interval); one-arg age(xid) is the
        # TRANSACTION-age form in every corpus use (relfrozenxid,
        # backend_xmin, datfrozenxid) — identically 0 on parquet: no MVCC,
        # no wraparound, matching the zero frozen-xid ages in pg_class
        # (reference: packets/alert_xact_age/01_step.sql:4-9).
        args = _split_args(a)
        if len(args) == 2:
            return f"(({args[0]}) - ({args[1]}))"
        # CAST, not a bare 0: `ORDER BY age(x)` must not become an ordinal
        return "CAST(0 AS BIGINT)"

    text = _rewrite_calls(text, "age", pg_age)
    text = _rewrite_calls(text, "mxid_age", lambda a: "CAST(0 AS BIGINT)")

    def current_setting(a: str) -> str:
        tok = a.strip()
        if _is_string_lit(tok, lits):
            v = settings.get(_lit_value(tok, lits))
            if v is None:
                return "CAST(NULL AS STRING)"
            return "'" + str(v).replace("'", "''") + "'"
        return "CAST(NULL AS STRING)"

    text = _rewrite_calls(text, "current_setting", current_setting)

    def _new_lit(value: str) -> str:
        lits.append("'" + value.replace("'", "''") + "'")
        return _SENT.format(len(lits) - 1)

    def pg_format(a: str) -> str:
        # PG format(): %s literal, %I identifier-quoted, %L literal-quoted,
        # %% percent (reference packets: dba_idx_diag/06_step.sql,
        # alert_max_connections/01_step.sql). Spark's format_string only
        # has %s — %I/%L compile to wrapped args. Dynamic (non-literal)
        # format strings can only support %s → plain format_string.
        args = _split_args(a)
        fmt_tok = args[0].strip()
        if not _is_string_lit(fmt_tok, lits):
            return f"format_string({a})"
        fmt = _lit_value(fmt_tok, lits)
        rest = [s.strip() for s in args[1:]]
        out_fmt: list[str] = []
        new_args: list[str] = []
        ai = 0
        i = 0
        while i < len(fmt):
            c = fmt[i]
            if c == "%" and i + 1 < len(fmt):
                spec = fmt[i + 1]
                if spec == "%":
                    out_fmt.append("%%")
                elif spec in "sIL" and ai < len(rest):
                    arg = rest[ai]
                    ai += 1
                    if spec == "I":
                        new_args.append(f"quote_ident(cast({arg} as string))")
                    elif spec == "L":
                        q, qq, nul = _new_lit("'"), _new_lit("''"), _new_lit("NULL")
                        new_args.append(
                            f"coalesce(concat({q}, replace(cast({arg} as string),"
                            f" {q}, {qq}), {q}), {nul})"
                        )
                    else:
                        new_args.append(f"cast({arg} as string)")
                    out_fmt.append("%s")
                else:
                    out_fmt.append("%" + spec)
                i += 2
                continue
            out_fmt.append(c)
            i += 1
        fmt_lit = _new_lit("".join(out_fmt))
        tail = (", " + ", ".join(new_args)) if new_args else ""
        return f"format_string({fmt_lit}{tail})"

    text = _rewrite_calls(text, "format", pg_format)

    # nextval()/currval()/setval() pass through untouched: they are not
    # Spark functions — the RUNNER inlines them from the ledger-managed
    # sequence counters (plans/sequences.py, SURVEY §7.4.6). Outside the
    # runner they fail analysis with UNRESOLVED_ROUTINE, which is the
    # right error for a sequence call with no sequence store.
    return text


_OPERAND = r"[\w.\x01]+(?:\[[^\]]*\])?"

# words that can precede "(" without being a function name
_KEYWORDS = frozenset(
    "select where and or not from when then else case end on join in as by"
    " group order having union all distinct values set like ilike between is"
    " limit offset exists intersect except using with lateral cross inner"
    " left right full outer".split()
)


def _rw_array_ctor(text: str) -> str:
    """PG ``ARRAY[a, b, c]`` constructor → Spark ``array(a, b, c)``
    (reference: dba_top_tables/01_step.sql ``ARRAY['pg_catalog'::name, …]``).
    Nested constructors resolve on repeat passes."""
    while m := re.search(r"\barray\s*\[", text, re.I):
        j = close_bracket(text, m.end())
        text = text[: m.start()] + f"array({text[m.end() : j]})" + text[j + 1 :]
    return text


def _rw_any(text: str) -> str:
    """``x = ANY(arr)`` → ``array_contains(arr, x)``; ``x <> ALL(arr)`` →
    ``NOT array_contains(arr, x)`` (SURVEY §2.3)."""
    while m := re.search(rf"({_OPERAND})\s*(=\s*any|<>\s*all|!=\s*all)\s*\(", text, re.I):
        j = close_bracket(text, m.end())
        neg = "" if m.group(2).lower().startswith("=") else "NOT "
        text = (
            text[: m.start()]
            + f"{neg}array_contains({text[m.end() : j]}, {m.group(1)})"
            + text[j + 1 :]
        )
    return text


# an operand that may carry a PG array-cast suffix ('{a,b}'::text[]), which
# _rw_casts later rewrites to an array(...) literal
_CONT_OPERAND = rf"{_OPERAND}(?:\s*::\s*\w+\s*\[\s*\])?"


def _rw_containment(text: str) -> str:
    """Array containment operators (SURVEY §2.3; reference:
    alert_check_autovacuum/01_step.sql:6 ``'{...}'::text[] @> reloptions``).

    ``X @> Y`` (X contains Y) → ``size(array_except(Y, X)) = 0``; ``<@`` is
    the mirror. NULL semantics match PG: array_except propagates NULL, so a
    NULL operand (e.g. reloptions on an optionless table) never matches.
    Runs before cast rewriting so the operand pattern can carry the
    ``::text[]`` suffix."""
    text = re.sub(
        rf"({_CONT_OPERAND})\s*@>\s*({_CONT_OPERAND})",
        lambda m: f"(size(array_except({m.group(2)}, {m.group(1)})) = 0)",
        text,
    )
    text = re.sub(
        rf"({_CONT_OPERAND})\s*<@\s*({_CONT_OPERAND})",
        lambda m: f"(size(array_except({m.group(1)}, {m.group(2)})) = 0)",
        text,
    )
    return text


_ALTER_SET_RE = re.compile(
    r"^(\s*alter\s+table\s+(?:if\s+exists\s+)?[\w.\x01`\"]+\s+)set\s*\((.+)\)\s*$",
    re.I | re.S,
)
_ALTER_RESET_RE = re.compile(
    r"^(\s*alter\s+table\s+(?:if\s+exists\s+)?[\w.\x01`\"]+\s+)reset\s*\((.+)\)\s*$",
    re.I | re.S,
)


def _rw_alter_options(text: str, lits: list[str]) -> str:
    """PG storage-parameter DDL onto Spark table properties (reference:
    ``ALTER TABLE ... SET (autovacuum_enabled = false)``,
    packets/test_insert_info/01_step.sql:2). The pg_catalog emulation
    renders TBLPROPERTIES back as reloptions, so options set through this
    path are visible to the alert packets exactly as in PG."""
    m = _ALTER_SET_RE.match(text)
    if m:
        pairs = []
        for item in m.group(2).split(","):
            k, _, v = item.partition("=")
            if not _:
                return text  # not a k=v option list — leave untouched
            v = v.strip()
            v = _lit_value(v, lits) if _is_string_lit(v, lits) else v
            pairs.append(f"'{k.strip()}'='{v}'")
        return f"{m.group(1)}SET TBLPROPERTIES ({', '.join(pairs)})"
    m = _ALTER_RESET_RE.match(text)
    if m:
        keys = ", ".join(f"'{k.strip()}'" for k in m.group(2).split(","))
        return f"{m.group(1)}UNSET TBLPROPERTIES IF EXISTS ({keys})"
    return text


_MIRROR = str.maketrans("()[]", ")(][")


def _open_paren(text: str) -> int:
    """Index of the bracket that the ``)`` ending ``text`` closes (0 when
    unbalanced): the matching close bracket in the mirrored text."""
    return max(0, len(text) - 1 - close_bracket(text[::-1].translate(_MIRROR), 1))


def _rw_casts(text: str, lits: list[str]) -> str:
    """``expr::type`` → ``CAST(expr AS type)`` with special interval/array
    literal forms. Handles identifier, literal-sentinel, and ``(...)``/
    function-call left operands; chained casts resolve innermost-first."""
    type_re = re.compile(
        r"::\s*(\x01\d+\x01"  # double-quoted type name ('x'::"char") — masked
        rf"|{_PG_TYPE})",
        re.I,
    )
    while True:
        m = type_re.search(text)
        if not m:
            return text
        pg_type = m.group(1).strip()
        if _SENT_RE.fullmatch(pg_type):
            # double-quoted PG type identifier ('r'::"char") — unmask
            pg_type = lits[int(_SENT_RE.fullmatch(pg_type).group(1))].strip('"')
        pg_type = re.sub(r"\s*\[\s*\]", "[]", pg_type)
        # find left operand
        left_end = m.start()
        seg = text[:left_end]
        if seg.rstrip().endswith(")"):
            start = _open_paren(seg.rstrip())
            # include a preceding function name if present (but never a SQL
            # keyword — "select (a+b)::text" has no function call)
            fn = re.search(r"[\w.\x01]+\s*$", seg[:start])
            if fn and fn.group(0).strip().lower() not in _KEYWORDS:
                start = fn.start()
            operand = seg[start:].rstrip()
        else:
            om = re.search(rf"({_OPERAND})\s*$", seg)
            if not om:  # nothing to our left — leave as-is to avoid loops
                return text
            start = om.start()
            operand = om.group(1)
        rest = text[m.end() :]
        base = pg_type.rstrip("[]").strip().lower()
        if base == "interval" and _is_string_lit(operand.strip(), lits):
            repl = f"INTERVAL {operand}"
        elif pg_type.endswith("[]") and _is_string_lit(operand.strip(), lits):
            items = [
                s.strip().strip('"')
                for s in _lit_value(operand.strip(), lits).strip("{}").split(",")
                if s.strip()
            ]
            elem = _map_type(pg_type[:-2])
            if elem == "string":
                inner = ", ".join("'" + s.replace("'", "''") + "'" for s in items)
            else:
                inner = ", ".join(items)
            repl = f"array({inner})" if items else f"CAST(array() AS array<{elem}>)"
        else:
            repl = f"CAST({operand} AS {_map_type(pg_type)})"
        text = text[:start] + repl + rest


def _rw_cast_types(text: str) -> str:
    """``CAST(expr AS pg_type)`` → ``CAST(expr AS spark_type)``: Spark
    rejects PG-only names (``int8``, ``text``, ``character varying`` …) and
    reads a bare ``numeric`` as ``decimal(10,0)``. A type that maps to
    itself is left as written."""
    edits = []
    for call in re.finditer(r"\bcast\s*\(", text, re.I):
        end = close_bracket(text, call.end())
        last_as = None
        pos = call.end()
        while m := find_top(text, r"\bas\b", pos, end):
            last_as, pos = m, m.end()
        if last_as is None:
            continue
        ty = text[last_as.end() : end].strip()
        if not re.fullmatch(_PG_TYPE, ty, re.I):
            continue
        spark_type = _map_type(ty)
        if spark_type != _norm_type(ty):
            start = text.index(ty, last_as.end())
            edits.append((start, start + len(ty), spark_type))
    for start, stop, spark_type in sorted(edits, reverse=True):
        text = text[:start] + spark_type + text[stop:]
    return text


def _rw_operators(text: str, lits: list[str]) -> str:
    # null-safe equality phrase → operator (Spark parses IS DISTINCT FROM
    # natively; only the NOT form needs help)
    text = re.sub(r"\bis\s+not\s+distinct\s+from\b", "<=>", text, flags=re.I)

    # regex matches — longest operators first
    def ci(pat_tok: str) -> str:
        if _is_string_lit(pat_tok, lits):
            idx = int(_SENT_RE.fullmatch(pat_tok).group(1))
            val = _lit_value(pat_tok, lits)
            lits[idx] = "'(?i)" + val.replace("'", "''") + "'"
        return pat_tok

    # left side may be a call or cast (``version() ~ '…'``,
    # ``CAST(x AS string) !~ '…'`` — casts were rewritten one pass earlier)
    _RX_OP = rf"[\w.\x01]+\s*\([^()]*\)|{_OPERAND}"
    text = re.sub(
        rf"({_RX_OP})\s*!~\*\s*({_RX_OP})",
        lambda m: f"NOT ({m.group(1)} RLIKE {ci(m.group(2))})",
        text,
    )
    text = re.sub(
        rf"({_RX_OP})\s*!~\s*({_RX_OP})",
        lambda m: f"NOT ({m.group(1)} RLIKE {m.group(2)})",
        text,
    )
    text = re.sub(
        rf"({_RX_OP})\s*~\*\s*({_RX_OP})",
        lambda m: f"{m.group(1)} RLIKE {ci(m.group(2))}",
        text,
    )
    text = re.sub(
        rf"({_RX_OP})\s*(?<![<>!~=])~\s*({_RX_OP})",
        lambda m: f"{m.group(1)} RLIKE {m.group(2)}",
        text,
    )
    # power
    text = re.sub(
        rf"({_OPERAND})\s*\^\s*({_OPERAND})",
        lambda m: f"power({m.group(1)}, {m.group(2)})",
        text,
    )
    # empty window → arrival-order numbering
    text = re.sub(
        r"\bover\s*\(\s*\)",
        "OVER (ORDER BY monotonically_increasing_id())",
        text,
        flags=re.I,
    )
    # catalog emulation: information_schema.columns → the temp view built by
    # catalog.create_information_schema_views (SURVEY §4.3 item 2)
    text = re.sub(
        r"\binformation_schema\s*\.\s*columns\b",
        "information_schema_columns",
        text,
        flags=re.I,
    )
    return text


def _rw_types_ddl(text: str) -> str:
    """Map PG column types inside CREATE TABLE (... ) bodies."""
    m = re.search(r"\bcreate\s+table\b[^(]*\(", text, re.I)
    if not m:
        return text
    j = close_bracket(text, m.end())
    body = text[m.end() : j]

    def map_types(segment: str) -> str:
        """Map the column type that leads ``segment``, leaving a type that
        maps to itself as written."""
        m = re.match(_PG_TYPE, segment, re.I)
        if not m:
            return segment
        t = _norm_type(m[0])
        # parameterized varchar(n)/char(n) are valid Spark DDL (with a
        # length check) — only the unbounded PG forms become string
        sized = re.fullmatch(r"(\w+(?: varying)?) ?(\([\d ]+\))", t)
        if sized and sized[1] in _CHAR_TYPES:
            spark_type = ("varchar" if "var" in sized[1] else "char") + sized[2]
        else:
            spark_type = _map_type(t)
        return segment if spark_type == t else spark_type + segment[m.end() :]

    # Per column definition, the first token is the column NAME — never a
    # type, even when it collides with a PG type name (columns called
    # ``name``/``text``/``date`` are common; reference:
    # packets/test_insert_delete_select/01_step.sql has a ``name`` column).
    out_defs = []
    for d in _split_args(body):
        head = d.lstrip()
        lead = d[: len(d) - len(head)]
        first = re.match(r'("(?:[^"]|"")*"|`[^`]*`|\w+)(\s*)(.*)$', head, re.S)
        if not first:
            out_defs.append(d)
            continue
        ident = first.group(1)
        if ident.lower() in ("constraint", "primary", "unique", "foreign", "check", "like", "exclude"):
            out_defs.append(d)
        else:
            out_defs.append(lead + ident + first.group(2) + map_types(first.group(3)))
    return text[: m.end()] + ", ".join(s.strip() for s in out_defs) + text[j:]


_INTERVAL_UNIT = {
    "day": "DAY", "days": "DAY", "hour": "HOUR", "hours": "HOUR",
    "min": "MINUTE", "mins": "MINUTE", "minute": "MINUTE",
    "minutes": "MINUTE", "sec": "SECOND", "secs": "SECOND",
    "second": "SECOND", "seconds": "SECOND",
    "mon": "MONTH", "mons": "MONTH", "month": "MONTH", "months": "MONTH",
}
_INTERVAL_CMP_RE = re.compile(
    # ordering ops only, NOT `=`: equality against a time-of-day string
    # (`col = '12:30:00'`) is a plausible plain-string compare, while the
    # corpus' interval comparisons are all range checks
    # (alert_stat/01_step.sql:21 `> '15 days'`,
    # dba_active_maint/01_step.sql:7 `>= '00:00:00.000001'`)
    r"(?P<op>[<>]=?)\s*\x01(?P<idx>\d+)\x01"
)
_INTERVAL_LIT_RE = re.compile(
    r"^'(?P<lit>\d+\s+[a-z]+|\d{1,2}:\d{2}:\d{2}(?:\.\d+)?)'$", re.I
)


def _rw_interval_cmp_literals(text: str, lits: list[str]) -> str:
    """PG auto-casts the string in ``interval_expr > '15 days'`` /
    ``>= '00:00:00.000001'``; Spark does not — spell the RHS as an interval
    literal. Heuristic on the literal SHAPE (duration words / hh:mm:ss).
    Runs on the protected form: only real single-quoted SQL
    literals directly after an ordering op are candidates — text inside
    comments or other strings is already sentineled away and untouched."""

    def sub(m: re.Match) -> str:
        idx = int(m.group("idx"))
        lm = _INTERVAL_LIT_RE.match(lits[idx])
        if not lm:
            return m.group(0)
        lit = lm.group("lit")
        parts = lit.split()
        if len(parts) == 2:
            unit = _INTERVAL_UNIT.get(parts[1].lower())
            if unit is None:
                return m.group(0)
            lits[idx] = f"INTERVAL '{parts[0]}' {unit}"
        else:
            lits[idx] = f"INTERVAL '{lit}' HOUR TO SECOND"
        return m.group(0)

    return _INTERVAL_CMP_RE.sub(sub, text)


_SELECT_INTO_RE = re.compile(r"^(\s*select\b)", re.I)


def _rw_select_into(text: str) -> str:
    """PG ``SELECT … INTO newtable FROM …`` (the script-era CTAS spelling)
    → ``CREATE TABLE newtable AS SELECT … FROM …``. Only a TOP-LEVEL INTO
    between the select list and FROM qualifies — subqueries and INSERT
    INTO are untouched."""
    if not _SELECT_INTO_RE.match(text):
        return text
    m = find_top(text, r"\binto\b|\bfrom\b")
    if m is None or m[0].lower() == "from":
        return text  # no top-level INTO before FROM
    tm = re.match(
        r"into\s+(?:temp(?:orary)?\s+|unlogged\s+)?([\w.`\x01]+)", text[m.start() :], re.I
    )
    if tm is None:
        return text
    rest = text[m.start() + tm.end() :]
    return f"CREATE TABLE {tm.group(1)} AS {text[: m.start()].rstrip()} {rest.lstrip()}"


_DISTINCT_ON_RE = re.compile(r"(?<![\w.])select\s+distinct\s+on\s*\(", re.I)
_DON_BOUND = r"(?<![\w.])(?:order\s+by|limit|offset|group\s+by|having|union|intersect|except)\b"
# a FROM keyword, not the tail of a name
_FROM_KW = r"(?<![\w.])from\b"


def _rw_distinct_on(text: str) -> str:
    """PG ``SELECT DISTINCT ON (keys) list FROM … ORDER BY keys, o…`` →
    first-row-per-group via ``row_number()`` subquery (Spark has neither
    DISTINCT ON nor QUALIFY). The inner query carries ``*`` so list/ORDER
    BY expressions over unselected base columns still resolve; when the
    FROM clause is one relation the subquery is re-aliased to that
    relation's name so qualified references (``t.x``) keep working.
    Output ordering follows the original ORDER BY, PG semantics; without
    one, PG documents the kept row as unpredictable — here it is the
    first by the keys themselves."""
    guard = 0
    while guard < 20:
        guard += 1
        m = _DISTINCT_ON_RE.search(text)
        if m is None:
            return text
        kclose = close_bracket(text, m.end())
        keys = text[m.end() : kclose].strip()
        # select list: kclose+1 .. top-level FROM
        fm = find_top(text, _FROM_KW, kclose + 1)
        if fm is None:
            raise UnsupportedConstruct("DISTINCT ON without a FROM clause")
        from_start = fm.start()
        sel_list = text[kclose + 1 : from_start].strip()
        # the body: FROM+WHERE part, then ORDER BY / LIMIT-OFFSET tail
        body_end = close_bracket(text, from_start)
        ob_start = tail_start = None
        pos = from_start
        while km := find_top(text, _DON_BOUND, pos, body_end):
            kw = km[0].lower().split()[0]
            if kw in ("group", "having", "union", "intersect", "except"):
                raise UnsupportedConstruct(
                    f"DISTINCT ON combined with {km[0].upper()} has"
                    " no mechanical rewrite — restructure the query"
                )
            if kw == "order" and ob_start is None:
                ob_start = km.start()
            elif kw in ("limit", "offset") and tail_start is None:
                tail_start = km.start()
            pos = km.end()
        fw_end = ob_start if ob_start is not None else (tail_start if tail_start is not None else body_end)
        from_where = text[from_start:fw_end].rstrip()
        ob_end = tail_start if tail_start is not None else body_end
        order_by = text[ob_start:ob_end].strip() if ob_start is not None else None
        tail = text[tail_start:body_end].strip() if tail_start is not None else ""
        win_order = order_by[len("order by") :].strip() if order_by else keys
        # single-relation FROM → re-alias the subquery to the relation name
        rel = re.match(
            r"^from\s+([\w.`\x01]+)(?:\s+(?:as\s+)?(\w+))?\s*(where\b.*)?$",
            from_where,
            re.I | re.S,
        )
        alias = ""
        if rel and rel.group(1).lower() not in ("select",):
            alias = rel.group(2) or rel.group(1).split(".")[-1].strip("`")
        inner = (
            f"SELECT *, row_number() OVER (PARTITION BY {keys}"
            f" ORDER BY {win_order}) AS __don_rn {from_where}"
        )
        replaced = (
            f"SELECT {sel_list} FROM ({inner}) {alias} WHERE __don_rn = 1"
            + (f" {order_by}" if order_by else "")
            + (f" {tail}" if tail else "")
        )
        text = text[: m.start()] + replaced + text[body_end:]
    return text


_SRF_CLAUSE_END = (
    r"(?<![\w.])(?:where|group\s+by|having|qualify|window|order\s+by|limit"
    r"|union|intersect|except)\b"
)


def _hoist_in_select(text: str, list_start: int, counter: int):
    """Hoist the first expression-nested ``explode(...)`` found in the
    select list starting at ``list_start``. Returns ``(new_text, counter+1)``
    or None when this select needs no hoist."""
    m = re.match(r"\s*(distinct\s+|all\s+)?", text[list_start:], re.I)
    items_start = list_start + m.end()
    # the top-level FROM terminating the select list; none when the select
    # closes first → nothing to attach
    fm = find_top(text, _FROM_KW, items_start)
    if fm is None:
        return None
    from_start = fm.start()
    for a, b in split_top(text, items_start, from_start):
        hit = _find_call(text[a:b], "explode")
        if hit is None:
            continue
        cs, _, ce = hit
        call = text[a + cs : a + ce + 1]
        rest = text[a + ce + 1 : b]
        # already top-level (bare call, optionally aliased) → Spark-legal
        if text[a:b][:cs].strip() == "" and re.fullmatch(
            r"\s*(?:(?:as\s+)?[\w`]+)?\s*", rest, re.I
        ):
            continue
        var, view = f"__srf_c{counter}", f"__srf_v{counter}"
        # insertion point: end of the FROM relations (before the first
        # top-level WHERE/GROUP BY/... or the select's closing paren/end)
        km = find_top(text, _SRF_CLAUSE_END, from_start + 4)
        ins = km.start() if km else close_bracket(text, from_start + 4)
        new_item = text[a : a + cs] + var + text[a + ce + 1 : b]
        return (
            text[:a]
            + new_item
            + text[b:ins]
            + f" LATERAL VIEW {call} {view} AS {var} "
            + text[ins:],
            counter + 1,
        )
    return None


def _rw_hoist_nested_srf(text: str) -> str:
    """Spark requires generator functions at the TOP level of a select-list
    item; PG lets set-returning functions sit inside expressions, e.g.
    ``regexp_split_to_table(indkey::text, ' ')::smallint`` (reference:
    packets/alert_bloat/01_step.sql:9). Rewrite each expression-nested
    ``explode(...)`` (the form every SRF has been mapped to by this point)
    into a ``LATERAL VIEW`` over the same FROM clause plus a column
    reference — the Spark spelling of PG's implicit lateral SRF."""
    counter, guard = 0, 0
    while guard < 20:
        guard += 1
        for sm in re.finditer(r"(?<![\w.])select\b", text, re.I):
            res = _hoist_in_select(text, sm.end(), counter)
            if res is not None:
                text, counter = res
                break
        else:
            return text
    return text


def rewrite(sql: str, settings: dict[str, str] | None = None) -> str:
    """Rewrite one PostgreSQL statement into Spark SQL. ``settings`` feeds
    ``current_setting()`` constant folding."""
    text, lits = _protect(sql)
    text = _rw_interval_cmp_literals(text, lits)
    _rw_do_block(text, lits)
    text = _rw_functions(text, lits, settings or {})
    text = _rw_array_ctor(text)
    text = _rw_any(text)
    text = _rw_containment(text)
    text = _rw_alter_options(text, lits)
    text = _rw_casts(text, lits)
    text = _rw_cast_types(text)
    text = _rw_operators(text, lits)
    text = _rw_types_ddl(text)
    text = _rw_select_into(text)
    text = _rw_distinct_on(text)
    text = _rw_hoist_nested_srf(text)
    # PG's default schema maps to Spark's current database: drop bare
    # `public.` qualifiers (reference packets write `public.test_tbl`,
    # e.g. test_int4_to_int8/06_step.sql:7). Same for `pg_catalog.` — the
    # emulation registers pg_class/pg_locks/… as unqualified temp views
    # (reference: packets/dba_locks/01_step.sql joins pg_catalog.pg_locks) —
    # and `dbc.` — the runner snapshots the ledger as the unqualified
    # `dbc_packets` view (reference: test_insert_delete_select/01_step.sql).
    # Literals are protected, so `nspname = 'public'` etc. are untouched.
    text = re.sub(
        r"(?<![\w.])(?:public|pg_catalog|dbc)\.(?=[\w\x01`])", "", text, flags=re.I
    )
    # string-literal escape semantics: PG plain '…' strings treat backslash
    # literally while Spark treats it as an escape → double them; PG E'…'
    # strings already use escape semantics → just drop the E prefix
    for i, raw in enumerate(lits):
        if raw.startswith("'"):
            lits[i] = "'" + raw[1:-1].replace("\\", "\\\\") + "'"
        elif raw.startswith(("e'", "E'")):
            lits[i] = raw[1:]
        elif raw.startswith('"'):
            # PG double quotes are always identifiers (strings are
            # single-quoted) → Spark backtick quoting
            lits[i] = "`" + raw[1:-1].replace('""', '"') + "`"
    return _restore(text, lits)
