r"""Statement splitting and classification, over one SQL lexer.

The reference sends every packet file through one tokenizer,
``sqlparse.split`` (reference: dbccore/dbccore.py:852), and sniffs tokens to
tell DML from DDL (reference: dbccore/dbccore.py:728-738). Here
:func:`lex` is that tokenizer: one pass that yields the span of every
comment, string literal, quoted identifier and dollar body. Splitting,
masking, comment stripping and the PG rewriter's literal protection
(``pgdialect._protect``) all read its spans and keep no quote rule of their
own. Its rules, where only a backslash in a plain or double-quoted span
depends on the dialect:

    span          PostgreSQL text                 Spark SQL text
    ------------  ------------------------------  ----------------------
    -- ...        comment to the end of the line  same
    /* ... */     comment; nests                  same
    '...'         '' doubles; \ is a character    '' doubles; \ escapes
    E'...'        '' doubles; \ escapes           same
    "..."         identifier; "" doubles          string; "" doubles;
                                                  \ escapes
    `...`         identifier; `` doubles          same
    $tag$...$tag$ body; tag empty or identifier   same

``E`` and ``$`` open a span only where no identifier character precedes
them. An unterminated span runs to the end of the text. The dialect is the
text's, which the caller knows: PG-dialect packets and live-PG targets are
PostgreSQL text, the rewriter's output is Spark SQL text.

Over text whose spans are masked (:func:`mask_strings`) or protected, the
bracket helpers :func:`find_top`, :func:`close_bracket` and
:func:`split_top` read paren depth for this module and ``pgdialect``.

This module also owns the accepted PG DML grammar: :func:`parse_dml` is the
one place an INSERT / UPDATE / DELETE statement is read from text. The
runner, the sequence layer and the RETURNING capture all consume its
:class:`Dml`.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass

_STMT_KIND_RE = re.compile(r"^\s*([a-zA-Z]+)")

# Statements that must run outside any transactional batch (reference:
# db_converter.py:22-31 non_tx_ops) — retained as a routing classifier.
NON_TX_PREFIXES = (
    "vacuum",
    "create database",
    "drop database",
    "create tablespace",
    "drop tablespace",
    "alter system",
    "reindex",
    "create index concurrently",
    "drop index concurrently",
)

# ------------------------------------------------------------------- lexer

# where a span opens; an E-string or dollar tag only where no identifier
# character precedes it
_OPEN_RE = re.compile(r"--|/\*|(?<![\w$])[eE]'|['\"`]|(?<![\w$])\$(?:[^\W\d]\w*)?\$")
_NEST_RE = re.compile(r"/\*|\*/")


def _close_re(quote: str, backslash: bool) -> re.Pattern:
    """The rest of a quoted span after its opening ``quote``: doubled quotes
    (and backslash escapes when ``backslash``), then the closing quote or
    the end of the text."""
    q = re.escape(quote)
    if backslash:
        return re.compile(rf"[^{q}\\]*(?:(?:\\.|{q}{q})[^{q}\\]*)*(?:{q}|\\?\Z)", re.S)
    return re.compile(rf"[^{q}]*(?:{q}{q}[^{q}]*)*(?:{q}|\Z)")


_CLOSE = {(q, b): _close_re(q, b) for q in "'\"`" for b in (False, True)}


def lex(sql: str, dialect: str = "postgres") -> Iterator[tuple[int, int]]:
    """``(start, end)`` of every comment, string literal, quoted identifier
    and dollar body in ``sql``, in order (rules in the module docstring).
    ``dialect`` is ``"postgres"`` or ``"spark"``: only a backslash in a
    plain ``'…'`` or a ``"…"`` span tells them apart."""
    backslash, pos, n = dialect != "postgres", 0, len(sql)
    while m := _OPEN_RE.search(sql, pos):
        a, tok = m.start(), m[0]
        if tok == "--":
            b = sql.find("\n", a)
            b = n if b < 0 else b
        elif tok == "/*":
            depth, b = 1, n
            for c in _NEST_RE.finditer(sql, m.end()):
                depth += 1 if c[0] == "/*" else -1
                if not depth:
                    b = c.end()
                    break
        elif tok[0] == "$":
            b = sql.find(tok, m.end())
            b = n if b < 0 else b + len(tok)
        else:
            escapes = tok[0] in "eE" or (backslash and tok in ("'", '"'))
            b = _CLOSE[tok[-1], escapes].match(sql, m.end()).end()
        yield a, b
        pos = b


def mask_strings(sql: str, dialect: str = "spark") -> str:
    """Same-length copy of ``sql`` with every :func:`lex` span blanked to
    spaces (newlines kept). Keyword and operator scanning over the mask maps
    indices 1:1 onto the original text, so a WHERE or comma inside a
    literal can never be mistaken for syntax. ``dialect`` defaults to Spark
    SQL: DML is parsed after the PG rewrite."""
    out, pos = [], 0
    for a, b in lex(sql, dialect):
        out += (sql[pos:a], re.sub(r"[^\n]", " ", sql[a:b]))
        pos = b
    out.append(sql[pos:])
    return "".join(out)


def split_statements(sql: str, dialect: str = "postgres") -> list[str]:
    """Split a script into statements on the semicolons outside every
    :func:`lex` span. Comment-only fragments (e.g. a trailing ``-- tx end``
    marker) are not statements; the reference's sqlparse splitter drops
    them too."""
    ends = [m.start() for m in re.finditer(";", mask_strings(sql, dialect))]
    stmts, start = [], 0
    for end in [*ends, len(sql)]:
        stmt = sql[start:end].strip()
        if _strip_leading_comments(stmt):
            stmts.append(stmt)
        start = end + 1
    return stmts


def _strip_leading_comments(stmt: str) -> str:
    pos = 0
    for a, b in lex(stmt):
        if stmt[pos:a].strip() or not stmt.startswith(("--", "/*"), a):
            break
        pos = b
    return stmt[pos:].lstrip()


def find_top(text: str, pattern: str, start: int = 0, end: int | None = None) -> re.Match | None:
    """First case-insensitive match of regex ``pattern`` at bracket depth 0
    of ``text[start:end]``, or None once a ``)`` or ``]`` closes a bracket
    opened before ``start``. ``text`` must be masked or protected, and
    ``pattern`` must not match across a bracket."""
    scan = re.compile(rf"(?P<hit>{pattern})|[()\[\]]", re.I)
    depth = 0
    for m in scan.finditer(text, start, len(text) if end is None else end):
        if depth == 0 and m.lastgroup == "hit":
            return m
        if m[0] in ("(", "["):
            depth += 1
        elif m[0] in (")", "]"):
            if not depth:
                return None
            depth -= 1
    return None


def close_bracket(text: str, start: int) -> int:
    """Index of the ``)`` or ``]`` at or after ``start`` that closes a
    bracket opened before ``start``, or ``len(text)``; so for an opening
    bracket at ``i``, ``close_bracket(text, i + 1)`` is its partner."""
    m = find_top(text, r"[)\]]", start)
    return len(text) if m is None else m.start()


def split_top(text: str, start: int = 0, end: int | None = None) -> list[tuple[int, int]]:
    """``(start, end)`` spans of ``text[start:end]`` between its commas at
    bracket depth 0."""
    end = len(text) if end is None else end
    spans = []
    while m := find_top(text, ",", start, end):
        spans.append((start, m.start()))
        start = m.end()
    spans.append((start, end))
    return spans


def statement_kind(stmt: str) -> str:
    """Classify: 'query' (produces rows), 'dml', 'ddl', 'utility'."""
    s = _strip_leading_comments(stmt).lower()
    head = _STMT_KIND_RE.match(s)
    kw = head.group(1) if head else ""
    if kw in ("select", "with", "values", "table", "show", "describe", "desc", "explain"):
        return "query"
    if kw in ("insert", "update", "delete", "merge", "copy", "truncate"):
        return "dml"
    if kw in ("create", "drop", "alter", "comment", "rename", "msck"):
        return "ddl"
    return "utility"


def is_non_tx(stmt: str) -> bool:
    s = _strip_leading_comments(stmt).lower()
    return any(s.startswith(p) for p in NON_TX_PREFIXES)


# Non-query statements a READ ONLY packet may run. ALLOWLIST, not a
# default-permit: the reference's READ ONLY transaction rejects every write,
# so an unrecognized leading keyword (LOAD, CALL, future syntax) must be
# rejected too — the 'utility' kind bucket is exactly the unknown remainder.
_RO_UTILITY_KEYWORDS = frozenset(
    {"set", "reset", "show", "describe", "desc", "refresh", "analyze", "use", "explain"}
)


def is_read_only_ok(stmt: str) -> bool:
    """Would PostgreSQL's READ ONLY transaction accept this? (reference:
    execute_ro_step rejects writes → ReadOnlyTransactionError,
    dbccore/dbccore.py:1221-1402)."""
    s = _strip_leading_comments(stmt).lower()
    head = _STMT_KIND_RE.match(s)
    kw = head.group(1) if head else ""
    if statement_kind(stmt) == "query":
        return not is_non_tx(stmt)
    return kw in _RO_UTILITY_KEYWORDS and not is_non_tx(stmt)


# ----------------------------------------------------------- PG DML grammar


@dataclass(frozen=True)
class Dml:
    """One PG DML statement as :func:`parse_dml` reads it.

    - ``kind``: ``insert``, ``upsert`` (INSERT … ON CONFLICT), ``update``,
      ``update-from``, ``delete`` or ``delete-using``.
    - ``statement``: the text without leading comments, trailing ``;`` and
      RETURNING clause; ``returning``: the RETURNING list.
    - ``alias``: the target's alias. The join forms default it to the
      unqualified table name, which is how their conditions name the target.
    - ``columns``: the INSERT column list; ``source``: the INSERT row source
      (None for DEFAULT VALUES), or the UPDATE … FROM / DELETE … USING
      relation as a query named ``source_alias``.
    - ``set_map``: SET (or DO UPDATE SET) column → expression; None for
      DO NOTHING.
    - ``predicate``: the WHERE clause — the row filter of UPDATE/DELETE, the
      join condition of the join forms, or an upsert's DO UPDATE … WHERE.
    - ``conflict_keys``: the ON CONFLICT key columns, lowercased.
    """

    kind: str
    table: str
    statement: str
    alias: str | None = None
    columns: tuple[str, ...] | None = None
    source: str | None = None
    source_alias: str | None = None
    set_map: dict[str, str] | None = None
    predicate: str | None = None
    conflict_keys: tuple[str, ...] | None = None
    returning: str | None = None


_NAME = r"[\w.`\"]+"
_DML_HEAD_RE = re.compile(
    rf"insert\s+into\s+(?P<insert>{_NAME})"
    rf"|update\s+(?P<update>{_NAME})(?:\s+(?:as\s+)?(?!set\b)(?P<ualias>\w+))?\s+set\b"
    rf"|delete\s+from\s+(?P<delete>{_NAME})"
    r"(?:\s+(?:as\s+)?(?!using\b|where\b)(?P<dalias>\w+))?",
    re.I,
)


def parse_dml(stmt: str) -> Dml | None:
    """Read an INSERT / UPDATE / DELETE statement into a :class:`Dml`, or
    None when ``stmt`` is not a DML shape this grammar accepts (Spark then
    runs it as written). Leading comments (the reference's ``-- tx start``
    markers) and a trailing ``;`` are ignored. Clause keywords are found at
    paren depth 0 of the literal-masked text, so a ``where`` or ``,``
    inside a string never splits a clause. Raises ValueError for a DML
    statement whose clauses are malformed."""
    text = _strip_leading_comments(stmt).rstrip().rstrip(";").rstrip()
    head = _DML_HEAD_RE.match(text)
    if head is None:
        return None
    statement, returning = _cut(text, "returning")
    rest = statement[head.end() :]
    if head["insert"]:
        return _parse_insert(_unquote(head["insert"]), rest, statement, returning)
    body, predicate = _cut(rest, "where")
    set_map, source_alias = None, None
    if head["update"]:
        table, alias, kind = _unquote(head["update"]), head["ualias"], "update"
        set_text, source = _cut(body, "from")
        set_map, _ = _split_set_clause(set_text)
    else:
        table, alias, kind = _unquote(head["delete"]), head["dalias"], "delete"
        pre, source = _cut(body, "using")
        if pre or (source is None and alias):
            return None
    if source is not None:
        # UPDATE ... FROM / DELETE ... USING: a join on the WHERE condition
        what = "UPDATE ... FROM" if kind == "update" else "DELETE ... USING"
        if predicate is None:
            raise ValueError(f"{what} requires a WHERE join condition")
        kind = "update-from" if kind == "update" else "delete-using"
        alias = alias or table.split(".")[-1]
        source, source_alias = _parse_relation(source, what)
    return Dml(
        kind, table, statement, alias=alias, source=source, source_alias=source_alias,
        set_map=set_map, predicate=predicate, returning=returning,
    )


def _parse_insert(
    table: str, rest: str, statement: str, returning: str | None
) -> Dml | None:
    mask, columns = mask_strings(rest), None
    if cm := re.match(r"\s*\((?!\s*(?:select|with|values)\b)", mask, re.I):
        close = close_bracket(mask, cm.end())
        columns = tuple(_unquote(rest[a:b]) for a, b in split_top(mask, cm.end(), close))
        rest = rest[close + 1 :]
    source, conflict = _cut(rest, r"on\s+conflict")
    if re.fullmatch(r"default\s+values", source, re.I):
        source = None
    elif not source:
        return None
    common = dict(columns=columns, source=source, returning=returning)
    if conflict is None:
        return Dml("insert", table, statement, **common)
    mask = mask_strings(conflict)
    close = close_bracket(mask, 1) if mask.startswith("(") else len(mask)
    do = conflict[close + 1 :]
    m = re.fullmatch(r"\s*do\s+(?:(nothing)|update\s+set\s+(.*))", do, re.I | re.S)
    if m is None:
        raise ValueError(f"cannot parse ON CONFLICT clause: {conflict!r}")
    set_map, predicate = (None, None) if m[1] else _split_set_clause(m[2])
    keys = tuple(_unquote(conflict[a:b]).lower() for a, b in split_top(mask, 1, close))
    return Dml(
        "upsert", table, statement, set_map=set_map, predicate=predicate,
        conflict_keys=keys, **common,
    )


def _unquote(name: str) -> str:
    return name.strip().strip('`"')


def _cut(text: str, pattern: str) -> tuple[str, str | None]:
    """``text`` split around the first case-insensitive, word-bounded match
    of regex ``pattern`` at paren depth 0 of its mask — ``(before,
    after)``, both stripped — or ``(text, None)``."""
    m = find_top(mask_strings(text), rf"\b(?:{pattern})\b")
    if m is None:
        return text.strip(), None
    return text[: m.start()].strip(), text[m.end() :].strip()


def _split_set_clause(tail: str) -> tuple[dict[str, str], str | None]:
    """Parse ``c1 = e1, c2 = e2 [WHERE p]`` into (column → expression,
    predicate). Keyword, comma and ``=`` scanning runs over the mask, so
    quoted text never splits a clause."""
    set_part, predicate = _cut(tail, "where")
    mask = mask_strings(set_part)
    set_map: dict[str, str] = {}
    for a, b in split_top(mask):
        eq = mask.find("=", a, b)
        if eq < 0:
            raise ValueError(f"cannot parse SET clause item: {set_part[a:b]!r}")
        set_map[set_part[a:eq].strip().strip("`")] = set_part[eq + 1 : b].strip()
    return set_map, predicate


def _parse_relation(text: str, what: str) -> tuple[str, str]:
    """``(subquery) [AS] alias`` or ``table [[AS] alias]`` → (query, alias)."""
    sm = re.fullmatch(r"\((.*)\)\s*(?:as\s+)?(\w+)", text, re.I | re.S)
    if sm:
        return sm[1], sm[2]
    tm = re.fullmatch(r"([\w.`]+)(?:\s+(?:as\s+)?(\w+))?", text, re.I)
    if not tm:
        raise ValueError(f"cannot parse {what} source: {text!r}")
    return f"SELECT * FROM {tm[1]}", tm[2] or tm[1].split(".")[-1].strip("`")
