"""Statement splitting and classification.

The reference leans on sqlparse for splitting (reference:
dbccore/dbccore.py:852) and on token sniffing for DML/DDL detection
(reference: dbccore/dbccore.py:728-738). sqlparse isn't available here, so
this is a small from-scratch splitter that understands:

- single quotes (with '' escapes), double-quoted identifiers
- line comments ``--`` and block comments ``/* ... */`` (nested OK)
- PG dollar-quoting ``$$ .. $$`` / ``$tag$ .. $tag$`` (packet SQL uses it
  for DO blocks; we split around them correctly even though DO blocks are
  handled by py-steps per SURVEY §2.10)

It also owns the accepted PG DML grammar: :func:`parse_dml` is the one place
an INSERT / UPDATE / DELETE statement is read from text. The runner, the
sequence layer and the RETURNING capture all consume its :class:`Dml`.
"""

from __future__ import annotations

import re
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


def split_statements(sql: str) -> list[str]:
    """Split a script into individual statements on top-level semicolons."""
    stmts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        nxt = sql[i + 1] if i + 1 < n else ""
        if ch == "-" and nxt == "-":  # line comment
            j = sql.find("\n", i)
            j = n if j < 0 else j
            buf.append(sql[i:j])
            i = j
            continue
        if ch == "/" and nxt == "*":  # block comment (nesting per PG)
            depth, j = 1, i + 2
            while j < n and depth:
                if sql.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif sql.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            buf.append(sql[i:j])
            i = j
            continue
        if ch == "'":  # string literal, '' escapes
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            buf.append(sql[i:j])
            i = j
            continue
        if ch == '"':  # quoted identifier
            j = sql.find('"', i + 1)
            j = n if j < 0 else j + 1
            buf.append(sql[i:j])
            i = j
            continue
        if ch == "$":  # dollar quoting
            m = re.match(r"\$[A-Za-z_]*\$", sql[i:])
            if m:
                tag = m.group(0)
                j = sql.find(tag, i + len(tag))
                j = n if j < 0 else j + len(tag)
                buf.append(sql[i:j])
                i = j
                continue
        if ch == ";":
            stmt = "".join(buf).strip()
            if stmt and _strip_leading_comments(stmt):
                stmts.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    # comment-only fragments (e.g. a trailing '-- tx end' marker) are not
    # statements — the reference's sqlparse splitter drops them too
    if tail and _strip_leading_comments(tail):
        stmts.append(tail)
    return stmts


def mask_strings(sql: str) -> str:
    """Same-length copy with string literals, quoted identifiers, comments,
    and dollar-quoted bodies blanked to spaces. Keyword/operator scanning
    over the mask maps indices 1:1 onto the original text, so a WHERE or
    comma INSIDE a literal can never be mistaken for syntax (quote rules
    identical to :func:`split_statements`)."""
    out = list(sql)
    i, n = 0, len(sql)

    def blank(a: int, b: int) -> None:
        for k in range(a, min(b, n)):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        ch = sql[i]
        nxt = sql[i + 1] if i + 1 < n else ""
        if ch == "-" and nxt == "-":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            blank(i, j)
            i = j
            continue
        if ch == "/" and nxt == "*":
            depth, j = 1, i + 2
            while j < n and depth:
                if sql.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif sql.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(i, j)
            i = j
            continue
        if ch == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            blank(i + 1, j - 1)
            i = j
            continue
        if ch == '"':
            j = sql.find('"', i + 1)
            j = n if j < 0 else j + 1
            blank(i + 1, j - 1)
            i = j
            continue
        if ch == "$":
            m = re.match(r"\$[A-Za-z_]*\$", sql[i:])
            if m:
                tag = m.group(0)
                j = sql.find(tag, i + len(tag))
                j = n if j < 0 else j + len(tag)
                blank(i + len(tag), j - len(tag))
                i = j
                continue
        i += 1
    return "".join(out)


def _strip_leading_comments(stmt: str) -> str:
    prev = None
    while prev != stmt:
        prev = stmt
        stmt = re.sub(r"^\s*--[^\n]*(\n|$)", "", stmt)
        stmt = re.sub(r"^\s*/\*.*?\*/", "", stmt, flags=re.S)
        stmt = stmt.lstrip()
    return stmt


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
    cm = re.match(r"\s*\((?!\s*(?:select|with|values)\b)([^)]*)\)", rest, re.I)
    columns = tuple(_unquote(c) for c in cm[1].split(",")) if cm else None
    source, conflict = _cut(rest[cm.end() :] if cm else rest, r"on\s+conflict")
    if re.fullmatch(r"default\s+values", source, re.I):
        source = None
    elif not source:
        return None
    common = dict(columns=columns, source=source, returning=returning)
    if conflict is None:
        return Dml("insert", table, statement, **common)
    m = re.fullmatch(
        r"\(([^)]*)\)\s*do\s+(?:(nothing)|update\s+set\s+(.*))", conflict, re.I | re.S
    )
    if m is None:
        raise ValueError(f"cannot parse ON CONFLICT clause: {conflict!r}")
    set_map, predicate = (None, None) if m[2] else _split_set_clause(m[3])
    return Dml(
        "upsert", table, statement, set_map=set_map, predicate=predicate,
        conflict_keys=tuple(_unquote(k).lower() for k in m[1].split(",")), **common,
    )


def _unquote(name: str) -> str:
    return name.strip().strip('`"')


def _cut(text: str, pattern: str) -> tuple[str, str | None]:
    """``text`` split around the first case-insensitive, word-bounded match
    of regex ``pattern`` at paren depth 0 — ``(before, after)``, both
    stripped — or ``(text, None)``. Matching runs over the literal-masked
    copy (:func:`mask_strings`), whose indices map 1:1 onto ``text``."""
    masked = mask_strings(text)
    for m in re.finditer(rf"\b(?:{pattern})\b", masked, re.I):
        if masked.count("(", 0, m.start()) == masked.count(")", 0, m.start()):
            return text[: m.start()].strip(), text[m.end() :].strip()
    return text.strip(), None


def _split_set_clause(tail: str) -> tuple[dict[str, str], str | None]:
    """Parse ``c1 = e1, c2 = e2 [WHERE p]`` into (column → expression,
    predicate). Keyword, comma and ``=`` scanning runs over the
    literal-masked copy, so quoted text never splits a clause."""
    set_part, predicate = _cut(tail, "where")
    mask = mask_strings(set_part)
    depth, parts, last = 0, [], 0
    for i, ch in enumerate(mask):
        depth += ch == "("
        depth -= ch == ")"
        if ch == "," and depth == 0:
            parts.append(set_part[last:i])
            last = i + 1
    parts.append(set_part[last:])
    set_map: dict[str, str] = {}
    for p in parts:
        eq = mask_strings(p).find("=")
        if eq < 0:
            raise ValueError(f"cannot parse SET clause item: {p!r}")
        set_map[p[:eq].strip().strip("`")] = p[eq + 1 :].strip()
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
