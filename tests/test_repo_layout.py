"""The repository holds what the code reads: no per-iteration record files
at the root, and no comment or docstring that cites one instead of stating
a reason. SQL text inside string constants is not scanned."""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_RECORD_FILE = re.compile(
    r"^(BENCH|CORRECTNESS|PERF|VERIFY|OPTIMIZATION)_r\d|^SCALE_PROBE|^(VERDICT|ADVICE)\.md$"
)
_ROUND_CITE = re.compile(r"\br\d{1,2}[a-z]?\b|VERDICT|ADVICE")


def _notes(src: str):
    """(line, text) of every ``#`` comment and every docstring line."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            doc = ast.get_docstring(node, clean=False)
            if doc is not None:
                first = node.body[0].lineno
                for i, line in enumerate(doc.splitlines()):
                    yield first + i, line


def test_no_round_records_or_round_citations():
    records = sorted(p.name for p in ROOT.iterdir() if _RECORD_FILE.search(p.name))
    assert not records, f"record files at the repo root: {records}"
    assert not (ROOT / "plans").exists(), "plans/ directory at the repo root"

    hits = []
    for top in ("db_converter_spark", "tests"):
        for path in sorted((ROOT / top).rglob("*.py")):
            for line, text in _notes(path.read_text()):
                if _ROUND_CITE.search(text):
                    hits.append(f"{path.relative_to(ROOT)}:{line}: {text.strip()}")
    assert not hits, "comments citing a round:\n" + "\n".join(hits)
