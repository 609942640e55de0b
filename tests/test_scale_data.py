"""Scale-data generator invariants (scripts/make_scale_data.py): the
scale probe's evidence is only as good as the replica construction —
join keys must resolve across replicas, text transforms must be distinct
per replica (near-dup structure scales linearly, no cross-replica
cliques), and row counts must multiply exactly."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

ROOT = Path(__file__).resolve().parent.parent
SRC = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def tiny_scale_dir(tmp_path_factory):
    dst = tmp_path_factory.mktemp("scale") / "x3"
    r = subprocess.run(
        [sys.executable, str(ROOT / "scripts" / "make_scale_data.py"),
         "--reps", "3", "--dst", str(dst)],
        capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr
    return dst


def test_row_counts_multiply(tiny_scale_dir):
    con = duckdb.connect()
    for t, dim in [("lineitem", False), ("documents", False), ("nation", True)]:
        n_src = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{SRC}/{t}.parquet')"
        ).fetchone()[0]
        n_dst = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{tiny_scale_dir}/{t}.parquet')"
        ).fetchone()[0]
        assert n_dst == (n_src if dim else 3 * n_src), t


def test_fact_joins_resolve_across_replicas(tiny_scale_dir):
    """Every lineitem must still find its order, every order its
    customer, every event its user — key offsets must be consistent."""
    con = duckdb.connect()
    d = tiny_scale_dir
    orphans = con.execute(f"""
        SELECT
          (SELECT COUNT(*) FROM read_parquet('{d}/lineitem.parquet') l
           LEFT JOIN read_parquet('{d}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
           WHERE o.o_orderkey IS NULL),
          (SELECT COUNT(*) FROM read_parquet('{d}/orders.parquet') o
           LEFT JOIN read_parquet('{d}/customer.parquet') c ON c.c_custkey = o.o_custkey
           WHERE c.c_custkey IS NULL),
          (SELECT COUNT(*) FROM read_parquet('{d}/events.parquet') e
           LEFT JOIN read_parquet('{d}/customer.parquet') c ON c.c_custkey = e.user_id
           WHERE c.c_custkey IS NULL
           AND e.user_id IN (SELECT c_custkey FROM read_parquet('{SRC}/customer.parquet')))
    """).fetchone()
    assert orphans == (0, 0, 0)


def _load_generator():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_scale_data", ROOT / "scripts" / "make_scale_data.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_translate_mappings_unique_to_2000_reps():
    """The sf200 (2x sf100 doc corpus) probe needs 2000 DISTINCT text
    transforms: compare induced character MAPPINGS, not expression
    strings — the naive i>=1000 continuation produces distinct SQL whose
    CONS2 slice degenerates to identity, i.e. 11-way exact-dup cliques."""
    import re

    mod = _load_generator()
    probe = "aeiou" + mod.CONS + mod.CONS2
    seen = {}
    for i in range(2000):
        expr = mod._translate_expr(i)
        if expr == "text":
            mapped = probe
        else:
            src, dst = re.findall(r"'([a-z]+)'", expr)
            assert sorted(src) == sorted(set(src)), f"dup chars in src at {i}"
            assert len(src) == len(dst), i
            mapped = probe.translate(str.maketrans(src, dst))
        assert mapped not in seen, f"replica {i} duplicates replica {seen[mapped]}"
        seen[mapped] = i


def test_translate_exprs_below_1000_unchanged_since_r10():
    """Replicas < 1000 must stay byte-identical to the one-bank generator so
    existing probe corpora (sf1/sf10/sf100) remain reproducible; pinned
    against expressions captured before the second bank was added."""
    mod = _load_generator()
    pinned = {
        0: "text",
        1: "translate(text, 'aeiou', 'eioua')",
        34: "translate(text, 'aeioubcdfghjklm', 'uaeiofghjklmbcd')",
        234: "translate(text, 'aeioubcdfghjklmnpqrstvwxz',"
             " 'uaeiofghjklmbcdqrstvwxznp')",
        555: "translate(text, 'aeioubcdfghjklmnpqrstvwxz',"
             " 'aeiuohjklmbcdfgtvwxznpqrs')",
        999: "translate(text, 'aeioubcdfghjklmnpqrstvwxz',"
             " 'uaeoimbcdfghjklznpqrstvwx')",
    }
    for i, expr in pinned.items():
        assert mod._translate_expr(i) == expr, i


def test_replica_texts_distinct_and_structure_preserved(tiny_scale_dir):
    """Near-dup structure must scale LINEARLY: exact-dup group count
    multiplies by the replica count (no cross-replica collapses), and
    the text transform preserves length (n_chars stays truthful)."""
    con = duckdb.connect()
    d = tiny_scale_dir
    g_src = con.execute(f"""
        SELECT COUNT(*) FROM (SELECT text FROM read_parquet('{SRC}/documents.parquet')
        GROUP BY text HAVING COUNT(*) > 1)""").fetchone()[0]
    g_dst, max_sz = con.execute(f"""
        SELECT COUNT(*), MAX(n) FROM (SELECT COUNT(*) n FROM read_parquet('{d}/documents.parquet')
        GROUP BY text HAVING COUNT(*) > 1)""").fetchone()
    max_src = con.execute(f"""
        SELECT MAX(n) FROM (SELECT COUNT(*) n FROM read_parquet('{SRC}/documents.parquet')
        GROUP BY text HAVING COUNT(*) > 1)""").fetchone()[0]
    assert g_dst == 3 * g_src, "cross-replica duplicate collapse"
    assert max_sz == max_src, "a dup group grew across replicas"
    bad_len = con.execute(f"""
        SELECT COUNT(*) FROM read_parquet('{d}/documents.parquet')
        WHERE length(text) <> n_chars""").fetchone()[0]
    assert bad_len == 0
