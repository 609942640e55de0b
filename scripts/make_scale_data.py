#!/usr/bin/env python
"""Generate a deterministic sf1-equivalent dataset (~10× sf0.1) into
``.scale/sf1/`` by unioning sf0.1 with key-offset replicas — the scale
probe input (scaling is measured, not argued).

Replication rules (replica i ∈ 0..9; i=0 is the original rows verbatim):

- fact/dim keys offset consistently so every join still resolves:
  custkey/suppkey/partkey/user_id/doc_id/vec_id += i·1e6,
  orderkey/event_id += i·1e7; nationkey/regionkey untouched (real
  dimensions — their groups grow 10×, which is the point).
- document TEXT is vowel-translated with a distinct permutation per
  replica: length/token structure (and n_chars) are preserved, but every
  shingle/MinHash/fingerprint differs across replicas, so near-dup
  structure scales LINEARLY (each replica mirrors the original corpus's
  internal similarity) instead of creating 10-way duplicate cliques that
  would make pair-based operators legitimately superlinear.
- embeddings/events values are kept: more vectors per cell and more
  events per window = linear growth in the dimensions that matter.

Deterministic: pure SQL over the source parquet, no randomness.
Output is parquet with DuckDB's defaults (us timestamps — the catalog's
footer sniff handles either unit).

Memory model (an N-way UNION ALL of 1000 lineitem replicas is killed at
90 GB RSS): every arithmetic-offset table generates through ONE
streaming query — ``source CROSS JOIN range(N) AS i`` with the key
offsets computed from ``i`` — instead of an N-way UNION ALL, and the
COPY runs with ``preserve_insertion_order=false`` so DuckDB streams
straight to the parquet writer instead of materializing the whole result
to preserve input order. Content is byte-identical deterministic; row
ORDER within the file is not (no consumer reads these files
order-sensitively — every probe/test aggregates or joins). ``documents``
keeps the per-replica UNION (its text transform indexes a Python
permutation table, documented unique up to 2000 replicas — two disjoint
vowel-permutation banks) but streams through the same
unordered COPY.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
DST = Path(__file__).resolve().parent.parent / ".scale" / "sf1"
N_REP = 10

# 10 distinct vowel permutations (index 0 = identity); for replica counts
# beyond 10 a consonant rotation (i // 10) provides the second distinct
# knob, and beyond 100 a second consonant-set rotation (i // 100) a third
# — every replica's text transform is unique up to 1000 replicas (sf100),
# so cross-replica exact duplicates never form (k-way duplicate cliques
# would let exact-dedup reps collapse the corpus and understate scale).
# A SECOND, disjoint vowel-permutation bank (VOWELS2) extends the
# uniqueness bound to 2000 replicas for the ta13 next-doubling probe
# (sf200 = a 2x sf100 doc corpus). Replicas < 1000 do not use it — the
# second bank only engages at i >= 1000. (The naive i >= 1000
# continuation COLLIDES: CONS2[k:] is
# empty for k >= 10, so the third knob degenerates to identity and every
# i >= 1000 mapping equals some i < 1000 mapping — 11-way exact-text
# cliques. tests/test_scale_data.py pins pairwise-distinct mappings for
# the full 2000 range and the i < 1000 expressions verbatim.)
VOWELS = [
    "aeiou", "eioua", "iouae", "ouaei", "uaeio",
    "aeiuo", "eioau", "iouea", "ouaie", "uaeoi",
]
# disjoint from VOWELS (and from identity "aeiou"): block-2 vowel
# mappings can never coincide with a block-1 mapping, whatever the
# consonant knobs do (consonant rotations don't touch vowels)
VOWELS2 = [
    "aeoiu", "aeuio", "aiueo", "aoeiu", "auieo",
    "eaiou", "eaoui", "iaeou", "oaeiu", "uaoei",
]
CONS = "bcdfghjklm"
CONS2 = "npqrstvwxz"


def _translate_expr(i: int) -> str:
    if i == 0:
        return "text"
    if i < 1000:
        src_chars, dst_chars = "aeiou", VOWELS[i % 10]
        j = (i // 10) % 10
        k = i // 100
    else:
        # block 2 (i in [1000, 2000)): the same three-knob scheme over the
        # disjoint vowel bank; (m%10, (m//10)%10, m//100) determines m
        m = i - 1000
        src_chars, dst_chars = "aeiou", VOWELS2[m % 10]
        j = (m // 10) % 10
        k = m // 100
    if j:
        src_chars += CONS
        dst_chars += CONS[j:] + CONS[:j]
    if k:
        src_chars += CONS2
        dst_chars += CONS2[k:] + CONS2[:k]
    return f"translate(text, '{src_chars}', '{dst_chars}')"

M = 1_000_000
B = 10_000_000

# arithmetic-offset tables: SELECT-list template over (source CROSS JOIN
# range(N) r(i)) — ONE streaming query per table regardless of replica
# count (an N-way UNION ALL under preserve_insertion_order is
# materialized whole by the COPY; a 1000-rep lineitem dies at 90 GB RSS)
_STREAM_COLS = {
    "customer": f"c_custkey + i * {M} AS c_custkey, c_name, c_nationkey,"
                " c_acctbal, c_mktsegment",
    "supplier": f"s_suppkey + i * {M} AS s_suppkey, s_name, s_nationkey,"
                " s_acctbal",
    "part": f"p_partkey + i * {M} AS p_partkey, p_name, p_brand,"
            " p_type, p_size, p_retailprice",
    "orders": f"o_orderkey + i * {B} AS o_orderkey,"
              f" o_custkey + i * {M} AS o_custkey, o_orderstatus,"
              " o_totalprice, o_orderdate, o_orderpriority",
    "lineitem": f"l_orderkey + i * {B} AS l_orderkey,"
                f" l_partkey + i * {M} AS l_partkey,"
                f" l_suppkey + i * {M} AS l_suppkey, l_linenumber,"
                " l_quantity, l_extendedprice, l_discount, l_tax,"
                " l_returnflag, l_linestatus, l_shipdate",
    "events": f"event_id + i * {B} AS event_id, ts,"
              f" user_id + i * {M} AS user_id, event_type, value, props",
    "embeddings": f"vec_id + i * {M} AS vec_id, embedding, label",
}


def table_select(table: str, n_rep: int) -> str:
    """ONE streaming SELECT producing all replicas of a table. Arithmetic
    tables cross-join the replica index; documents (whose text transform
    indexes the Python permutation tables above) keeps the per-replica
    UNION — its replica counts stay <= 2000 by the uniqueness bound."""
    src = f"read_parquet('{SRC}/{table}.parquet')"
    if table in ("region", "nation"):
        return f"SELECT * FROM {src}"
    if table in _STREAM_COLS:
        return (
            f"SELECT {_STREAM_COLS[table]} FROM {src}"
            f" CROSS JOIN (SELECT unnest(range({n_rep})) AS i) r"
        )
    if table == "documents":
        if n_rep > 2000:
            raise ValueError(
                "documents replica count capped at 2000: the text-transform"
                " uniqueness bound (VOWELS/VOWELS2 banks) is proven only up"
                " to 2000 — beyond that, cross-replica exact-dup cliques"
                " would collapse under dedup and understate scale"
            )
        selects = [
            f"SELECT doc_id + {i * M} AS doc_id, {_translate_expr(i)} AS text,"
            f" lang, source, n_chars FROM {src}"
            for i in range(n_rep)
        ]
        return " UNION ALL ".join(selects)
    raise ValueError(table)


def main() -> int:
    global N_REP
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=10, help="replica count (10=sf1, 100=sf10, 1000=sf100)")
    ap.add_argument("--dst", default=str(DST))
    ap.add_argument(
        "--tables",
        default="",
        help="comma list to restrict generation (e.g. documents,embeddings,events"
        " for the sf100 memory-pressure probe — the heavy family's inputs)",
    )
    args = ap.parse_args()
    N_REP = args.reps
    dst = Path(args.dst)
    dst.mkdir(parents=True, exist_ok=True)
    only = {t for t in args.tables.split(",") if t}
    con = duckdb.connect()
    # a 1000-replica documents UNION ALL exceeds the default parser depth
    con.execute("SET max_expression_depth TO 10000")
    # stream to the writer; do NOT materialize the result to preserve input
    # order (a 1000-rep lineitem is killed at 90 GB RSS). Content is
    # deterministic; row order within the file is not — no consumer reads
    # these files order-sensitively.
    con.execute("SET preserve_insertion_order = false")
    con.execute("SET memory_limit = '12GB'")
    for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        if only and t not in only:
            continue
        out = dst / f"{t}.parquet"
        con.execute(f"COPY ({table_select(t, N_REP)}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM read_parquet('{out}')").fetchone()[0]
        print(f"{t}: {n} rows -> {out}")
    con.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
