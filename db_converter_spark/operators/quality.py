"""Data-quality operators — the audit layer a 100 TB ingest runs before
training-data builds or migrations: declarative constraint checking
(completeness / uniqueness / domain / referential integrity, the public
Deequ model: Schelter et al. 2018, "Automating Large-Scale Data Quality
Verification", VLDB) and statistical anomaly detection on event rates.

Reference parity: the reference's alert packets (e.g.
/root/reference/packets/alert_stuck_queries, alert_bloat) are exactly
this shape — periodic SQL health checks that emit violation rows; this
module re-expresses the pattern as first-class, oracle-checked operators
over the analytic tables instead of pg_catalog.

Scale shape: every constraint family collapses in ONE aggregate pass per
table (map-side partials — the metric tuple is a handful of counters), the
uniqueness checks are uniform-key COUNT(DISTINCT) shuffles, and the
referential-integrity probe is a keyed anti-join that co-partitions with
the FK. Nothing here is per-row Python; the audit of a 100 TB table costs
one scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from db_converter_spark.catalog import register_views
from db_converter_spark.registry import checkpoint, query


def _sql(spark: SparkSession, sf_dir: str, stmt: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(stmt)


# ---------------------------------------------------------------------------
# dq01 — declarative constraint audit (Deequ-style, long-format metrics)
# ---------------------------------------------------------------------------
# One aggregate pass per audited table computes every per-row check as a
# conditional counter; uniqueness adds a COUNT(DISTINCT) (uniform keys);
# referential integrity is a left-anti count. The output is the long-format
# metric table a verification suite asserts on: one row per constraint with
# checked/violation counts and the pass verdict — integer-exact on both
# engines.

# The three stat relations (one-row each) and the long-format emission are
# kept separate so the Spark builder can MATERIALIZE each table aggregate
# once: Spark inlines a multiply-referenced CTE, and the 10-branch UNION
# would re-run the orders aggregate 5× and the lineitem aggregate 5× (the
# inlined form planned 26 exchanges, measured at sf0.001). The DuckDB
# oracle keeps the single-text CTE form — recompute doesn't affect
# correctness there.

_DQ01_O = """
  SELECT
    COUNT(*)                                                      AS n_rows,
    COUNT(*) - COUNT(o_custkey)                                   AS null_custkey,
    COUNT(*) - COUNT(o_orderdate)                                 AS null_orderdate,
    COUNT(*) - COUNT(DISTINCT o_orderkey)                         AS dup_orderkey,
    SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) AS bad_status,
    SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)             AS bad_price
  FROM orders
"""

_DQ01_L = """
  SELECT
    COUNT(*)                                                      AS n_rows,
    COUNT(*) - COUNT(DISTINCT l_orderkey * 100 + l_linenumber)    AS dup_linekey,
    SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50 THEN 0 ELSE 1 END) AS bad_qty,
    SUM(CASE WHEN l_discount >= 0 AND l_discount <= 1 THEN 0 ELSE 1 END)  AS bad_discount,
    SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)           AS null_shipdate
  FROM lineitem
"""

_DQ01_RI = """
  SELECT COUNT(*) AS n_orphans
  FROM lineitem li
  WHERE NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = li.l_orderkey)
"""

_DQ01_LONG = """
WITH metrics AS (
  SELECT 'orders'   AS table_name, 'o_custkey'    AS column_name, 'completeness' AS constraint_type, n_rows AS n_checked, null_custkey   AS n_violations FROM o
  UNION ALL
  SELECT 'orders',   'o_orderdate',  'completeness', n_rows, null_orderdate FROM o
  UNION ALL
  SELECT 'orders',   'o_orderkey',   'uniqueness',   n_rows, dup_orderkey   FROM o
  UNION ALL
  SELECT 'orders',   'o_orderstatus','domain',       n_rows, bad_status     FROM o
  UNION ALL
  SELECT 'orders',   'o_totalprice', 'range',        n_rows, bad_price      FROM o
  UNION ALL
  SELECT 'lineitem', 'l_orderkey+l_linenumber', 'uniqueness', n_rows, dup_linekey FROM l
  UNION ALL
  SELECT 'lineitem', 'l_quantity',   'range',        n_rows, bad_qty        FROM l
  UNION ALL
  SELECT 'lineitem', 'l_discount',   'range',        n_rows, bad_discount   FROM l
  UNION ALL
  SELECT 'lineitem', 'l_shipdate',   'completeness', n_rows, null_shipdate  FROM l
  UNION ALL
  SELECT 'lineitem', 'l_orderkey',   'referential_integrity',
         (SELECT n_rows FROM l), n_orphans FROM ri
)
SELECT table_name, column_name, constraint_type,
  CAST(n_checked AS BIGINT)    AS n_checked,
  CAST(n_violations AS BIGINT) AS n_violations,
  (n_violations = 0)           AS passed
FROM metrics
"""

_DQ01_DUCK = (
    f"WITH o AS ({_DQ01_O}), l AS ({_DQ01_L}), ri AS ({_DQ01_RI})"
    + _DQ01_LONG.replace("WITH metrics AS (", ", metrics AS (")
)


# r11: the three one-row stat relations are combined in ONE checkpointed
# statement (each CTE referenced exactly once, cross-joined into a single
# 1-row relation) — the three table aggregates become independent stages of
# ONE job that the scheduler overlaps, instead of three sequential
# checkpoint jobs (guide §2.6: overlap independent work; 4 jobs -> 2).
# Column names are prefixed to disambiguate the two n_rows.
_DQ01_COMBINED = f"""
SELECT o.n_rows AS o_n_rows, o.null_custkey, o.null_orderdate,
       o.dup_orderkey, o.bad_status, o.bad_price,
       l.n_rows AS l_n_rows, l.dup_linekey, l.bad_qty, l.bad_discount,
       l.null_shipdate, ri.n_orphans
FROM ({_DQ01_O}) o CROSS JOIN ({_DQ01_L}) l CROSS JOIN ({_DQ01_RI}) ri
"""

_DQ01_LONG_COMBINED = """
WITH metrics AS (
  SELECT 'orders'   AS table_name, 'o_custkey'    AS column_name, 'completeness' AS constraint_type, o_n_rows AS n_checked, null_custkey   AS n_violations FROM s
  UNION ALL
  SELECT 'orders',   'o_orderdate',  'completeness', o_n_rows, null_orderdate FROM s
  UNION ALL
  SELECT 'orders',   'o_orderkey',   'uniqueness',   o_n_rows, dup_orderkey   FROM s
  UNION ALL
  SELECT 'orders',   'o_orderstatus','domain',       o_n_rows, bad_status     FROM s
  UNION ALL
  SELECT 'orders',   'o_totalprice', 'range',        o_n_rows, bad_price      FROM s
  UNION ALL
  SELECT 'lineitem', 'l_orderkey+l_linenumber', 'uniqueness', l_n_rows, dup_linekey FROM s
  UNION ALL
  SELECT 'lineitem', 'l_quantity',   'range',        l_n_rows, bad_qty        FROM s
  UNION ALL
  SELECT 'lineitem', 'l_discount',   'range',        l_n_rows, bad_discount   FROM s
  UNION ALL
  SELECT 'lineitem', 'l_shipdate',   'completeness', l_n_rows, null_shipdate  FROM s
  UNION ALL
  SELECT 'lineitem', 'l_orderkey',   'referential_integrity', l_n_rows, n_orphans FROM s
)
SELECT table_name, column_name, constraint_type,
  CAST(n_checked AS BIGINT)    AS n_checked,
  CAST(n_violations AS BIGINT) AS n_violations,
  (n_violations = 0)           AS passed
FROM metrics
""".replace("FROM s", "FROM {stats}")


@query("dq01_constraint_audit", oracle=_DQ01_DUCK, tags=("quality", "audit"))
def dq01_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint audit (completeness, uniqueness,
    domain, range, referential integrity) over orders/lineitem — ONE
    aggregate pass per table plus a keyed anti-join, all three one-row
    stat relations computed as independent stages of a single checkpointed
    job (r11; the long-format emission reads that checkpoint), emitted as
    the metric table a data-quality gate asserts on. The pattern
    generalizes the reference's alert packets (SQL health checks emitting
    violation rows) to analytic tables."""
    register_views(spark, sf_dir)
    stats = checkpoint(spark.sql(_DQ01_COMBINED), eager=True)
    return spark.sql(_DQ01_LONG_COMBINED, stats=stats)


# ---------------------------------------------------------------------------
# dq02 — event-rate anomaly detection (integer-exact z-score gate)
# ---------------------------------------------------------------------------
# Daily event counts per type, each day tested against its trailing 7-day
# baseline. The z-score comparison is kept EXACT-INTEGER by clearing
# denominators: with k baseline days, S = Σv, SS = Σv², population variance
# is (k·SS − S²)/k² and mean is S/k, so
#     |x − mean| > z·σ  ⟺  (k·x − S)² > z²·(k·SS − S²)
# — no float sqrt/division anywhere, so Spark and DuckDB agree bit-for-bit.
# Products are computed in DECIMAL(38,0): at 1e9 events/day the squared
# terms exceed BIGINT range (~9.2e18) but stay far inside 38 digits.
#
# Scale shape: the corpus-scale job is the daily-count aggregate (calendar-
# bounded keys, map-side combine); the trailing window runs on the daily
# matrix — |types|·|days| rows, metadata-scale at any corpus size — and is
# PARTITIONED BY event_type.

_DQ02 = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  GROUP BY event_type, CAST(ts AS DATE)
), base AS (
  SELECT event_type, d, n,
    COUNT(n) OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS k,
    SUM(n)   OVER (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s,
    SUM(n * n) OVER (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS ss
  FROM daily
), tested AS (
  SELECT event_type, d, n, k, s,
    CAST(k * n - s AS DECIMAL(38,0))       AS dev,
    CAST(k AS DECIMAL(38,0)) * CAST(ss AS DECIMAL(38,0))
      - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)) AS kvar
  FROM base
)
SELECT event_type,
  {fmt}                       AS event_date,
  n                           AS n_events,
  CAST(k AS BIGINT)           AS n_baseline_days,
  CAST(s AS BIGINT)           AS baseline_total,
  (k >= 4 AND (CASE WHEN kvar = 0 THEN dev <> 0
                    ELSE dev * dev > 9 * kvar END)) AS is_anomaly
FROM tested
"""

_DQ02_SPARK = _DQ02.format(fmt="date_format(d, 'yyyy-MM-dd')")
_DQ02_DUCK = _DQ02.format(fmt="strftime(d, '%Y-%m-%d')")


@query("dq02_rate_anomaly", oracle=_DQ02_DUCK, tags=("quality", "anomaly", "events"))
def dq02_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-rate anomaly gate: each (type, day) count tested against
    its trailing 7-day baseline with an exact-integer |x−μ|>3σ comparison
    (denominators cleared, DECIMAL(38,0) products — bit-identical across
    engines). Corpus-scale work is one calendar-bounded aggregate; the
    window runs on the metadata-scale daily matrix."""
    return _sql(spark, sf_dir, _DQ02_SPARK)


# ---------------------------------------------------------------------------
# dq03 — per-column statistical profile (Deequ/ANALYZE-style, long format)
# ---------------------------------------------------------------------------
# The profiling companion to dq01's constraint audit — the reference runs
# server-side ANALYZE for exactly this (dbccore routes `vacuum analyze`,
# BASELINE table: maintenance interleave); pg_stats' per-column
# null_frac / n_distinct / extremes re-expressed as a first-class
# oracle-checked operator. Numeric extremes are canonicalized to integer
# cents and dates to epoch-days so the long format is one BIGINT column
# across heterogeneous source types (no engine-specific float/date
# rendering in the compared output).
#
# Scale shape: ONE aggregate pass per table computes every counter;
# the multiple COUNT(DISTINCT)s expand map-side (Spark plans one Expand —
# rows × #distinct-columns — then a single shuffle on uniform keys;
# at 100 TB you'd swap in approx_count_distinct with zero shape change).
# Each one-row stat relation is materialized once; the long-format
# emission reads the checkpoints (the dq01 lesson).

_DQ03_O = """
  SELECT
    COUNT(*)                        AS n_rows,
    COUNT(o_custkey)                AS nn_custkey,
    COUNT(DISTINCT o_custkey)       AS nd_custkey,
    CAST(MIN(o_custkey) AS BIGINT)  AS min_custkey,
    CAST(MAX(o_custkey) AS BIGINT)  AS max_custkey,
    COUNT(o_totalprice)             AS nn_price,
    COUNT(DISTINCT o_totalprice)    AS nd_price,
    CAST(ROUND(MIN(o_totalprice) * 100) AS BIGINT) AS min_price_x100,
    CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT) AS max_price_x100,
    COUNT(o_orderdate)              AS nn_odate,
    COUNT(DISTINCT o_orderdate)     AS nd_odate,
    CAST({d2e_min} AS BIGINT)       AS min_odate_days,
    CAST({d2e_max} AS BIGINT)       AS max_odate_days
  FROM orders
"""

_DQ03_L = """
  SELECT
    COUNT(*)                        AS n_rows,
    COUNT(l_quantity)               AS nn_qty,
    COUNT(DISTINCT l_quantity)      AS nd_qty,
    CAST(ROUND(MIN(l_quantity) * 100) AS BIGINT) AS min_qty_x100,
    CAST(ROUND(MAX(l_quantity) * 100) AS BIGINT) AS max_qty_x100,
    COUNT(l_discount)               AS nn_disc,
    COUNT(DISTINCT l_discount)      AS nd_disc,
    CAST(ROUND(MIN(l_discount) * 100) AS BIGINT) AS min_disc_x100,
    CAST(ROUND(MAX(l_discount) * 100) AS BIGINT) AS max_disc_x100,
    COUNT(l_returnflag)             AS nn_rflag,
    COUNT(DISTINCT l_returnflag)    AS nd_rflag
  FROM lineitem
"""

_DQ03_LONG = """
WITH profile AS (
  SELECT 'orders' AS table_name, 'o_custkey' AS column_name,
         n_rows, n_rows - nn_custkey AS n_null, nd_custkey AS n_distinct,
         min_custkey AS min_canon, max_custkey AS max_canon FROM o
  UNION ALL
  SELECT 'orders', 'o_totalprice', n_rows, n_rows - nn_price, nd_price,
         min_price_x100, max_price_x100 FROM o
  UNION ALL
  SELECT 'orders', 'o_orderdate', n_rows, n_rows - nn_odate, nd_odate,
         min_odate_days, max_odate_days FROM o
  UNION ALL
  SELECT 'lineitem', 'l_quantity', n_rows, n_rows - nn_qty, nd_qty,
         min_qty_x100, max_qty_x100 FROM l
  UNION ALL
  SELECT 'lineitem', 'l_discount', n_rows, n_rows - nn_disc, nd_disc,
         min_disc_x100, max_disc_x100 FROM l
  UNION ALL
  SELECT 'lineitem', 'l_returnflag', n_rows, n_rows - nn_rflag, nd_rflag,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM l
)
SELECT table_name, column_name,
  CAST(n_rows AS BIGINT)     AS n_rows,
  CAST(n_null AS BIGINT)     AS n_null,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  min_canon, max_canon,
  CAST(ROUND(1000.0 * n_distinct / n_rows) AS BIGINT) AS distinct_x1000
FROM profile
"""

_DQ03_O_SPARK = _DQ03_O.format(
    d2e_min="datediff(MIN(o_orderdate), DATE'1970-01-01')",
    d2e_max="datediff(MAX(o_orderdate), DATE'1970-01-01')",
)
_DQ03_O_DUCK = _DQ03_O.format(
    d2e_min="date_diff('day', DATE'1970-01-01', CAST(MIN(o_orderdate) AS DATE))",
    d2e_max="date_diff('day', DATE'1970-01-01', CAST(MAX(o_orderdate) AS DATE))",
)

_DQ03_DUCK = (
    f"WITH o AS ({_DQ03_O_DUCK}), l AS ({_DQ03_L})"
    + _DQ03_LONG.replace("WITH profile AS (", ", profile AS (")
)


# r11 (the dq01 rework): both one-row table aggregates cross-joined into a
# single 1-row checkpoint — the scheduler overlaps the two aggregates as
# independent stages of ONE job; the emission reads that checkpoint
# (3 jobs -> 2). Only the shared n_rows needs prefixing.
_DQ03_COMBINED = f"""
SELECT o.n_rows AS o_n_rows, l.n_rows AS l_n_rows,
       o.nn_custkey, o.nd_custkey, o.min_custkey, o.max_custkey,
       o.nn_price, o.nd_price, o.min_price_x100, o.max_price_x100,
       o.nn_odate, o.nd_odate, o.min_odate_days, o.max_odate_days,
       l.nn_qty, l.nd_qty, l.min_qty_x100, l.max_qty_x100,
       l.nn_disc, l.nd_disc, l.min_disc_x100, l.max_disc_x100,
       l.nn_rflag, l.nd_rflag
FROM ({_DQ03_O_SPARK}) o CROSS JOIN ({_DQ03_L}) l
"""

_DQ03_LONG_COMBINED = """
WITH profile AS (
  SELECT 'orders' AS table_name, 'o_custkey' AS column_name,
         o_n_rows AS n_rows, o_n_rows - nn_custkey AS n_null,
         nd_custkey AS n_distinct,
         min_custkey AS min_canon, max_custkey AS max_canon FROM s
  UNION ALL
  SELECT 'orders', 'o_totalprice', o_n_rows, o_n_rows - nn_price, nd_price,
         min_price_x100, max_price_x100 FROM s
  UNION ALL
  SELECT 'orders', 'o_orderdate', o_n_rows, o_n_rows - nn_odate, nd_odate,
         min_odate_days, max_odate_days FROM s
  UNION ALL
  SELECT 'lineitem', 'l_quantity', l_n_rows, l_n_rows - nn_qty, nd_qty,
         min_qty_x100, max_qty_x100 FROM s
  UNION ALL
  SELECT 'lineitem', 'l_discount', l_n_rows, l_n_rows - nn_disc, nd_disc,
         min_disc_x100, max_disc_x100 FROM s
  UNION ALL
  SELECT 'lineitem', 'l_returnflag', l_n_rows, l_n_rows - nn_rflag, nd_rflag,
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM s
)
SELECT table_name, column_name,
  CAST(n_rows AS BIGINT)     AS n_rows,
  CAST(n_null AS BIGINT)     AS n_null,
  CAST(n_distinct AS BIGINT) AS n_distinct,
  min_canon, max_canon,
  CAST(ROUND(1000.0 * n_distinct / n_rows) AS BIGINT) AS distinct_x1000
FROM profile
""".replace("FROM s", "FROM {stats}")


@query("dq03_column_profile", oracle=_DQ03_DUCK, tags=("quality", "profile"))
def dq03_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column statistical profile (row/null/distinct counts, canonical
    integer extremes, distinct ratio) in long format — the pg_stats/ANALYZE
    surface the reference delegates to PostgreSQL, as a first-class
    operator. ONE aggregate pass per table (COUNT(DISTINCT)s expand
    map-side); both one-row stat relations computed as independent stages
    of a SINGLE checkpointed job (r11, the dq01 rework: each CTE is
    referenced exactly once, cross-joined 1-row x 1-row — the scheduler
    overlaps the two table aggregates and the emission reads one
    checkpoint; 3 jobs -> 2)."""
    register_views(spark, sf_dir)
    stats = checkpoint(spark.sql(_DQ03_COMBINED), eager=True)
    return spark.sql(_DQ03_LONG_COMBINED, stats=stats)


# ---------------------------------------------------------------------------
# dq04 — cross-table reconciliation audit (header vs detail totals)
# ---------------------------------------------------------------------------
# The classic financial-grade consistency check dq01's single-table
# constraints can't see: does every order header's o_totalprice agree
# with the total computed from its line items? The output is the
# discrepancy-band histogram (exact / <1% / >=1% / missing detail) a
# reconciliation gate alerts on — the cross-table twin of the
# reference's alert packets.
#
# All money math is integer cents: each line's extended value rounds to
# cents once (a single double product is IEEE-identical across engines),
# then sums as BIGINT. Scale shape: the detail aggregate is keyed on the
# uniform l_orderkey and the header join co-partitions on the same key
# (one shuffle each side, AQE may broadcast the smaller); the band
# histogram is a bounded-key aggregate.

_DQ04 = """
WITH line_totals AS (
  SELECT l_orderkey,
    SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
             AS BIGINT)) AS computed_cents
  FROM lineitem
  GROUP BY l_orderkey
), joined AS (
  SELECT o.o_orderkey,
    CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS header_cents,
    lt.computed_cents
  FROM orders o LEFT JOIN line_totals lt ON o.o_orderkey = lt.l_orderkey
), banded AS (
  SELECT
    CASE
      WHEN computed_cents IS NULL               THEN 'missing_detail'
      WHEN computed_cents = header_cents        THEN 'exact'
      WHEN ABS(computed_cents - header_cents) * 100 < header_cents
                                                THEN 'within_1pct'
      ELSE 'over_1pct'
    END AS band,
    header_cents,
    COALESCE(ABS(computed_cents - header_cents), header_cents) AS abs_diff_cents
  FROM joined
)
SELECT band,
  CAST(COUNT(*) AS BIGINT)            AS n_orders,
  CAST(SUM(abs_diff_cents) AS BIGINT) AS total_abs_diff_cents,
  CAST(MAX(abs_diff_cents) AS BIGINT) AS max_abs_diff_cents
FROM banded
GROUP BY band
"""


@query("dq04_reconciliation", oracle=_DQ04, tags=("quality", "reconciliation", "audit"))
def dq04_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: every order header total vs the total
    recomputed from its line items (integer cents end-to-end), emitted as
    the discrepancy-band histogram (exact / <1% / >=1% / missing detail)
    a reconciliation gate alerts on. Detail aggregate and header join
    share the uniform orderkey partitioning; the histogram is bounded."""
    return _sql(spark, sf_dir, _DQ04)


# ---------------------------------------------------------------------------
# dq05 — referential-integrity audit (FK orphan matrix over every edge)
# ---------------------------------------------------------------------------
# The cross-table companion to dq01's single-table constraints and dq04's
# value reconciliation: for every foreign-key edge in the schema, count
# child rows/keys whose parent is missing. The reference's alert packets
# poll pg_catalog for exactly this class of drift (dead tuples, broken
# dependencies); on a lake with no enforced constraints this audit IS the
# integrity guarantee, run before every release.
#
# Scale shape, per edge: the child side collapses to (fk, cnt) with ONE
# map-side-combined aggregate on the uniform key; the parent side is a
# key-only projection (DISTINCT pk). The join is keyed — dimension
# parents broadcast, the one fact-fact edge (lineitem->orders) SMJ/AQE
# co-partitions on the shared key. Output is |edges| rows. NULL FKs are
# counted separately, never conflated with orphans.

_DQ05_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _dq05_edge_sql(edge: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{edge}' AS edge,
  CAST(SUM(cnt) AS BIGINT)                                      AS n_child_rows,
  CAST(SUM(CASE WHEN fk IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_null_rows,
  CAST(SUM(CASE WHEN fk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                                AS n_fk_keys,
  CAST(SUM(CASE WHEN orphan THEN cnt ELSE 0 END) AS BIGINT)     AS n_orphan_rows,
  CAST(SUM(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)       AS n_orphan_keys
FROM (
  SELECT k.fk, k.cnt, (k.fk IS NOT NULL AND p.pk IS NULL) AS orphan
  FROM (SELECT {fk} AS fk, COUNT(*) AS cnt FROM {child} GROUP BY {fk}) k
  LEFT JOIN (SELECT DISTINCT {pk} AS pk FROM {parent}) p ON p.pk = k.fk
) t
"""


_DQ05 = "\nUNION ALL\n".join(_dq05_edge_sql(*e) for e in _DQ05_EDGES)


# r12 (guide §6/§2.4): the Spark side fuses all seven edges into ONE
# multi-FK pass. The per-edge UNION ALL text (the DuckDB oracle, unchanged)
# scanned lineitem THREE times (l_orderkey / l_partkey / l_suppkey edges) —
# three full passes over the biggest table at any scale. Here each child
# table is scanned ONCE and its FK columns are unpivoted via stack() into
# (edge, fk) rows (all keys cast to BIGINT — lossless, every key is an
# integer type); one (edge, fk)-keyed aggregate replaces the seven
# per-edge aggregates, and one (edge, key) join against the tagged
# DISTINCT parent-key union replaces the seven joins. Identical
# per-edge arithmetic: the group row set per edge is exactly the old
# per-edge GROUP BY, and the parent sets are tagged per edge so the
# LEFT JOIN matches exactly the old per-edge semi-join. Plan: 42
# exchanges -> 7, lineitem scans 3 -> 1 (plans/r12/dq05_fk_orphans_*).
def _dq05_child_branch(edges: tuple) -> str:
    """One scan of a child table unpivoting its FK edges via stack()."""
    by_child: dict[str, list[tuple[str, str]]] = {}
    for edge, child, fk, _parent, _pk in edges:
        by_child.setdefault(child, []).append((edge, fk))
    branches = []
    for child, pairs in by_child.items():
        if len(pairs) == 1:  # single-FK child: no generator needed
            e, fk = pairs[0]
            branches.append(
                f"SELECT '{e}' AS edge, CAST({fk} AS BIGINT) AS fk FROM {child}"
            )
        else:
            args = ", ".join(f"'{e}', CAST({fk} AS BIGINT)" for e, fk in pairs)
            branches.append(
                f"SELECT stack({len(pairs)}, {args}) AS (edge, fk) FROM {child}"
            )
    return "\n  UNION ALL\n  ".join(branches)


# One census row per edge (cnt NULL, so every FILTERed sum skips it): an
# edge whose child table is empty still gets its output row, with the NULL
# sums of the oracle's per-edge aggregate over no rows. A UNION ALL into the
# final aggregate, not a join: the census adds no exchange and no join.
_DQ05_CENSUS = ", ".join(f"('{edge}')" for edge, *_ in _DQ05_EDGES)

_DQ05_SPARK = f"""
WITH ck AS (
  SELECT edge, fk, COUNT(*) AS cnt FROM (
  {_dq05_child_branch(_DQ05_EDGES)}
  ) c GROUP BY edge, fk
), pk AS (
  {"  UNION ALL".join(
    f'''
  SELECT DISTINCT '{edge}' AS edge, CAST({pk} AS BIGINT) AS pk FROM {parent}
'''
    for edge, _child, _fk, parent, pk in _DQ05_EDGES
  )}
)
SELECT k.edge AS edge,
  CAST(SUM(k.cnt) FILTER (WHERE k.cnt IS NOT NULL) AS BIGINT)     AS n_child_rows,
  CAST(SUM(CASE WHEN k.fk IS NULL THEN k.cnt ELSE 0 END)
       FILTER (WHERE k.cnt IS NOT NULL) AS BIGINT)                AS n_null_rows,
  CAST(SUM(CASE WHEN k.fk IS NOT NULL THEN 1 ELSE 0 END)
       FILTER (WHERE k.cnt IS NOT NULL) AS BIGINT)                AS n_fk_keys,
  CAST(SUM(CASE WHEN k.fk IS NOT NULL AND k.pk IS NULL THEN k.cnt ELSE 0 END)
       FILTER (WHERE k.cnt IS NOT NULL) AS BIGINT)                AS n_orphan_rows,
  CAST(SUM(CASE WHEN k.fk IS NOT NULL AND k.pk IS NULL THEN 1 ELSE 0 END)
       FILTER (WHERE k.cnt IS NOT NULL) AS BIGINT)                AS n_orphan_keys
FROM (
  SELECT k.edge, k.fk, k.cnt, p.pk
  FROM ck k
  LEFT JOIN pk p ON p.edge = k.edge AND p.pk = k.fk
  UNION ALL
  SELECT edge, NULL, NULL, NULL FROM VALUES {_DQ05_CENSUS} AS e(edge)
) k
GROUP BY k.edge
"""


@query("dq05_fk_orphans", oracle=_DQ05, tags=("quality", "integrity", "audit"))
def dq05_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge in the schema:
    per-edge child-row/key counts, NULL-FK counts, and orphan rows/keys
    (child keys with no parent). The Spark plan runs ALL edges in one
    multi-FK pass (r12): each child table is scanned once with its FK
    columns unpivoted to (edge, fk) rows, one keyed aggregate collapses
    them, and one join against the tagged DISTINCT parent-key union
    marks orphans — lineitem is scanned once instead of once per FK
    edge; output is |edges| rows, one per edge even when its child table
    is empty (a census VALUES list) — the release gate a lake without
    enforced constraints runs instead of the reference's server-side
    constraint checks."""
    return _sql(spark, sf_dir, _DQ05_SPARK)


# ---------------------------------------------------------------------------
# dq06 — value-distribution drift gate (total-variation, integer-exact)
# ---------------------------------------------------------------------------
# The third leg of the quality suite: dq01 checks constraints, dq02 flags
# rate anomalies, dq06 flags when the SHAPE of a metric's distribution
# moves — the training-data freshness gate (dataset v2 vs v1) and the
# production canary (this week's events vs last week's). The corpus is
# split at its time midpoint into reference/current halves; each type's
# `value` distribution is binned into 10 fixed-width bins whose edges
# come from the REFERENCE half (the PSI convention), and the halves are
# compared by total-variation distance.
#
# Exactness discipline: values quantize to integer cents (the dq03
# canonicalization); bin edges are integer; the bin index is integer
# division AFTER clamping into the reference range, so the numerator is
# never negative (Spark `div` truncates toward zero, DuckDB `//` floors
# — they only agree on non-negative operands). TV's numerator
# |n_cur·N_ref − n_ref·N_cur| stays in DECIMAL(38,0) (the dq02 lesson:
# squared/bilinear counts overflow BIGINT at 1e9-row days); ONE float
# division at the very end produces the ×1e6 verdict.
#
# Scale shape: three scans of events, each pruned to 2-3 columns — a
# one-row time-span aggregate, a |types|-row reference-edge aggregate,
# and the main pass onto the BOUNDED (type, half, bin) key space (all
# map-side combined). The tiny relations are localCheckpointed once
# (Spark inlines CTEs — the span would otherwise be recomputed per
# reference) and re-enter as broadcasts. The TV fold runs on the
# |types|×10 matrix — metadata-scale at any corpus.
#
# Contract: drift is measured for types observed in the reference half
# (bin edges need a reference distribution); brand-new types are dq02's
# job. A type that vanishes from the current half scores 1e6 (fully
# drifted).

_DQ06_VQ = "CAST(ROUND(value * 100) AS BIGINT)"

_DQ06_SPAN = """
SELECT MIN({us}) AS mn_us, MAX({us}) AS mx_us
FROM events WHERE value IS NOT NULL
"""

_DQ06_REF = """
SELECT event_type, MIN({vq}) AS mn_vq, MAX({vq}) AS mx_vq
FROM events CROSS JOIN {span} s
WHERE value IS NOT NULL AND {us} * 2 < s.mn_us + s.mx_us
GROUP BY event_type
"""

_DQ06_MAIN = """
WITH binned AS (
  SELECT {h_ref}e.event_type,
    CASE WHEN {us} * 2 < s.mn_us + s.mx_us THEN 0 ELSE 1 END AS half,
    ((LEAST(r.mx_vq, GREATEST(r.mn_vq, {vq})) - r.mn_vq) * 10)
      {intdiv} (r.mx_vq - r.mn_vq + 1) AS bin,
    COUNT(*) AS n
  FROM events e
  JOIN {ref} r ON r.event_type = e.event_type
  CROSS JOIN {span} s
  WHERE e.value IS NOT NULL
  GROUP BY 1, 2, 3
), pv AS (
  SELECT event_type, bin,
    SUM(CASE WHEN half = 0 THEN n ELSE 0 END) AS n_ref,
    SUM(CASE WHEN half = 1 THEN n ELSE 0 END) AS n_cur
  FROM binned GROUP BY event_type, bin
), w AS (
  SELECT event_type, n_ref, n_cur,
    SUM(n_ref) OVER (PARTITION BY event_type) AS t_ref,
    SUM(n_cur) OVER (PARTITION BY event_type) AS t_cur
  FROM pv
), tv AS (
  SELECT event_type,
    CAST(MAX(t_ref) AS BIGINT) AS n_ref,
    CAST(MAX(t_cur) AS BIGINT) AS n_cur,
    CAST(CASE WHEN MAX(t_cur) = 0 THEN 1000000 ELSE ROUND(
      1000000.0 * CAST(SUM(ABS(
        CAST(n_cur AS DECIMAL(38,0)) * CAST(t_ref AS DECIMAL(38,0))
        - CAST(n_ref AS DECIMAL(38,0)) * CAST(t_cur AS DECIMAL(38,0))
      )) AS DOUBLE)
      / (2.0 * CAST(MAX(t_ref) AS DOUBLE) * CAST(MAX(t_cur) AS DOUBLE))
    ) END AS BIGINT) AS tv_x1e6
  FROM w GROUP BY event_type
)
SELECT event_type, n_ref, n_cur, tv_x1e6, (tv_x1e6 > 100000) AS drifted
FROM tv
"""


def _dq06(us: str, intdiv: str, span: str, ref: str, h_ref: str) -> str:
    return _DQ06_MAIN.format(
        us=us, vq=_DQ06_VQ, intdiv=intdiv, span=span, ref=ref, h_ref=h_ref
    )


_DQ06_US_SPARK = "unix_micros(CAST(e.ts AS TIMESTAMP))"
_DQ06_US_DUCK = "epoch_us(e.ts)"

_DQ06_SPAN_SPARK = _DQ06_SPAN.format(us="unix_micros(CAST(ts AS TIMESTAMP))")
_DQ06_REF_SPARK = _DQ06_REF.format(
    vq=_DQ06_VQ, span="{span}", us="unix_micros(CAST(ts AS TIMESTAMP))"
)
_DQ06_SPARK = _dq06(
    _DQ06_US_SPARK, "div", "{span}", "{ref}", "/*+ BROADCAST(r, s) */ "
)
_DQ06_DUCK = (
    "WITH dspan AS ("
    + _DQ06_SPAN.format(us="epoch_us(ts)")
    + "), dref AS ("
    + _DQ06_REF.format(vq=_DQ06_VQ, span="dspan", us="epoch_us(ts)")
    + "), main AS ("
    + _dq06(_DQ06_US_DUCK, "//", "dspan", "dref", "")
    + ") SELECT * FROM main"
)


@query("dq06_distribution_drift", oracle=_DQ06_DUCK, tags=("quality", "drift", "events"))
def dq06_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate: per event type, total-variation distance
    (×1e6) between the reference (first time half) and current (second
    half) `value` distributions over 10 reference-edged bins — the
    PSI-style canary a training-data pipeline runs between dataset
    versions. Integer-exact until one final division (see module
    comment); types absent from the reference window are out of
    contract (new-type detection is dq02's job).

    Plan: one-row span and |types|-row reference-edge relations are
    checkpointed once and broadcast; the main pass is ONE pruned scan
    onto the bounded (type, half, bin) key space; the TV fold runs on
    the |types|×10 matrix."""
    register_views(spark, sf_dir)
    span = checkpoint(spark.sql(_DQ06_SPAN_SPARK), eager=True)
    ref = checkpoint(spark.sql(_DQ06_REF_SPARK, span=span), eager=True)
    return spark.sql(_DQ06_SPARK, span=span, ref=ref)


# ---------------------------------------------------------------------------
# dq07 — distributed exact quantiles via histogram-partitioned selection
# ---------------------------------------------------------------------------
# dq03 profiles min/max/distinct; quantiles are the missing profile stat —
# and the naive exact method (global ROW_NUMBER) funnels the whole column
# through one partition. dq07 computes EXACT nearest-rank quantiles with no
# global sort: one pass builds a 4,096-bin equi-width histogram over
# integer cents (fixed-memory, mergeable — the same counter state a
# streaming profiler keeps), the cumulative over the <= 4,096-row bin
# relation locates the target bin per quantile, and a within-bin
# ROW_NUMBER — partitioned by bin, ~n/4096 rows each — selects the exact
# value. The operator also reports the pure-sketch estimate (the bin's
# right edge, what you'd serve WITHOUT the selection pass) and its signed
# error, auditing the bin resolution the same way ev17 audits count-min.
#
# Scale shape: two corpus-scale stages (min/max pass, binning pass), both
# map-side-combinable; the cum window runs over <= 4,096 bounded rows (the
# ta12 pinned class); the selection window partitions BY BIN (bounded
# partitions by construction) and only over the <= 5 picked bins. At
# 100 TB: histogram state is 32 KB per shard and merges across
# shards/days; only picked bins ever sort.

_DQ07_BINS = 4096
_DQ07_QS = (25, 50, 75, 90, 99)


_DQ07_MM = """
SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL) t
"""


def _dq07_binned(mm_src: str, intdiv: str) -> str:
    return f"""
SELECT v, ((v - lo) * {_DQ07_BINS}) {intdiv} (hi - lo + 1) AS b
FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL) t
CROSS JOIN {mm_src}
"""


_DQ07_CUM = """
SELECT b, c,
  SUM(c) OVER (ORDER BY b) AS cum,
  COALESCE(SUM(c) OVER (ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
FROM (SELECT b, COUNT(*) AS c FROM {binned_src} GROUP BY b) hist
"""


def _dq07_tail(mm_src: str, binned_src: str, cum_src: str, values_table: str,
               intdiv: str, lead: str = "WITH", hints: bool = False) -> str:
    # checkpointed relations carry no stats (the dd10 lesson): hint every
    # bounded relation (pick/within: <= 5 rows; picked-bin set: <= 5) onto
    # the broadcast side so no tail join ever SMJs the binned column
    h_within = "/*+ BROADCAST(p) */ " if hints else ""
    h_bvals = "/*+ BROADCAST(pb) */ " if hints else ""
    h_exact = "/*+ BROADCAST(w) */ " if hints else ""
    h_final = "/*+ BROADCAST(w, m) */ " if hints else ""
    return f"""
{lead} cum AS (
  SELECT * FROM {cum_src}
), qs AS (
  SELECT * FROM {values_table}
), targets AS (
  SELECT qpct, (qpct * n + 99) {intdiv} 100 AS tgt FROM qs CROSS JOIN {mm_src}
), pick AS (
  SELECT t.qpct, t.tgt, MIN(c.b) AS b
  FROM targets t JOIN cum c ON c.cum >= t.tgt
  GROUP BY t.qpct, t.tgt
), within AS (
  SELECT {h_within}p.qpct, p.tgt - cu.cum_prev AS r, p.b
  FROM pick p JOIN cum cu ON cu.b = p.b
), bvals AS (
  SELECT {h_bvals}x.b, x.v, ROW_NUMBER() OVER (PARTITION BY x.b ORDER BY x.v) AS rn
  FROM {binned_src} x JOIN (SELECT DISTINCT b FROM pick) pb ON pb.b = x.b
), exact AS (
  SELECT {h_exact}w.qpct, x.v AS exact_cents
  FROM within w JOIN bvals x ON x.b = w.b AND x.rn = w.r
)
SELECT {h_final}CAST(e.qpct AS BIGINT) AS qpct, CAST(m.n AS BIGINT) AS n,
  CAST(e.exact_cents AS BIGINT) AS exact_cents,
  CAST(m.lo + ((w.b + 1) * (m.hi - m.lo + 1) + {_DQ07_BINS} - 1) {intdiv} {_DQ07_BINS} - 1
       AS BIGINT) AS est_cents,
  CAST(m.lo + ((w.b + 1) * (m.hi - m.lo + 1) + {_DQ07_BINS} - 1) {intdiv} {_DQ07_BINS} - 1
       - e.exact_cents AS BIGINT) AS err_cents
FROM exact e JOIN within w ON w.qpct = e.qpct CROSS JOIN {mm_src} m
"""


_DQ07_VALUES = ", ".join(f"({q})" for q in _DQ07_QS)

_DQ07_BINNED_SPARK = _dq07_binned("{mm}", "DIV")
_DQ07_CUM_SPARK = _DQ07_CUM.format(binned_src="{binned}")
_DQ07_TAIL_SPARK = _dq07_tail(
    "{mm}", "{binned}", "{cum}",
    f"VALUES {_DQ07_VALUES} AS t(qpct)", "DIV", hints=True
)

_DQ07_DUCK = (
    f"WITH mm AS ({_DQ07_MM}), binned AS ({_dq07_binned('mm', '//')}),"
    f" cumr AS ({_DQ07_CUM.format(binned_src='binned')})"
    + _dq07_tail("mm", "binned", "cumr",
                 f"(VALUES {_DQ07_VALUES}) t(qpct)", "//", lead=",")
)


@query("dq07_quantile_profile", oracle=_DQ07_DUCK, tags=("quality", "profile", "quantile"))
def dq07_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT nearest-rank quantiles (p25/50/75/90/99 of
    o_totalprice in integer cents) with no global sort: 4,096-bin
    equi-width histogram (one mergeable pass) locates each target bin,
    a bin-partitioned ROW_NUMBER selects the exact value within only the
    picked bins, and the pure-sketch bin-edge estimate rides along with
    its signed error — the quantile profile dq03 lacks plus the sketch
    audit (the ev17 pattern on the frequency side). min/max and the
    binned relation are materialized once (CTE inlining would re-scan
    orders ~5x)."""
    register_views(spark, sf_dir)
    mm = checkpoint(spark.sql(_DQ07_MM), eager=True)
    binned = checkpoint(spark.sql(_DQ07_BINNED_SPARK, mm=mm), eager=True)
    # the <= 4,096-row cum relation is read by targets/pick/within/final:
    # inlined it re-aggregated the binned checkpoint ~4x and re-ran the
    # single-partition cumulative window each time
    cum = checkpoint(spark.sql(_DQ07_CUM_SPARK, binned=binned), eager=True)
    return spark.sql(_DQ07_TAIL_SPARK, mm=mm, binned=binned, cum=cum)


# ---------------------------------------------------------------------------
# dq08 — per-COLUMN exact quantile profile (dq07's machinery, one scan)
# ---------------------------------------------------------------------------
# dq07 proves the histogram-partitioned exact-selection shape on ONE
# hard-coded column; a profiler needs it for EVERY numeric column without
# N scans (the r7 verdict's Next #6). dq08 threads a column key through
# the whole chain: one pass over lineitem explodes each row into
# (col, value_cents) via an inline struct array — so all four numeric
# columns share a single scan and ONE mergeable (col, bin) histogram —
# and every downstream relation (cum window PARTITION BY col, target/pick/
# within joins, picked-bin ROW_NUMBER) is keyed by (col, ...) with the
# same boundedness guarantees as dq07 (cum <= cols x 4,096 rows; selection
# sorts only the <= cols x 5 picked bins).
#
# At 100 TB: histogram state is cols x 32 KB, mergeable across shards;
# the explode multiplies scan rows by |cols| but the map-side (col, b)
# combine collapses them before any shuffle — the alternative (one dq07
# run per column) re-reads the corpus |cols| times.

_DQ08_BINS = 4096
_DQ08_QS = (25, 50, 75, 90, 99)
_DQ08_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_DQ08_VALS_SPARK = (
    "SELECT c.col, c.v FROM lineitem\nLATERAL VIEW explode(array(\n  "
    + ",\n  ".join(
        f"named_struct('col', '{c}', 'v', CAST(ROUND({c} * 100) AS BIGINT))"
        for c in _DQ08_COLS
    )
    + "\n)) t AS c\nWHERE c.v IS NOT NULL"
)

# the oracle runs at sf0.01 — a UNION ALL of pruned scans is fine there;
# only the Spark side needs the single-scan explode shape
_DQ08_VALS_DUCK = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col, CAST(ROUND({c} * 100) AS BIGINT) AS v"
    f" FROM lineitem WHERE {c} IS NOT NULL"
    for c in _DQ08_COLS
)


def _dq08_mm(vals_src: str) -> str:
    return f"""
SELECT col, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
FROM ({vals_src}) t GROUP BY col
"""


def _dq08_binned(vals_src: str, mm_src: str, intdiv: str, hints: bool = False) -> str:
    h = "/*+ BROADCAST(m) */ " if hints else ""
    return f"""
SELECT {h}v.col, v.v, ((v.v - m.lo) * {_DQ08_BINS}) {intdiv} (m.hi - m.lo + 1) AS b
FROM ({vals_src}) v JOIN ({mm_src}) m ON m.col = v.col
"""


_DQ08_CUM = """
SELECT col, b, c,
  SUM(c) OVER (PARTITION BY col ORDER BY b) AS cum,
  COALESCE(SUM(c) OVER (PARTITION BY col ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
FROM (SELECT col, b, COUNT(*) AS c FROM {binned_src} GROUP BY col, b) hist
"""


def _dq08_tail(mm_src: str, binned_src: str, cum_src: str, values_table: str,
               intdiv: str, lead: str = "WITH", hints: bool = False) -> str:
    # same broadcast discipline as dq07: every post-histogram relation is
    # bounded (cols x quantiles / picked bins) — pin it to the build side
    h_within = "/*+ BROADCAST(p) */ " if hints else ""
    h_bvals = "/*+ BROADCAST(pb) */ " if hints else ""
    h_exact = "/*+ BROADCAST(w) */ " if hints else ""
    h_final = "/*+ BROADCAST(w, m) */ " if hints else ""
    return f"""
{lead} cum AS (
  SELECT * FROM {cum_src}
), qs AS (
  SELECT * FROM {values_table}
), targets AS (
  SELECT m.col, q.qpct, (q.qpct * m.n + 99) {intdiv} 100 AS tgt
  FROM qs q CROSS JOIN ({mm_src}) m
), pick AS (
  SELECT t.col, t.qpct, t.tgt, MIN(c.b) AS b
  FROM targets t JOIN cum c ON c.col = t.col AND c.cum >= t.tgt
  GROUP BY t.col, t.qpct, t.tgt
), within AS (
  SELECT {h_within}p.col, p.qpct, p.tgt - cu.cum_prev AS r, p.b
  FROM pick p JOIN cum cu ON cu.col = p.col AND cu.b = p.b
), bvals AS (
  SELECT {h_bvals}x.col, x.b, x.v,
         ROW_NUMBER() OVER (PARTITION BY x.col, x.b ORDER BY x.v) AS rn
  FROM {binned_src} x
  JOIN (SELECT DISTINCT col, b FROM pick) pb ON pb.col = x.col AND pb.b = x.b
), exact AS (
  SELECT {h_exact}w.col, w.qpct, x.v AS exact_cents
  FROM within w JOIN bvals x ON x.col = w.col AND x.b = w.b AND x.rn = w.r
)
SELECT {h_final}e.col, CAST(e.qpct AS BIGINT) AS qpct, CAST(m.n AS BIGINT) AS n,
  CAST(e.exact_cents AS BIGINT) AS exact_cents,
  CAST(m.lo + ((w.b + 1) * (m.hi - m.lo + 1) + {_DQ08_BINS} - 1) {intdiv} {_DQ08_BINS} - 1
       AS BIGINT) AS est_cents,
  CAST(m.lo + ((w.b + 1) * (m.hi - m.lo + 1) + {_DQ08_BINS} - 1) {intdiv} {_DQ08_BINS} - 1
       - e.exact_cents AS BIGINT) AS err_cents
FROM exact e
JOIN within w ON w.col = e.col AND w.qpct = e.qpct
JOIN ({mm_src}) m ON m.col = e.col
"""


_DQ08_VALUES = ", ".join(f"({q})" for q in _DQ08_QS)

# min/max/count per column WITHOUT the 4x explode: ONE row-aggregate
# over the pruned columnar scan computes all 12 stats (min/max ignore
# NULLs and COUNT(col) skips them — identical to aggregating the
# NULL-filtered vals), then a 1-row explode unpivots to (col, lo, hi, n).
# Saves a full 4x-struct Generate pass (~1/3 of dq08's decade wall); the
# DuckDB oracle keeps the explode form — same values.
_DQ08_MM_SPARK = (
    "SELECT t.col, t.lo, t.hi, t.n FROM (SELECT\n  "
    + ",\n  ".join(
        f"MIN(CAST(ROUND({c} * 100) AS BIGINT)) AS lo_{i},"
        f" MAX(CAST(ROUND({c} * 100) AS BIGINT)) AS hi_{i},"
        f" COUNT({c}) AS n_{i}"
        for i, c in enumerate(_DQ08_COLS)
    )
    + "\n FROM lineitem) a\nLATERAL VIEW explode(array(\n  "
    + ",\n  ".join(
        f"named_struct('col', '{c}', 'lo', lo_{i}, 'hi', hi_{i}, 'n', n_{i})"
        for i, c in enumerate(_DQ08_COLS)
    )
    + "\n)) x AS t"
)
_DQ08_BINNED_SPARK = _dq08_binned(
    "SELECT * FROM {vals}", "SELECT * FROM {mm}", "DIV", hints=True
)

# --- r11 Spark-side shape (VERDICT Next #6) --------------------------------
# The r9 shape ROW_NUMBER-sorted EVERY row of every picked bin. For
# low-cardinality columns a 4096-bin histogram makes bin == value, so a
# picked bin holds n/|distinct| rows — at the 600 M decade l_discount's
# picked bins alone pushed >60 M rows through the window exchange (59 GB
# mem spill, the family's tallest wall). Fix: the histogram additionally
# carries per-(col, b) MIN(v)/MAX(v) — same single pass, same map-side
# combine, still <= cols x 4096 rows. A picked bin with vmin == vmax IS
# its answer (the r-th smallest of a constant bin is that constant), so
# only genuinely mixed bins (wide-range columns; ~bin-width rows each)
# reach the extraction sort — and when NO picked bin is mixed, the
# builder (which has the bounded within relation checkpointed anyway)
# drops the extraction branch and its corpus re-scan from the plan
# entirely, the same runtime-adaptive move as ta13's shard gate.
_DQ08_CUM_SPARK = """
SELECT col, b, c, vmin, vmax,
  SUM(c) OVER (PARTITION BY col ORDER BY b) AS cum,
  COALESCE(SUM(c) OVER (PARTITION BY col ORDER BY b
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
FROM (SELECT col, b, COUNT(*) AS c, MIN(v) AS vmin, MAX(v) AS vmax
      FROM {binned_src} GROUP BY col, b) hist
"""

_DQ08_WITHIN_SPARK = f"""
WITH qs AS (
  SELECT * FROM VALUES {_DQ08_VALUES} AS t(qpct)
), targets AS (
  SELECT m.col, q.qpct, (q.qpct * m.n + 99) DIV 100 AS tgt
  FROM qs q CROSS JOIN {{mm}} m
), pick AS (
  SELECT t.col, t.qpct, t.tgt, MIN(c.b) AS b
  FROM targets t JOIN {{cum}} c ON c.col = t.col AND c.cum >= t.tgt
  GROUP BY t.col, t.qpct, t.tgt
)
SELECT /*+ BROADCAST(p) */ p.col, p.qpct, p.tgt - cu.cum_prev AS r, p.b,
       cu.vmin, cu.vmax
FROM pick p JOIN {{cum}} cu ON cu.col = p.col AND cu.b = p.b
"""

def _dq08_extract_sql(mixed: "list[tuple]") -> str:
    """Build the extraction pass from the driver-side ``within`` rows
    (bounded, <= cols x quantiles): one UNION branch per column, each a
    NARROW single-column scan with a LITERAL raw-value range predicate
    that pushes into the parquet reader — no Generate, no join, only the
    few bin-member rows survive to the (col, b) ROW_NUMBER exchange.
    Bin membership filters on the bin's ACTUAL [vmin, vmax] (from the
    histogram), which is exactly the b == bin predicate restricted to
    existing values; the pushed raw filter is its rounding-safe hull
    over the untransformed column."""
    by_col: "dict[str, list[tuple[int, int, int]]]" = {}
    for col, _qpct, _r, b, vmin, vmax in mixed:
        rs = by_col.setdefault(col, [])
        if (b, vmin, vmax) not in rs:
            rs.append((b, vmin, vmax))
    branches = []
    for col, rs in by_col.items():
        hull_lo = min(v for _, v, _ in rs)
        hull_hi = max(v for _, _, v in rs)
        case = " ".join(
            f"WHEN v BETWEEN {vmin} AND {vmax} THEN {b}" for b, vmin, vmax in rs
        )
        member = " OR ".join(
            f"v BETWEEN {vmin} AND {vmax}" for _, vmin, vmax in rs
        )
        branches.append(
            f"SELECT '{col}' AS col, CASE {case} END AS b, v FROM ("
            f"SELECT CAST(ROUND({col} * 100) AS BIGINT) AS v FROM lineitem"
            f" WHERE {col} >= {(hull_lo - 0.6) / 100.0!r}"
            f" AND {col} <= {(hull_hi + 0.6) / 100.0!r}"
            f") WHERE {member}"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""
SELECT /*+ BROADCAST(w) */ w.col, w.qpct, x.v AS exact_cents
FROM {{within}} w
JOIN (
  SELECT v.col, v.b, v.v,
         ROW_NUMBER() OVER (PARTITION BY v.col, v.b ORDER BY v.v) AS rn
  FROM ({union}) v
) x ON x.col = w.col AND x.b = w.b AND x.rn = w.r
WHERE w.vmin < w.vmax
"""

_DQ08_RESOLVED_SPARK = """
SELECT col, qpct, vmin AS exact_cents FROM {within} WHERE vmin = vmax
"""

_DQ08_FINAL_SPARK = f"""
SELECT /*+ BROADCAST(w, m) */ e.col, CAST(e.qpct AS BIGINT) AS qpct,
  CAST(m.n AS BIGINT) AS n,
  CAST(e.exact_cents AS BIGINT) AS exact_cents,
  CAST(m.lo + ((w.b + 1) * (m.hi - m.lo + 1) + {_DQ08_BINS} - 1) DIV {_DQ08_BINS} - 1
       AS BIGINT) AS est_cents,
  CAST(m.lo + ((w.b + 1) * (m.hi - m.lo + 1) + {_DQ08_BINS} - 1) DIV {_DQ08_BINS} - 1
       - e.exact_cents AS BIGINT) AS err_cents
FROM {{exact}} e
JOIN {{within}} w ON w.col = e.col AND w.qpct = e.qpct
JOIN {{mm}} m ON m.col = e.col
"""

_DQ08_DUCK = (
    f"WITH vals AS ({_DQ08_VALS_DUCK}), mm AS ({_dq08_mm('SELECT * FROM vals')}),"
    f" binned AS ({_dq08_binned('SELECT * FROM vals', 'SELECT * FROM mm', '//')}),"
    f" cumr AS ({_DQ08_CUM.format(binned_src='binned')})"
    + _dq08_tail("SELECT * FROM mm", "binned", "cumr",
                 f"(VALUES {_DQ08_VALUES}) t(qpct)", "//", lead=",")
)


@query("dq08_column_quantiles", oracle=_DQ08_DUCK, tags=("quality", "profile", "quantile"))
def dq08_column_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column EXACT quantile profile (p25/50/75/90/99 in integer cents
    for every numeric lineitem column) — dq07's histogram-partitioned
    selection with a column key threaded through: ONE corpus scan explodes
    each row into (col, cents) structs, one mergeable (col, bin) histogram
    (carrying per-bin count AND vmin/vmax) locates every target bin.
    Also carries the pure-sketch right-edge estimate + signed error per
    (col, quantile).

    r11 selection (the 600 M-decade wall fix, VERDICT r10 Next #6): a
    picked bin whose vmin == vmax — EVERY bin of a low-cardinality column
    like l_discount, whose 11 distinct values map 1:1 onto bins holding
    n/11 rows each — resolves from the histogram alone; only genuinely
    mixed bins (wide-range columns, ~n/4096 rows each) go through the
    (col, bin)-partitioned ROW_NUMBER extraction, and when no picked bin
    is mixed the builder drops the extraction branch (and its corpus
    re-scan) from the plan entirely — decided on the already-checkpointed
    <= cols x quantiles `within` relation, the same runtime-adaptive
    move as ta13's shard gate. The r9 shape sorted every row of every
    picked bin: >60 M window-exchange rows and 59 GB mem spill at 600 M
    (SCALE_PROBE_R9_MEM/R10); the same probe shape now exchanges only
    the mixed-bin rows. The extraction itself (r11, second step) is
    parameterized from the collected within rows: one NARROW
    single-column scan per mixed column with a LITERAL raw-range
    predicate pushed into the parquet reader and bin membership filtered
    on the bin's actual [vmin, vmax] — no Generate, no join ahead of the
    ROW_NUMBER (see :func:`_dq08_extract_sql`).

    Only the BOUNDED relations are materialized — mm (|cols| rows), the
    cum histogram (<= cols x 4096 rows), within (<= cols x quantiles
    rows); vals/binned stay inline and the pruned 4-column lineitem scan
    re-streams where referenced (2-3 scans total: min/max, histogram,
    extraction iff some picked bin is mixed). The r8 shape checkpointed
    the 4x-corpus vals AND binned relations instead — at the 100x/16 GB
    decade those ~14 GB of pinned blocks ran the heap out during their
    own materialization (SCALE_PROBE_R9 first attempt). Re-scanning a
    pruned columnar source is the cheap side of that trade at any scale;
    pinning a multiple of the corpus never is (the dd12 lesson)."""
    register_views(spark, sf_dir)
    vals = spark.sql(_DQ08_VALS_SPARK)
    # r11 (guide §2.4): within checkpoints LAZILY (the dd08/dd13 move) —
    # it is materialized by the `mixed` collect below that ran anyway, one
    # job barrier cheaper, and a driver collect carries no timeout
    # semantics. mm and cum stay EAGER, each deliberately: a lazy mm would
    # put the full min/max corpus scan INSIDE the cum statement's
    # broadcast build (subject to spark.sql.broadcastTimeout on the
    # 600 M-row decade path — a new failure class bought for a barrier
    # worth milliseconds at scale; measured neutral at bench scale); a
    # lazy cum could double-execute the corpus-histogram subtree, which
    # the within statement references twice (pick + the picked-bin probe).
    mm = checkpoint(spark.sql(_DQ08_MM_SPARK), eager=True)
    cum = checkpoint(spark.sql(
        _DQ08_CUM_SPARK.format(binned_src=f"({_DQ08_BINNED_SPARK})"), vals=vals, mm=mm
    ), eager=True)
    within = checkpoint(spark.sql(_DQ08_WITHIN_SPARK, mm=mm, cum=cum), eager=False)
    # metadata-scale collect over the <= cols x quantiles checkpoint: the
    # mixed bins' literal value ranges parameterize the extraction scans
    # (and, r11, this collect IS the job that materializes `within`)
    mixed = [tuple(r) for r in within.filter("vmin < vmax").collect()]
    exact = spark.sql(
        _DQ08_RESOLVED_SPARK
        + (f" UNION ALL {_dq08_extract_sql(mixed)}" if mixed else ""),
        within=within,
    )
    return spark.sql(_DQ08_FINAL_SPARK, exact=exact, within=within, mm=mm)
