"""Schema-migration operators — the reference's "converter core"
re-expressed Spark-first (reference workload: packets/test_int4_to_int8/*,
SURVEY §2.8, §4.2).

The reference migrates a PK column int4→int8 online: add shadow column,
trigger-maintained dual-write, chunked ``UPDATE … FROM`` backfill over
10 000-id ranges (bounded transactions), constraint + swap. On Spark the
whole ceremony collapses: a columnar rewrite with partition parallelism IS
the backfill, and the swap is a table rename. No triggers needed — batch
re-runs + the action ledger cover incremental sync (SURVEY §1.4).

Every rewrite has a ``*_plan`` builder returning a :data:`CountedPlan`.
:func:`commit` writes it over the table through :func:`_swap_write`;
:func:`shadow_execute` runs it into the noop sink (no-commit). The packet
runner maps each parsed DML statement to one counted plan and calls one of
the two; the public wrappers (``merge_update``, ``update_where``, …) are
``commit`` over their plan.

Scale design:
- every rewrite, ``change_column_type`` included, is one shuffle-free
  scan→write job through ``_swap_write``; at 100 TB this is a map-only job
  per partition, embarrassingly parallel across executors.
- ``merge_update`` always broadcasts the source (the UPDATE-FROM-subquery
  case: a small source) so the backfill join never shuffles the big table.
- bounded-work chunking is the packet's business: a generator fans a
  migration step into range actions (:func:`chunk_grid`, reference:
  packets/test_int4_to_int8/02_gen_obj.sql), each one ledger-tracked.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from db_converter_spark.catalog import column_types

# A rewrite plan and the reader of the PG affected-row count it observes
# while it runs; the reader is valid once the plan has executed (swap write
# or noop shadow execution), and the plan must execute exactly once.
CountedPlan = tuple[DataFrame, Callable[[], int]]


def _observed(df: DataFrame, matched: Column) -> CountedPlan:
    """``df`` with an Observation counting its rows where ``matched`` is
    TRUE. The count is filled by the job that writes the plan, so the
    affected-row number costs no pass of its own. Nothing the optimizer may
    prune to an empty relation (a filter that folds to FALSE, ``limit(0)``)
    may sit above the observation: it would drop the observed subtree."""
    obs = Observation()
    return df.observe(obs, F.count_if(matched).alias("n")), lambda: obs.get["n"]


def change_column_type(
    spark: SparkSession, table: str, column: str, new_type: str
) -> None:
    """int4→int8-style column type widening via rewrite-and-swap
    (reference: the whole test_int4_to_int8 packet, 01-07_step.sql).

    Parquet column types are immutable, so this is a cast projection
    written through :func:`_swap_write` — the Spark analog of PG's
    add-column/backfill/drop/rename dance, executed as ONE parallel
    scan→write that keeps the recorded defaults, indexes and reloptions."""
    cols = [
        F.col(name).cast(new_type).alias(name) if name == column else F.col(name)
        for name, _ in column_types(spark, table)
    ]
    _swap_write(spark, table, spark.table(table).select(*cols))


def merge_update_plan(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    on: list[str] | None,
    set_map: dict[str, str],
    condition: str | None = None,
) -> CountedPlan:
    """Logical plan of :func:`merge_update` and its matched-row count —
    built (and analyzed) without writing, so no-commit dry-runs execute the
    exact plan a real run would write. Emulated ``MERGE INTO … WHEN
    MATCHED THEN UPDATE`` / ``UPDATE … FROM`` (reference:
    packets/test_int4_to_int8/02_step.sql:3-5) for plain parquet tables
    (no Delta in this environment).

    Semantics: rows of ``target_table`` matching ``source`` — on the ``on``
    equi-keys, or on an arbitrary SQL ``condition`` over aliases ``t``/``s``
    (range/cross-named predicates) — get ``set_map`` column expressions;
    unmatched rows pass through unchanged. PostgreSQL updates each target
    row AT MOST ONCE even when several source rows match, so:

    - equi path: the source is deduplicated on the join keys before the
      left join (one hash-dedup of the SMALL side — a duplicate-keyed
      source would otherwise multiply target rows);
    - condition path: each target row is tagged with a unique id and only
      the first matching source row (deterministic order over the source
      columns) contributes, via one row_number window on the id.

    The count is ``count_if(matched)`` observed on the joined rows, after
    the first-match filter on the condition path, so each target row counts
    at most once — PG's ``('UPDATE', n)``.

    At scale: the source is always broadcast, so the equi path never
    shuffles the target (broadcast-hash join + partition-parallel write).
    The condition path adds one window shuffle keyed by the synthetic id —
    unavoidable for arbitrary predicates; it plans as a broadcast
    nested-loop join."""
    if (on is None) == (condition is None):
        raise ValueError("merge_update: pass exactly one of `on` or `condition`")
    if on is not None:
        t = spark.table(target_table).alias("t")
        src = source.dropDuplicates(on)
        s = F.broadcast(src).alias("s")
        # plain equality, not eqNullSafe: the `on` path is only taken for
        # `t.k = s.k` conjunctions, and PG `=` never matches NULL keys —
        # and with == a join hit implies s.k IS NOT NULL, so the matched
        # flag below and merge_matched_count agree exactly
        cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]
        matched = F.col(f"s.{on[0]}").isNotNull()
        joined = t.join(s, cond, "left")
    else:
        from pyspark.sql.window import Window

        uid = "__merge_uid"
        flag = "__merge_matched"
        t = spark.table(target_table).withColumn(
            uid, F.monotonically_increasing_id()
        ).alias("t")
        src = source.withColumn(flag, F.lit(True))
        s = F.broadcast(src).alias("s")
        w = Window.partitionBy(uid).orderBy(
            *[F.col(f"s.{c}").asc_nulls_last() for c in source.columns]
        )
        matched = F.col(flag).isNotNull()
        joined = (
            t.join(s, F.expr(condition), "left")
            .withColumn("__merge_rn", F.row_number().over(w))
            .where(F.col("__merge_rn") == 1)
        )
    joined, matched_count = _observed(joined, matched)
    out_cols = []
    for name, _ in column_types(spark, target_table):
        if name in set_map:
            out_cols.append(
                F.when(matched, F.expr(set_map[name])).otherwise(F.col(f"t.{name}")).alias(name)
            )
        else:
            out_cols.append(F.col(f"t.{name}").alias(name))
    return joined.select(*out_cols), matched_count


def merge_update(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    on: list[str] | None,
    set_map: dict[str, str],
    condition: str | None = None,
) -> int:
    """Execute :func:`merge_update_plan` via two-phase swap write (a plain
    INSERT OVERWRITE cannot read from the table it overwrites). Returns the
    matched-target-row count — the reference surfaces py-postgresql's
    ``('UPDATE', n)`` command tuple per statement
    (reference: dbccore/dbccore.py:866-870), so the runner needs the real
    affected-row number, not just the command word. The count is observed
    on the rewrite's own join while the swap write runs — no semi-join pass
    over the target; :func:`merge_matched_count` is its reference."""
    return commit(spark, target_table, merge_update_plan(
        spark, target_table, source, on, set_map, condition
    ))


def merge_matched_count(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    on: list[str] | None,
    condition: str | None = None,
) -> int:
    """Number of ``target_table`` rows a :func:`merge_update` would touch,
    by a separate left-semi join — the reference the observed count is
    tested against."""
    t = spark.table(target_table).alias("t")
    s = F.broadcast(source).alias("s")
    if on is not None:
        # same plain-equality predicate as merge_update_plan's equi path —
        # NULL-key rows are neither updated nor counted (PG `=` semantics)
        cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]
        return t.join(s, cond, "left_semi").count()
    return t.join(s, F.expr(condition), "left_semi").count()


def commit(spark: SparkSession, table: str, counted: CountedPlan) -> int:
    """Write a counted rewrite plan over ``table`` (:func:`_swap_write`) and
    return the affected-row count it observed while writing."""
    plan, affected = counted
    _swap_write(spark, table, plan)
    return affected()


def _swap_write(spark: SparkSession, table: str, df: DataFrame) -> None:
    """Atomically-enough replace ``table`` with ``df``: write a sibling,
    rename the old out, rename the new in, drop the old. The write is
    partition-parallel; renames are catalog metadata ops.

    User TBLPROPERTIES (reloptions, recorded index definitions) are carried
    over — PG's rewrite paths (VACUUM FULL, table rewrites) preserve storage
    parameters and indexes, so the swap must too."""
    from db_converter_spark.pg_catalog import _INTERNAL_PROP_RE

    tmp, bak = f"{table}__swap_tmp", f"{table}__swap_old"
    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
            # user reloptions + the dbc.* index registry; never Spark
            # bookkeeping (stale statistics props would poison the new table)
            if r["key"].startswith("dbc.") or not _INTERNAL_PROP_RE.match(r["key"])
        }
    except Exception:  # noqa: BLE001 — fresh table, nothing to carry
        props = {}
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    df.write.saveAsTable(tmp)
    if props:
        # values may carry quotes (a recorded DEFAULT nextval('s'))
        esc = {ord("\\"): "\\\\", ord("'"): "\\'"}
        kv = ", ".join(
            f"'{k.translate(esc)}' = '{v.translate(esc)}'" for k, v in sorted(props.items())
        )
        spark.sql(f"ALTER TABLE {tmp} SET TBLPROPERTIES ({kv})")
    spark.sql(f"DROP TABLE IF EXISTS {bak}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {bak}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    spark.sql(f"DROP TABLE {bak}")


def upsert_plan(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    set_map: dict[str, str] | None,
    update_where: str | None = None,
) -> CountedPlan:
    """Logical plan of :func:`upsert` and its affected-row count — PostgreSQL
    ``INSERT … ON CONFLICT (keys) DO UPDATE SET … [WHERE …] | DO NOTHING``
    semantics for parquet tables (the one DML idiom every PG user writes
    that the reference corpus happens not to; reference executes it
    server-side like all DML).

    - ``set_map is None`` → DO NOTHING: conflicting source rows are
      discarded, the target is untouched, non-conflicting rows append.
    - else → DO UPDATE: conflicting target rows get the SET expressions
      (reference the proposed row as ``excluded.col`` and the existing row
      as ``t.col``, PG's spelling); ``update_where`` (PG's ``DO UPDATE …
      WHERE``) limits which conflicting rows update.

    PG raises ``21000`` when one target row would be affected twice; here
    the source is deduplicated on the keys first (keep-first by the
    source's own order) — the batch-friendly resolution, documented
    rather than erroring.

    The count is observed on the union's two branches: every row of the
    insert branch, plus (DO UPDATE only) the updated rows of the rewritten
    target.

    At scale: the source is the small side by construction (a batch of
    proposed rows) — broadcast join against the target, partition-parallel
    rewrite, no shuffle of the table."""
    tcols = [name for name, _ in column_types(spark, table)]
    missing = [k for k in keys if k not in {c.lower() for c in tcols}]
    if missing:
        raise ValueError(f"upsert {table}: unknown conflict keys {missing}")
    src = source.dropDuplicates(keys)
    for name, dtype in column_types(spark, table):
        if name not in src.columns:
            src = src.withColumn(name, F.lit(None).cast(dtype))
    t = spark.table(table).alias("t")
    s = F.broadcast(src.withColumn("__ups_hit", F.lit(True))).alias("excluded")
    cond = [F.col(f"t.{k}") == F.col(f"excluded.{k}") for k in keys]
    joined = t.join(s, cond, "left")
    matched = F.col("__ups_hit").isNotNull()
    if set_map is not None and update_where is not None:
        matched = matched & F.expr(update_where)
    if set_map is not None:
        joined, n_updated = _observed(joined, matched)
    out_cols = []
    for c in tcols:
        if set_map is not None and c in set_map:
            out_cols.append(
                F.when(matched, F.expr(set_map[c]))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    kept = joined.select(*out_cols)
    new_rows, n_inserted = _observed(
        src.alias("excluded")
        .join(spark.table(table).alias("t"), cond, "left_anti")
        .select(*[F.col(f"excluded.{c}").alias(c) for c in tcols]),
        F.lit(True),
    )
    plan = kept.unionByName(new_rows)
    if set_map is None:
        return plan, n_inserted
    return plan, lambda: n_inserted() + n_updated()


def upsert(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    set_map: dict[str, str] | None,
    update_where: str | None = None,
) -> int:
    """Execute :func:`upsert_plan` via the two-phase swap write. Returns
    PG's affected-row count for ``INSERT … ON CONFLICT``: inserted rows
    plus (DO UPDATE only) updated rows — DO-NOTHING conflicts and rows a
    ``DO UPDATE … WHERE`` excludes are not counted. The count is observed
    during the swap write; :func:`upsert_affected_count` is its
    reference."""
    return commit(spark, table, upsert_plan(spark, table, source, keys, set_map, update_where))


def upsert_affected_plan(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    set_map: dict[str, str] | None,
    update_where: str | None = None,
) -> DataFrame:
    """Post-image of the rows an :func:`upsert` touches — inserted rows
    plus (DO UPDATE only) updated rows with their NEW values: exactly what
    PG's ``INSERT … ON CONFLICT … RETURNING`` surfaces."""
    tcols = [name for name, _ in column_types(spark, table)]
    src = source.dropDuplicates(keys)
    for name, dtype in column_types(spark, table):
        if name not in src.columns:
            src = src.withColumn(name, F.lit(None).cast(dtype))
    cond = [F.col(f"t.{k}") == F.col(f"excluded.{k}") for k in keys]
    new_rows = (
        src.alias("excluded")
        .join(spark.table(table).alias("t"), cond, "left_anti")
        .select(*[F.col(f"excluded.{c}").alias(c) for c in tcols])
    )
    if set_map is None:
        return new_rows
    hits = spark.table(table).alias("t").join(
        F.broadcast(src).alias("excluded"), cond, "inner"
    )
    if update_where is not None:
        hits = hits.where(F.expr(update_where))
    updated = hits.select(
        *[
            F.expr(set_map[c]).alias(c) if c in set_map else F.col(f"t.{c}").alias(c)
            for c in tcols
        ]
    )
    return updated.unionByName(new_rows)


def upsert_affected_count(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    set_map: dict[str, str] | None,
    update_where: str | None = None,
) -> int:
    """Rows an :func:`upsert` reports as affected (PG command-tuple
    semantics): inserted + (DO UPDATE only) updated, by separate anti- and
    inner-join counts — the reference the observed count is tested
    against."""
    src = source.dropDuplicates(keys)
    t = spark.table(table)
    cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys]
    n_new = src.alias("s").join(t.alias("t"), cond, "left_anti").count()
    if set_map is None:
        return n_new
    hits = t.alias("t").join(
        F.broadcast(src).alias("excluded"),
        [F.col(f"t.{k}") == F.col(f"excluded.{k}") for k in keys],
        "inner",
    )
    if update_where is not None:
        hits = hits.where(F.expr(update_where))
    return n_new + hits.count()


def delete_using_plan(
    spark: SparkSession,
    table: str,
    talias: str,
    source: DataFrame,
    salias: str,
    condition: str,
) -> CountedPlan:
    """Kept-rows plan of :func:`delete_using` and its deleted-row count —
    PG ``DELETE FROM t USING s WHERE cond`` (the delete-join idiom; beyond
    the reference corpus): target rows with ANY matching source row are
    removed, i.e. an anti-join on the condition. The join side choice is
    left to the planner/AQE (the source is often but not always small).
    The anti-join keeps each target row at most once, so the deleted count
    is the target's rows observed below the join minus the kept rows
    observed above it."""
    t, n_rows = _observed(spark.table(table), F.lit(True))
    s = source.alias(salias)
    kept, n_kept = _observed(
        t.alias(talias).join(s, F.expr(condition), "left_anti"), F.lit(True)
    )
    return kept, lambda: n_rows() - n_kept()


def delete_using(
    spark: SparkSession,
    table: str,
    talias: str,
    source: DataFrame,
    salias: str,
    condition: str,
) -> int:
    """Execute :func:`delete_using_plan` via swap write; returns the PG
    affected-row count (each target row counted at most once), observed
    during the write."""
    return commit(spark, table, delete_using_plan(spark, table, talias, source, salias, condition))


def delete_plan(spark: SparkSession, table: str, predicate: str | None) -> CountedPlan:
    """Kept-rows plan of :func:`delete_where` (anti-filter) and its
    deleted-row count; analyzed eagerly so dry-runs surface bad predicates
    without writing. The hit flag is computed below the observation and
    the filter above it reads the flag as a column: a predicate that folds
    to a constant (or none at all: delete every row) leaves nothing the
    optimizer could prune together with the observed scan."""
    hit = F.lit(True) if predicate is None else F.coalesce(F.expr(predicate), F.lit(False))
    flag = F.col("__delete_hit")
    flagged, deleted = _observed(spark.table(table).withColumn("__delete_hit", hit), flag)
    return flagged.where(~flag).drop("__delete_hit"), deleted


def shadow_execute(counted: CountedPlan) -> int:
    """Execute a rewrite plan end-to-end and discard the output (Spark's
    ``noop`` sink): the no-commit analog of the reference's execute-then-
    rollback (dbccore/dbccore.py:886-888). Runtime failures a pure EXPLAIN
    cannot catch — ANSI cast overflow, division by zero, corrupt input —
    surface here, while no table mutates and nothing lands on disk.
    Returns the would-be affected-row count the plan observed."""
    plan, affected = counted
    plan.write.format("noop").mode("overwrite").save()
    return affected()


def predicate_match_count(
    spark: SparkSession, table: str, predicate: str | None
) -> int:
    """Rows where ``predicate`` is TRUE (the PG affected-row count for
    UPDATE/DELETE), by a separate filtered count — the reference the
    counts observed by :func:`delete_plan` and :func:`update_plan` are
    tested against."""
    df = spark.table(table)
    return df.count() if predicate is None else df.where(predicate).count()


def delete_where(spark: SparkSession, table: str, predicate: str | None) -> int:
    """``DELETE FROM t [WHERE p]`` for parquet tables: anti-filter rewrite
    (reference: packets/test_insert_info/01_step.sql:1). ``predicate=None``
    deletes every row. Returns the deleted-row count (reference command-tuple
    semantics, dbccore/dbccore.py:866-870), observed during the write."""
    return commit(spark, table, delete_plan(spark, table, predicate))


def update_where(
    spark: SparkSession,
    table: str,
    set_map: dict[str, str],
    predicate: str | None,
) -> int:
    """``UPDATE t SET c = e, … [WHERE p]`` for parquet tables: a
    conditional-projection rewrite — one scan, no join, partition-parallel
    write. All SET expressions are evaluated in a single SELECT so each
    right-hand side sees the OLD row values (PostgreSQL semantics), even
    when one SET column references another. Returns the matched-row count,
    observed during the write."""
    return commit(spark, table, update_plan(spark, table, set_map, predicate))


def update_plan(
    spark: SparkSession,
    table: str,
    set_map: dict[str, str],
    predicate: str | None,
) -> CountedPlan:
    """Conditional-projection plan of :func:`update_where` and its
    matched-row count (``count_if`` of the predicate over the scan)."""
    df = spark.table(table)
    unknown = set(set_map) - set(df.columns)
    if unknown:
        raise ValueError(f"UPDATE {table}: unknown columns {sorted(unknown)}")
    cond = F.expr(predicate) if predicate is not None else F.lit(True)
    counted, matched_count = _observed(df, cond)
    cols = [
        F.when(cond, F.expr(set_map[c])).otherwise(F.col(c)).alias(c)
        if c in set_map
        else F.col(c)
        for c in df.columns
    ]
    return counted.select(*cols), matched_count


def chunk_grid(
    spark: SparkSession, table: str, key: str, chunk_size: int = 10_000
) -> DataFrame:
    """The reference's generator grid — [a,b] ranges covering the key space
    in ``chunk_size`` windows (reference: packets/test_int4_to_int8/
    02_gen_obj.sql:1-27) — computed with one aggregate + sequence explode
    instead of the reference's double row_number grid join."""
    bounds = spark.table(table).agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    )
    return (
        bounds.select(
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(chunk_size))
            ).alias("a")
        )
        .select(
            F.col("a"),
            (F.col("a") + chunk_size - 1).alias("b"),
        )
    )
