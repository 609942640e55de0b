"""Event-stream analytics over the ``events`` table — the batch twins of the
streaming layer (db_converter_spark/streaming/) plus operational helpers.

The reference's alert packets are periodic aggregations over activity views
(reference: packets/alert_stat/01_step.sql, alert_max_connections/01_step.
sql); here the same shapes run over an event table and, unchanged, over a
Structured Stream (see streaming/incremental.py — ev01 is literally the
same code path).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_converter_spark.catalog import load_table, register_views
from db_converter_spark.registry import checkpoint, query, scoped_conf

# ---------------------------------------------------------------------------
# ev01 — tumbling-window event stats (batch twin of windowed_event_stats)
# ---------------------------------------------------------------------------

_EV01_DUCK = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("ev01_windowed_event_stats", oracle=_EV01_DUCK, tags=("events", "window", "streaming"))
def ev01_windowed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window stats — the exact aggregation the streaming
    layer runs with a watermark (streaming/incremental.py:
    windowed_event_stats); batch/stream parity is tested in
    tests/test_streaming.py."""
    from db_converter_spark.streaming import windowed_event_stats

    register_views(spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    return windowed_event_stats(events).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# ev02 — sessionization (gap-based) — shared ANSI SQL, both engines
# ---------------------------------------------------------------------------

# 30-minute inactivity gap splits sessions. Window-function SQL in the
# dialect intersection of Spark and DuckDB, so the oracle IS the query.
_EV02 = """
WITH marked AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   + INTERVAL '30' MINUTE
    THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_id
  FROM marked
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT
  CAST(COUNT(*) AS BIGINT)        AS n_sessions,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(MAX(n_events) AS BIGINT)   AS max_session_events,
  CAST(SUM(n_events) AS BIGINT)   AS n_events_total
FROM per_session
"""


@query("ev02_sessionization", oracle=_EV02, tags=("events", "window", "session"))
def ev02_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window functions —
    partitioned by user so the shuffle is on user_id and each partition
    sorts independently; no global sort. The streaming twin would be
    ``applyInPandasWithState`` with a session timeout."""
    register_views(spark, sf_dir)
    return spark.sql(_EV02)


# ---------------------------------------------------------------------------
# mg01 — migration chunk grid (batch twin of operators/migration.chunk_grid)
# ---------------------------------------------------------------------------

_MG01_DUCK = """
WITH b AS (SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi FROM lineitem)
SELECT CAST(a AS BIGINT) AS a, CAST(a + 99999 AS BIGINT) AS b
FROM (SELECT unnest(generate_series(lo, hi, 100000)) AS a FROM b) t
"""


@query("mg01_chunk_grid", oracle=_MG01_DUCK, tags=("migration", "chunking"))
def mg01_chunk_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's chunked-migration PK grid (reference:
    packets/test_int4_to_int8/02_gen_obj.sql:1-27) as one aggregate +
    sequence explode — the generator that fans a backfill into bounded
    range actions (operators/migration.chunked_backfill)."""
    register_views(spark, sf_dir)
    from db_converter_spark.operators.migration import chunk_grid

    return chunk_grid(spark, "lineitem", "l_orderkey", chunk_size=100_000)


# ---------------------------------------------------------------------------
# mg02 — incremental-sync change detection (snapshot diff)
# ---------------------------------------------------------------------------
# The north-star's "incremental sync" (BASELINE.json): detect which rows of
# a table changed between two snapshots by full-outer-joining on the key and
# comparing a ROW HASH — never the wide row itself. The "new" snapshot here
# is a deterministic modulo-derived mutation of orders (deletes %101=3,
# updates %97=0, inserts = shifted copies of %103=5) so the oracle sees the
# identical input. At 100 TB: both snapshots partitioned/bucketed by the
# key ⇒ the full-outer join co-locates; the hash collapses N columns to one
# comparison and is computed scan-side.


def _mg02(cast_str: str) -> str:
    h = (
        "md5(concat_ws('|', CAST(o_custkey AS {c}), o_orderstatus, o_orderpriority))"
    ).replace("{c}", cast_str)
    h_upd = h.replace(
        "o_custkey", "o_custkey + (CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)"
    )
    return f"""
WITH old AS (
  SELECT o_orderkey AS k, {h} AS h FROM orders
), new AS (
  SELECT o_orderkey AS k, {h_upd} AS h
  FROM orders WHERE o_orderkey % 101 <> 3
  UNION ALL
  SELECT o_orderkey + 100000000 AS k, {h} AS h
  FROM orders WHERE o_orderkey % 103 = 5
), diff AS (
  SELECT
    CASE
      WHEN old.k IS NULL THEN 'insert'
      WHEN new.k IS NULL THEN 'delete'
      WHEN old.h <> new.h THEN 'update'
      ELSE 'unchanged'
    END AS change_type
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM diff GROUP BY change_type
"""


@query("mg02_incremental_diff", oracle=_mg02("VARCHAR"), tags=("migration", "sync", "cdc"))
def mg02_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed-row detection between table snapshots (insert/update/delete/
    unchanged) via row-hash compare over a keyed full-outer join — the batch
    CDC primitive behind incremental sync and MERGE-based replication
    (reference's migration model: re-runnable UPDATE...FROM steps,
    packets/test_int4_to_int8/02_step.sql:3-5)."""
    register_views(spark, sf_dir)
    return spark.sql(_mg02("STRING"))


# ---------------------------------------------------------------------------
# ev03 — Structured Streaming windowed aggregation (real readStream)
# ---------------------------------------------------------------------------

_EV03_DUCK = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY 1, 2
"""

# Streaming starts pin spark.sql.shuffle.partitions with scoped_conf: the
# state-store instance count binds to the conf at query start, and 32
# stores for a few-hundred-row aggregate is pure fixed cost (measured:
# ev03 1.6 s -> 0.9 s warm at 8). The scope restores the session default
# for batch queries.
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _events_stream_source(spark: SparkSession, sf_dir: str):
    """readStream source for the events table with a footer-driven ``ts``
    schema: parquet timestamp[ns] columns can only be scanned as raw longs
    (nanosAsLong conf, see catalog.py) and need a div-1000 rebuild, while
    timestamp[us] reads natively as TIMESTAMP_NTZ. Hard-coding either unit
    breaks when the testdata generator flips units between rounds — this is
    the stream twin of the batch footer sniff at catalog._nanos_ts_columns."""
    from ..catalog import _ensure_nanos_readable, _nanos_ts_columns

    _ensure_nanos_readable(spark)
    ts_is_nanos = "ts" in _nanos_ts_columns(f"{sf_dir}/events.parquet")
    ts_decl = "BIGINT" if ts_is_nanos else "TIMESTAMP_NTZ"
    schema = (
        f"event_id BIGINT, ts {ts_decl}, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    # File stream sources require a DIRECTORY (new files land, get listed
    # incrementally); glob-filter it down to the events table.
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_is_nanos:
        # integer nanos → micros; integral div, not /1000 (see catalog.py).
        src = src.withColumn("ts", F.expr("timestamp_micros(`ts` div 1000)"))
    else:
        # Watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
        # NTZ); the session tz is pinned UTC so the cast is a faithful
        # reinterpretation, not a wall-clock shift.
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


@query("ev03_streaming_window", oracle=_EV03_DUCK, tags=("events", "streaming", "watermark"))
def ev03_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation run as an ACTUAL Structured Stream:
    ``readStream`` over the events parquet → 2 h watermark → 1 h windowed
    count/sum → memory sink, ``availableNow`` trigger (process the backlog,
    then stop — the batch-parity mode; a live deployment drops the trigger
    and appends to a table sink). Watermark bounds state at scale; sums are
    integer cents so the oracle compares exactly. The ``ts`` stream schema is
    footer-driven (ns vs us), matching the batch reader."""
    sink = f"ev03_sink_{uuid.uuid4().hex}"
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("total_cents"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_cents",
        )
    )
    with scoped_conf(spark, _SHUFFLE_PARTITIONS, "8"):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


# ---------------------------------------------------------------------------
# ev04 — as-of join (backward): an operator Spark lacks as a built-in
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    payload: list[str],
    seq_col: str | None = None,
) -> DataFrame:
    """Distributed backward as-of join: for every ``left`` row, attach the
    most recent ``payload`` columns from the ``right`` row with
    ``right.ts_col <= left.ts_col`` on the same ``on`` keys (same-instant
    right rows count; ties inside one side break on ``seq_col``).

    Not a Spark built-in (SURVEY §2.4 notes the reference has no as-of/range
    joins either — this is a north-star extra). Formulated as union + running
    ``last(_, ignorenulls)`` window rather than a per-key loop or a range
    join: ONE shuffle on the join keys, one sort per partition, linear work,
    zero Python in the row path. At 100 TB both sides co-partition on ``on``
    and the window never crosses partitions; skewed keys split under AQE.

    ``right`` must carry the same-named ``on`` + ``ts_col`` (+ ``seq_col``)
    columns; ``left``-only columns pass through; payload columns come back
    prefixed ``asof_``.
    """
    from pyspark.sql.window import Window

    ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)
    shared = on + [ts_col] + ([seq_col] if seq_col else [])
    left_extra = [c for c in left.columns if c not in shared]
    l2 = left.select(
        *shared,
        *left_extra,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(rtypes[c]).alias(f"asof_{c}") for c in payload],
    )
    r2 = right.select(
        *shared,
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in left_extra],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"asof_{c}") for c in payload],
    )
    order = [F.col(ts_col), F.col("_side")] + ([F.col(seq_col)] if seq_col else [])
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l2.unionByName(r2)
    for c in payload:
        u = u.withColumn(f"asof_{c}", F.last(f"asof_{c}", ignorenulls=True).over(w))
    return u.filter(F.col("_side") == 1).drop("_side")


_EV04_DUCK = """
WITH cp AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
         CASE WHEN event_type = 'click'
              THEN CAST(ROUND(value * 100) AS BIGINT) END AS click_cents,
         CASE WHEN event_type = 'purchase'
              THEN CAST(ROUND(value * 100) AS BIGINT) END AS purchase_cents
  FROM events WHERE event_type IN ('click', 'purchase')
), w AS (
  SELECT event_id, user_id, ts, side, purchase_cents,
         LAST_VALUE(click_cents IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, side, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_click_cents
  FROM cp
)
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       purchase_cents, last_click_cents
FROM w WHERE side = 1
"""


@query("ev04_asof_join", oracle=_EV04_DUCK, tags=("events", "join", "asof"))
def ev04_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-style as-of join: each purchase event picks up the value
    of the user's most recent click at-or-before it (NULL when no prior
    click). Exercises the generic ``asof_join`` operator above; the oracle
    states the identical semantics as one ANSI window query."""
    register_views(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", cents.alias("purchase_cents")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", cents.alias("click_cents")
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts",
        payload=["click_cents"], seq_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "purchase_cents",
        F.col("asof_click_cents").alias("last_click_cents"),
    )


# ---------------------------------------------------------------------------
# ev05 — range join (point-in-interval) via bucket decomposition
# ---------------------------------------------------------------------------


def point_in_interval_join(
    points: DataFrame,
    pt_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Non-equi point-in-interval join (``start <= pt < end``) with no shared
    equi key — the second classic join Spark lacks a scalable built-in for
    (a theta join plans as BroadcastNestedLoopJoin, O(n·m) and broadcast-
    bound). Bucket decomposition makes it linear: quantize time into
    ``bucket_seconds`` buckets, explode each interval over the buckets it
    covers, tag each point with its single bucket, equi-join on the bucket,
    then apply the exact range filter. Each point lands in exactly one
    bucket so no dedup is needed. At 100 TB both sides shuffle once on the
    uniform bucket key; pick ``bucket_seconds`` ≈ typical interval length so
    intervals explode into O(1) rows each.
    """
    b = float(bucket_seconds)
    pts = points.withColumn(
        "_bucket", F.floor(F.unix_timestamp(F.col(pt_col)) / b).cast("long")
    )
    ivs = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b).cast("long"),
                F.floor(F.unix_timestamp(F.col(end_col)) / b).cast("long"),
            )
        ),
    )
    return (
        pts.join(ivs, "_bucket")
        .filter((F.col(pt_col) >= F.col(start_col)) & (F.col(pt_col) < F.col(end_col)))
        .drop("_bucket")
    )


_EV05_DUCK = """
WITH e AS (
  SELECT event_id AS err_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts
  FROM events WHERE event_type = 'error'
), c AS (
  SELECT event_id, ts FROM events WHERE event_type = 'click'
)
SELECT e.err_id, CAST(COUNT(c.event_id) AS BIGINT) AS n_clicks
FROM e LEFT JOIN c ON c.ts >= e.start_ts AND c.ts < e.end_ts
GROUP BY e.err_id
"""


@query("ev05_range_join", oracle=_EV05_DUCK, tags=("events", "join", "range"))
def ev05_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many clicks landed inside the 30 minutes after each error event —
    a pure non-equi interval join (no shared key) through the bucketed
    ``point_in_interval_join`` operator; zero-click errors restored with a
    hash join back to the interval side. The oracle states the same join as
    a plain theta LEFT JOIN."""
    register_views(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    hits = (
        point_in_interval_join(clicks, "ts", errors, "start_ts", "end_ts", 1800)
        .groupBy("err_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return errors.join(hits, "err_id", "left").select(
        "err_id", F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_clicks")
    )


# ---------------------------------------------------------------------------
# ev06 — hypertable-style multi-granularity rollup (one pass)
# ---------------------------------------------------------------------------

_EV06_TEMPLATE = """
WITH b AS (
  SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d, event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT
  CASE WHEN GROUPING(h) = 0 THEN 'hour' WHEN GROUPING(d) = 0 THEN 'day'
       WHEN GROUPING(event_type) = 0 THEN 'type' ELSE 'total' END AS grain,
  COALESCE({day_fmt}, 'ALL')  AS day_bucket,
  COALESCE({hour_fmt}, 'ALL') AS hour_bucket,
  COALESCE(event_type, 'ALL') AS event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(cents) AS BIGINT) AS total_cents
FROM b
GROUP BY GROUPING SETS ((d, h, event_type), (d, event_type), (event_type), ())
"""

_EV06_SPARK = _EV06_TEMPLATE.format(
    day_fmt="date_format(d, 'yyyy-MM-dd')", hour_fmt="date_format(h, 'yyyy-MM-dd HH:00')"
)
_EV06_DUCK = _EV06_TEMPLATE.format(
    day_fmt="strftime(d, '%Y-%m-%d')", hour_fmt="strftime(h, '%Y-%m-%d %H:00')"
)


@query("ev06_multi_rollup", oracle=_EV06_DUCK, tags=("events", "rollup", "timeseries"))
def ev06_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour, day, per-type and
    grand-total grains materialized in ONE scan via GROUPING SETS — Catalyst
    plans a single Expand + partial/final aggregate, so at 100 TB every
    grain shares one shuffle instead of four scans. GROUPING() disambiguates
    rolled-up NULLs from data NULLs."""
    register_views(spark, sf_dir)
    return spark.sql(_EV06_SPARK)


# ---------------------------------------------------------------------------
# ev07 — streaming ingest dedup (exactly-once landing)
# ---------------------------------------------------------------------------

_EV07_DUCK = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""


@query("ev07_stream_dedup", oracle=_EV07_DUCK, tags=("events", "streaming", "dedup"))
def ev07_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: TWO file streams over the same events data
    (the at-least-once delivery double) union into one stream and
    ``dropDuplicatesWithinWatermark`` on event_id collapses redelivery —
    the exactly-once landing primitive of a streaming ingest pipeline.
    State is bounded by the watermark (24 h of event time), which is the
    point of the WithinWatermark variant: at 100 TB/day the dedup store
    holds one key per event in the horizon, not per event ever seen.
    Output (append sink, then a batch rollup) must equal the plain batch
    counts — duplicates are invisible downstream."""
    sink = f"ev07_sink_{uuid.uuid4().hex}"
    one = _events_stream_source(spark, sf_dir)
    two = _events_stream_source(spark, sf_dir)
    deduped = (
        one.unionByName(two)
        .withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    with scoped_conf(spark, _SHUFFLE_PARTITIONS, "8"):
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    spark.catalog.dropTempView(sink)
    return out


# ---------------------------------------------------------------------------
# ev08 — stream-stream interval join (click → purchase attribution)
# ---------------------------------------------------------------------------

_EV08_DUCK = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS delay_s,
       CAST(ROUND(p.value * 100) AS BIGINT) AS purchase_cents
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@query("ev08_stream_stream_join", oracle=_EV08_DUCK, tags=("events", "streaming", "join"))
def ev08_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, run as an ACTUAL Structured Stream: a
    click stream joins a purchase stream on user_id where the purchase
    lands within 30 minutes of the click — the attribution primitive of an
    event pipeline, and the one join family Spark executes with SYMMETRIC
    state on both sides.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so each side's state store holds only the watermark+interval
    horizon — at 100 TB/day the state is a sliding window of joinable
    rows, not the full history. Append output under an ``availableNow``
    trigger over the static backlog makes the result equal the batch
    interval join, which is exactly what the DuckDB oracle computes —
    row-level output, so the value-hash pins every attributed pair.
    Delay and cents are integer-scaled for the exact compare."""
    sink = f"ev08_sink_{uuid.uuid4().hex}"
    clicks = (
        _events_stream_source(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _events_stream_source(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.expr("CAST(unix_timestamp(purchase_ts) - unix_timestamp(click_ts) AS BIGINT)").alias("delay_s"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("purchase_cents"),
    )
    # 4 state partitions, not the session's 8/32: a symmetric join keeps
    # FOUR state stores per partition, and store init dominates at this
    # state volume (measured 6.8 s @ 8 → 3.5 s @ 4; a production deployment
    # sizes this to state volume / executor count instead)
    with scoped_conf(spark, _SHUFFLE_PARTITIONS, "4"):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


# ---------------------------------------------------------------------------
# ev09 — stream-static broadcast join (event enrichment)
# ---------------------------------------------------------------------------

_EV09_DUCK = """
SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       c.c_mktsegment AS mktsegment,
       e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2, 3
"""


@query("ev09_stream_static_join", oracle=_EV09_DUCK, tags=("events", "streaming", "join"))
def ev09_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich a live event stream with a static
    dimension table (customer → market segment) and aggregate per hour —
    the third streaming-join family next to ev08's stream-stream and the
    batch joins: the static side is re-read per micro-batch, requires NO
    state, and broadcasts (dimension tables at 100 TB event scale are
    still dimension-sized). Windowed counts in complete mode over an
    ``availableNow`` backlog equal the batch join — the DuckDB oracle."""
    from ..catalog import load_table

    sink = f"ev09_sink_{uuid.uuid4().hex}"
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.join(F.broadcast(dim), src.user_id == dim.c_custkey)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("total_cents"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "mktsegment",
            "event_type",
            "n_events",
            "total_cents",
        )
    )
    with scoped_conf(spark, _SHUFFLE_PARTITIONS, "8"):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


# ---------------------------------------------------------------------------
# ev10 — native session-window streaming aggregation
# ---------------------------------------------------------------------------

_EV10_DUCK = """
WITH marks AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts, value,
    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
), agg AS (
  SELECT user_id,
    MIN(ts) AS s_start,
    MAX(ts) + INTERVAL 30 MINUTE AS s_end,
    COUNT(*) AS n_events,
    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS total_cents
  FROM sess GROUP BY user_id, sid
)
SELECT strftime(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(total_cents AS BIGINT) AS total_cents
FROM agg
WHERE s_end <= (SELECT MAX(ts) FROM events)
"""
# Boundary semantics, pinned empirically by tests/test_streaming.py
# (test_session_window_exact_boundaries): Spark merges a gap of EXACTLY
# the session gap (new session only when gap > 30 min, matching the
# oracle's `>`), and append mode emits a session whose end is EXACTLY
# equal to the watermark (emit when watermark >= end — hence `<=` above,
# not `<`; tie-free microsecond corpus data never hit the difference).


@query("ev10_session_window_stream", oracle=_EV10_DUCK, tags=("events", "streaming", "session"))
def ev10_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` streaming aggregation (30-minute gap) —
    Spark's built-in merging-window sessionizer, complementing ev02 (the
    batch gaps-and-islands twin) and streaming/stateful.py (the custom
    applyInPandasWithState sessionizer): three implementations of one
    semantic, each the right tool at a different point (SQL backfill /
    built-in streaming / custom state logic).

    Append mode is the ONLY mode session windows support with a
    watermark, and append emits a session only once the watermark passes
    its end — so with a 0-second watermark over the ``availableNow``
    backlog, every session except those still inside their gap at the
    corpus max event time lands in the sink. The oracle encodes exactly
    that: gaps-and-islands sessions WHERE session_end < max(ts) — i.e.
    the streaming semantics (open sessions are not final) expressed in
    batch SQL. State is bounded by open sessions per user — the point of
    the native operator at 100 TB/day."""
    sink = f"ev10_sink_{uuid.uuid4().hex}"
    src = _events_stream_source(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias("total_cents"),
        )
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
            "total_cents",
        )
    )
    with scoped_conf(spark, _SHUFFLE_PARTITIONS, "4"):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


# ---------------------------------------------------------------------------
# mg03 — SCD2 dimension snapshot build (slowly-changing-dimension history)
# ---------------------------------------------------------------------------
# The third leg of the migration/sync family: mg01 chunks a backfill, mg02
# diffs two snapshots, mg03 builds the *history table* a warehouse keeps for
# a mutating dimension — one row per (entity, attribute-run) with
# valid_from / valid_to / is_current (Kimball SCD type 2). Input here is the
# event stream read as an attribute timeline: each user's event_type is the
# tracked attribute; consecutive equal values collapse into one validity
# span (gaps-and-islands: change-flag via lag, run id via running sum).
#
# Scale shape: everything is windowed PARTITION BY user_id — one hash
# shuffle on the entity key, no global sort, and the run-collapse GROUP BY
# reuses the same partitioning (no second exchange in the plan). At 100 TB
# the entity key is the natural partitioner and per-entity timelines are
# small; there is no skew beyond the entity activity distribution itself.

_MG03 = """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
    CASE WHEN lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR lag(event_type) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
         THEN 1 ELSE 0 END AS chg
  FROM events
), runs AS (
  SELECT user_id, event_type, ts, event_id,
    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), spans AS (
  SELECT user_id, run_id,
    MIN(event_type) AS event_type,
    MIN(ts)         AS ts_from,
    COUNT(*)        AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, event_type,
  {fmt_from} AS valid_from,
  COALESCE({fmt_to}, '9999-12-31 00:00:00') AS valid_to,
  CAST(n_events AS BIGINT) AS n_events,
  CAST(CASE WHEN lead(ts_from) OVER
              (PARTITION BY user_id ORDER BY run_id) IS NULL
       THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM spans
"""

_MG03_SPARK = _MG03.format(
    fmt_from="date_format(ts_from, 'yyyy-MM-dd HH:mm:ss')",
    fmt_to=(
        "date_format(lead(ts_from) OVER "
        "(PARTITION BY user_id ORDER BY run_id), 'yyyy-MM-dd HH:mm:ss')"
    ),
)
_MG03_DUCK = _MG03.format(
    fmt_from="strftime(ts_from, '%Y-%m-%d %H:%M:%S')",
    fmt_to=(
        "strftime(lead(ts_from) OVER "
        "(PARTITION BY user_id ORDER BY run_id), '%Y-%m-%d %H:%M:%S')"
    ),
)


@query("mg03_scd2_history", oracle=_MG03_DUCK, tags=("migration", "sync", "scd2"))
def mg03_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: collapse each user's event_type timeline
    into validity spans (valid_from / valid_to / is_current, open spans
    capped with the 9999-12-31 sentinel) via gaps-and-islands — the
    dimension-history complement to mg02's snapshot diff (together they
    are the load side of the reference's re-runnable migration model,
    packets/test_int4_to_int8). One entity-key shuffle; the run-collapse
    aggregate and both windows reuse the same hash partitioning."""
    register_views(spark, sf_dir)
    return spark.sql(_MG03_SPARK)


# ---------------------------------------------------------------------------
# ev12 — funnel analysis (ordered step conversion with step windows)
# ---------------------------------------------------------------------------
# The product-analytics staple the reference's alert packets approximate
# with per-view counts: how many users complete signup → click → purchase
# IN ORDER, each step within 7 days of the previous one. Classic minimal-
# timestamp formulation: step N's candidate events must follow the user's
# step-(N-1) completion time — no per-user event-array materialization, no
# sequence regex; each step is one filtered aggregate joined on the entity
# key.
#
# Scale shape: every join and aggregate is keyed user_id — the same hash
# partitioning reused across all three steps (co-partitioned joins, no
# re-shuffle of the event stream beyond the first); step relations shrink
# monotonically down the funnel. The 3-row conversion window at the end is
# driver-trivial.

_EV12 = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click'
    AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL '7' DAY
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL '7' DAY
  GROUP BY e.user_id
), counts AS (
  SELECT 1 AS funnel_step, 'signup' AS step_name, COUNT(*) AS n FROM s1
  UNION ALL
  SELECT 2, 'click_within_7d', COUNT(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase_within_7d', COUNT(*) FROM s3
)
SELECT CAST(funnel_step AS BIGINT) AS funnel_step, step_name,
  CAST(n AS BIGINT) AS n_users,
  CAST(CASE WHEN prev IS NULL THEN 1000
            WHEN prev = 0 THEN 0
            ELSE ROUND(1000.0 * n / prev) END AS BIGINT) AS conv_from_prev_x1000
FROM (
  SELECT funnel_step, step_name, n,
    lag(n) OVER (ORDER BY funnel_step) AS prev
  FROM counts
) t
"""


@query("ev12_funnel", oracle=_EV12, tags=("events", "funnel"))
def ev12_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (signup → click → purchase, each step
    within 7 days of the previous) via the minimal-timestamp formulation —
    per step: users reaching it + conversion from the previous step.
    All joins/aggregates keyed user_id (one partitioning reused down the
    funnel); the final window runs on 3 rows."""
    register_views(spark, sf_dir)
    return spark.sql(_EV12)


# ---------------------------------------------------------------------------
# ev13 — retention cohort matrix (weekly cohorts × week offset)
# ---------------------------------------------------------------------------
# The second product staple: group users by first-seen week, then count the
# distinct users of each cohort active in each subsequent week — the
# retention triangle every growth dashboard draws. Week arithmetic is kept
# in day-difference integer division (both engines truncate weeks to
# Monday, so the day diff is always a multiple of 7 — no engine-specific
# "week boundary" counting semantics in the oracle-checked output).
#
# Scale shape: first-seen aggregate keyed user_id; the activity join reuses
# that key; the DISTINCT collapses map-side per (user, cohort, offset); the
# matrix aggregate is keyed (cohort, offset) — bounded by the calendar, not
# the corpus. Cohort sizes broadcast back.

_EV13 = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort,
    {daydiff} AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
), cohort_sizes AS (
  SELECT cohort, COUNT(*) AS n0 FROM firsts GROUP BY cohort
)
SELECT {fmt} AS cohort_week,
  CAST(a.week_offset AS BIGINT)  AS week_offset,
  CAST(COUNT(*) AS BIGINT)       AS n_active,
  CAST(ROUND(1000.0 * COUNT(*) / s.n0) AS BIGINT) AS retention_x1000
FROM activity a JOIN cohort_sizes s ON a.cohort = s.cohort
GROUP BY a.cohort, a.week_offset, s.n0
"""

_EV13_SPARK = _EV13.format(
    daydiff="datediff(date_trunc('week', e.ts), f.cohort) DIV 7",
    fmt="date_format(a.cohort, 'yyyy-MM-dd')",
)
_EV13_DUCK = _EV13.format(
    daydiff="date_diff('day', f.cohort, date_trunc('week', e.ts)) // 7",
    fmt="strftime(a.cohort, '%Y-%m-%d')",
)


@query("ev13_retention_cohorts", oracle=_EV13_DUCK, tags=("events", "cohort", "retention"))
def ev13_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by first-seen week,
    distinct-active counts per (cohort, week offset) with retention ratio
    vs the COHORT SIZE — entity-keyed joins throughout, output bounded by
    the calendar grid. See ev19_cohort_activity_retention for the
    join-free activity-volume complement (adds n_events; normalizes by
    the week-0 active cell instead of cohort size)."""
    register_views(spark, sf_dir)
    return spark.sql(_EV13_SPARK)


# ---------------------------------------------------------------------------
# mg04 — small-file compaction planner (bin-pack chunks into target files)
# ---------------------------------------------------------------------------
# The lakehouse maintenance staple (the reference's VACUUM/maintenance
# family at table level — dbccore runs server-side VACUUM; a Spark lake
# compacts files instead): given per-chunk row/byte stats, assign source
# chunks to target output files so each file lands near the target size.
# Assignment = floor(running-bytes-before / target) per table partition —
# the standard prefix-sum bin-pack (a straddling chunk can push one file
# to <2× target, the accepted trade for a one-pass plan; exact packing is
# NP-hard and unnecessary here).
#
# Scale shape: the corpus-scale job is ONE aggregate building the chunk
# stats (map-side combined, chunk keys are uniform); the planning window
# runs on the METADATA-scale chunk table (≈ rows/chunk_size entries),
# PARTITIONED BY the month partition key — compaction plans are per-
# partition in any real lake layout, so no global window even at 100 TB.


def _mg04(fmt: str, idiv: str) -> str:
    # idiv: integer division (Spark DIV / DuckDB //) — double `/` + BIGINT
    # cast is not portable (truncate vs round).
    return f"""
WITH chunk_stats AS (
  SELECT {fmt}                     AS part_month,
         l_orderkey {idiv} 1000    AS chunk_id,
         CAST(COUNT(*) AS BIGINT)  AS n_rows,
         CAST(SUM(16 + length(l_returnflag) + length(l_linestatus)
                  + 80) AS BIGINT) AS est_bytes
  FROM lineitem
  GROUP BY {fmt}, l_orderkey {idiv} 1000
), planned AS (
  SELECT part_month, chunk_id, n_rows, est_bytes,
    COALESCE(SUM(est_bytes) OVER (PARTITION BY part_month ORDER BY chunk_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS bytes_before
  FROM chunk_stats
)
SELECT part_month,
  CAST(chunk_id AS BIGINT)                           AS chunk_id,
  n_rows,
  est_bytes,
  CAST(bytes_before {idiv} 262144 AS BIGINT)         AS target_file_id,
  CAST(bytes_before - (bytes_before {idiv} 262144) * 262144 AS BIGINT)
                                                     AS file_offset_bytes
FROM planned
"""


_MG04_SPARK = _mg04("date_format(l_shipdate, 'yyyy-MM')", "DIV")
_MG04_DUCK = _mg04("strftime(l_shipdate, '%Y-%m')", "//")


@query("mg04_compaction_plan", oracle=_MG04_DUCK, tags=("migration", "maintenance", "compaction"))
def mg04_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: per-chunk row/byte stats (one corpus
    aggregate) bin-packed into ~256 KiB target files via a prefix-sum
    window PARTITIONED BY the month partition key — the metadata-scale
    planning pass a lakehouse maintenance job (the Spark-side analog of
    the reference's VACUUM family, dbccore/dbccore.py VACUUM handling)
    executes before rewriting files."""
    register_views(spark, sf_dir)
    return spark.sql(_MG04_SPARK)


# ---------------------------------------------------------------------------
# ev11 — inter-arrival latency histogram + histogram-exact percentiles
# ---------------------------------------------------------------------------
# The latency-profile staple (the reference's lock-observer polls on 5 s
# intervals — db_converter.py:58-60 — exactly because inter-event timing
# IS the health signal): per-(user, type) inter-arrival gaps, bucketed
# into power-of-two latency bands, with p50/p95 read off the cumulative
# histogram. This is the HDR-histogram production shape: an exact global
# percentile needs a per-type total sort (5 types = 5 giant partitions, a
# scale killer), while the histogram is ONE bounded-key aggregate and the
# percentile extraction runs on |types|·~27 bucket rows.
#
# The bucket index is floor(log2(gap_s)) computed INTEGERLY as
# length(bin(gap_s)) — both engines render exact binary, so there is no
# float-log boundary risk at powers of two. Gaps are keyed (user_id,
# event_type): the window shuffle is on uniform entity keys, never on the
# 5-value type column.

_EV11 = """
WITH gaps AS (
  SELECT event_type,
    {gap_s} AS gap_s
  FROM (
    SELECT event_type, ts,
      lag(ts) OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS prev_ts
    FROM events
  ) g
  WHERE prev_ts IS NOT NULL
), hist AS (
  SELECT event_type,
    CAST(length(bin(gap_s)) AS BIGINT) AS bucket,
    COUNT(*)    AS n,
    SUM(gap_s)  AS gap_total
  FROM gaps
  WHERE gap_s >= 1
  GROUP BY event_type, length(bin(gap_s))
), cum AS (
  SELECT event_type, bucket, n, gap_total,
    SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_n,
    SUM(n) OVER (PARTITION BY event_type)                 AS total_n
  FROM hist
)
SELECT event_type,
  CAST(MAX(total_n) AS BIGINT)                                   AS n_gaps,
  CAST(ROUND(1000.0 * SUM(gap_total) / MAX(total_n)) AS BIGINT)  AS mean_gap_ms,
  CAST(MIN(CASE WHEN 2 * cum_n >= total_n THEN bucket END) AS BIGINT)
                                                                 AS p50_bucket,
  CAST(MIN(CASE WHEN 20 * cum_n >= 19 * total_n THEN bucket END) AS BIGINT)
                                                                 AS p95_bucket
FROM cum
GROUP BY event_type
"""

_EV11_SPARK = _EV11.format(
    gap_s="CAST(unix_timestamp(ts) - unix_timestamp(prev_ts) AS BIGINT)"
)
_EV11_DUCK = _EV11.format(gap_s="CAST(date_diff('second', prev_ts, ts) AS BIGINT)")


@query("ev11_interarrival_hist", oracle=_EV11_DUCK, tags=("events", "latency", "histogram"))
def ev11_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival latency profile: per-(user, type) gaps in a
    power-of-two histogram (bucket = bit-length of the gap seconds —
    integer-exact, no float log) with p50/p95 extracted from the cumulative
    histogram. The HDR-histogram shape: entity-keyed window, ONE bounded-
    key aggregate, percentile math on |types|x~27 rows — never a per-type
    total sort."""
    register_views(spark, sf_dir)
    return spark.sql(_EV11_SPARK)


# ---------------------------------------------------------------------------
# mg05 — chunked order-independent table checksum (migration validation)
# ---------------------------------------------------------------------------
# The verification step every chunked migration needs (the reference
# validates int4→int8 swaps by row counts — tests/test_packets.py's
# fetch-and-compare; at 100 TB you cannot sort-and-diff): a per-chunk
# checksum that is ORDER-INDEPENDENT (commutative XOR + a modular sum of
# per-row hashes), so source and target can be compared chunk-by-chunk
# without any global ordering, and only mismatched chunks are re-copied.
#
# Two complementary reductions per chunk — bit_xor (catches any single
# row diff, but an even number of identical flips cancels) and a modular
# sum (catches duplicated/dropped row pairs) — both over a 60-bit prefix
# of the row md5 (15 hex digits keeps the value inside signed BIGINT in
# both engines). Doubles are canonicalized to integer cents and the
# timestamp to a formatted string BEFORE hashing, so renderings agree.
#
# Scale shape: one scan, map-side partial aggregation on the uniform
# chunk key; output is metadata-scale (rows/1000 chunks). The per-row
# md5 dominates the cost (measured ~7.6x at 10x data — linear); md5 is
# used here because it is the only hash both engines share for the
# oracle compare — a deployment swaps in Spark's built-in xxhash64
# (~5-10x faster, already 64-bit) with zero plan-shape change.

_MG05 = """
WITH hashed AS (
  SELECT l_orderkey {idiv} 1000 AS chunk_id,
    {h60} AS h60
  FROM (
    SELECT l_orderkey, l_linenumber,
      md5(concat_ws('|',
        CAST(l_orderkey AS {str_t}), CAST(l_partkey AS {str_t}),
        CAST(l_suppkey AS {str_t}), CAST(l_linenumber AS {str_t}),
        CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS {str_t}),
        CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS {str_t}),
        CAST(CAST(ROUND(l_discount * 100) AS BIGINT) AS {str_t}),
        CAST(CAST(ROUND(l_tax * 100) AS BIGINT) AS {str_t}),
        l_returnflag, l_linestatus, {ship_fmt})) AS row_md5
    FROM lineitem
  ) rows_c
)
SELECT CAST(chunk_id AS BIGINT)      AS chunk_id,
  CAST(COUNT(*) AS BIGINT)           AS n_rows,
  CAST(bit_xor(h60) AS BIGINT)       AS xor_checksum,
  CAST(SUM(h60 % 1000003) AS BIGINT) AS sum_checksum
FROM hashed
GROUP BY chunk_id
"""

_MG05_SPARK = _MG05.format(
    idiv="DIV",
    str_t="STRING",
    h60="CAST(conv(substring(row_md5, 1, 15), 16, 10) AS BIGINT)",
    ship_fmt="date_format(l_shipdate, 'yyyy-MM-dd HH:mm:ss')",
)
_MG05_DUCK = _MG05.format(
    idiv="//",
    str_t="VARCHAR",
    h60="(('0x' || substr(row_md5, 1, 15))::BIGINT)",
    ship_fmt="strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')",
)


@query("mg05_table_checksum", oracle=_MG05_DUCK, tags=("migration", "validation", "checksum"))
def mg05_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked order-independent table checksum for migration validation:
    per-chunk XOR + modular-sum reductions over 60-bit row-hash prefixes
    (canonicalized rendering, engine-identical). Source/target compare
    chunk-by-chunk with no ordering requirement; only mismatched chunks
    re-copy — the scale-safe generalization of the reference's
    count-and-compare migration checks (tests/test_packets.py:500-544)."""
    register_views(spark, sf_dir)
    return spark.sql(_MG05_SPARK)


# ---------------------------------------------------------------------------
# mg06 — CDC apply (last-writer-wins SCD1 snapshot from a change feed)
# ---------------------------------------------------------------------------
# The MERGE/upsert half of the migration family: mg02 diffs two snapshots
# and mg03 builds the SCD2 history; mg06 APPLIES a change feed to produce
# the current-state (SCD1) table — the lakehouse spelling of the
# reference's routed DML (its v1->v2 trigger-style replication keeps a
# target table in sync row-by-row; a Spark lake replays the feed with
# last-writer-wins instead). Feed = events interpreted as CDC records:
# signup -> INSERT, error -> DELETE, everything else -> UPDATE.
#
# Scale shape: ONE scan, ONE shuffle on the uniform user_id entity key;
# the per-key change counters are window aggregates over the SAME
# partitioning as the LWW row_number (no second aggregate pass, no
# self-join), then a filter to rn = 1. Output is |entities| rows.
# Deletes remain as tombstone rows (alive = 0) so the consumer can
# anti-join them away — dropping them here would hide delete laundering.

_MG06 = """
WITH feed AS (
  SELECT user_id, ts, event_id,
    CASE WHEN event_type = 'signup' THEN 'I'
         WHEN event_type = 'error'  THEN 'D'
         ELSE 'U' END AS op,
    CAST(ROUND(value * 100) AS BIGINT) AS value_cents
  FROM events
), ranked AS (
  SELECT user_id, ts, op, value_cents,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
    COUNT(*)  OVER (PARTITION BY user_id) AS n_changes,
    SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id) AS n_inserts,
    SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id) AS n_updates,
    SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id) AS n_deletes
  FROM feed
)
SELECT CAST(user_id AS BIGINT)   AS user_id,
  CAST(n_changes AS BIGINT)      AS n_changes,
  CAST(n_inserts AS BIGINT)      AS n_inserts,
  CAST(n_updates AS BIGINT)      AS n_updates,
  CAST(n_deletes AS BIGINT)      AS n_deletes,
  op                             AS last_op,
  CAST({epoch_us} AS BIGINT)     AS last_ts_us,
  CAST(CASE WHEN op = 'D' THEN 0 ELSE 1 END AS BIGINT) AS alive,
  CASE WHEN op = 'D' THEN NULL ELSE value_cents END    AS value_cents
FROM ranked
WHERE rn = 1
"""

# ts reads as TIMESTAMP_NTZ (us-unit parquet); the session tz is pinned
# UTC so the NTZ->TIMESTAMP cast is the identity wall-clock mapping and
# unix_micros matches DuckDB's epoch_us on the naive value
_MG06_SPARK = _MG06.format(epoch_us="unix_micros(CAST(ts AS TIMESTAMP))")
_MG06_DUCK = _MG06.format(epoch_us="epoch_us(ts)")


@query("mg06_cdc_apply", oracle=_MG06_DUCK, tags=("migration", "cdc", "merge"))
def mg06_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: replay a change feed (events as INSERT/UPDATE/DELETE
    records) into the last-writer-wins current-state table, with per-key
    change counters and delete tombstones — the SCD1 complement to mg03's
    SCD2 history and the lakehouse spelling of the reference's routed DML
    replication. ONE scan, ONE entity-key shuffle: the LWW row_number and
    every counter are windows over the same user_id partitioning."""
    register_views(spark, sf_dir)
    return spark.sql(_MG06_SPARK)


# ---------------------------------------------------------------------------
# ev14 — event-type transition matrix (first-order Markov user journeys)
# ---------------------------------------------------------------------------
# The per-user journey statistic ev12's fixed funnel doesn't capture: for
# every ordered (from, to) event-type pair, how often does a user's next
# event follow, and with what probability — the first-order Markov
# transition matrix product analytics builds for journey mining and that
# a training pipeline uses to synthesize realistic session traces.
#
# Scale shape: ONE scan; successor extraction is a LEAD window on the
# uniform (user_id) entity key — never a global order; the pair count is
# a map-side-combined aggregate on a BOUNDED key space (|types|^2 = 25
# rows) and row-normalization is a window over that bounded relation —
# a totals CTE + self-join would re-derive the whole scan chain (Spark
# inlines CTEs: 2 scans measured) where the window costs one 25-row
# exchange. Dialect-neutral: the same SQL text runs on both engines.

_EV14 = """
WITH seq AS (
  SELECT event_type AS from_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type,
  CAST(n AS BIGINT) AS n_transitions,
  CAST(ROUND(1000.0 * n / SUM(n) OVER (PARTITION BY from_type)) AS BIGINT)
                    AS p_x1000
FROM counts
"""


@query("ev14_transition_matrix", oracle=_EV14, tags=("events", "markov", "journey"))
def ev14_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event journeys:
    (from, to) successor counts via an entity-keyed LEAD window plus
    row-normalized probabilities — the journey statistic ev12's fixed
    funnel can't express. One scan, one entity-key shuffle; the
    normalization window runs on the bounded |types|^2 aggregate."""
    register_views(spark, sf_dir)
    return spark.sql(_EV14)


# ---------------------------------------------------------------------------
# ev15 — weekly load profile (day-of-week x hour heatmap)
# ---------------------------------------------------------------------------
# The capacity-planning table behind the reference's scheduling knobs
# (its packets run under statement_timeout/lock windows the operator
# picks by knowing when load peaks): event volume, active users and
# per-user intensity for each of the 168 week cells, plus each cell's
# share of its day. Also the batch twin of ev03's streaming window — a
# full-history profile rather than a sliding aggregate.
#
# Scale shape: ONE scan → map-side-combined aggregate onto the BOUNDED
# 168-key space; COUNT(DISTINCT user_id) expands inside the same
# shuffle; the day-share normalization is a window over the 168-row
# relation. Nothing after the first aggregate is corpus-scale.
#
# dow spelling: Spark dayofweek() is 1..7 Sunday-first; DuckDB's is
# 0..6 Sunday-first — the Spark side subtracts 1 so both emit 0..6.

_EV15 = """
WITH cells AS (
  SELECT {dow} AS dow, {hour} AS hr,
    COUNT(*)                AS n_events,
    COUNT(DISTINCT user_id) AS n_users
  FROM events
  GROUP BY {dow}, {hour}
)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
  CAST(n_events AS BIGINT) AS n_events,
  CAST(n_users AS BIGINT)  AS n_users,
  CAST(ROUND(1000.0 * n_events / n_users) AS BIGINT)
                           AS events_per_user_x1000,
  CAST(ROUND(1000.0 * n_events / SUM(n_events) OVER (PARTITION BY dow))
       AS BIGINT)          AS day_share_x1000
FROM cells
"""

_EV15_SPARK = _EV15.format(dow="dayofweek(ts) - 1", hour="hour(ts)")
_EV15_DUCK = _EV15.format(dow="dayofweek(ts)", hour="hour(ts)")


@query("ev15_load_profile", oracle=_EV15_DUCK, tags=("events", "capacity", "heatmap"))
def ev15_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly load-profile heatmap: events, active users, per-user
    intensity and within-day share for each (day-of-week, hour) cell —
    the capacity table that picks maintenance/migration windows (the
    reference schedules its packets around exactly this knowledge). ONE
    scan onto a bounded 168-key aggregate; the share normalization is a
    window over the 168-row relation."""
    register_views(spark, sf_dir)
    return spark.sql(_EV15_SPARK)


# ---------------------------------------------------------------------------
# ev16 — watermark-lag audit (what would an N-minute watermark drop?)
# ---------------------------------------------------------------------------
# The streaming operators (ev03/ev07/ev10) all run `withWatermark(ts, "30
# minutes")` — a number someone has to PICK, and picking it wrong either
# drops real events (too tight) or holds state forever (too loose). ev16
# is the batch audit that choice comes from, with Structured Streaming's
# OWN lateness semantics: arrival order (event_id) chunks into
# micro-batches, the watermark an event is judged against is the max
# event time of all PRIOR batches (Spark advances the watermark between
# micro-batches, never within one), and lateness = that high-water mark
# minus the event's own time. For each candidate watermark policy, the
# events it would discard as too-late, per event type. Output is
# |event_types| × |policies| rows.
#
# Scale shape: ONE scan → per-batch max (bounded aggregate, uniform
# keys) → running max as a window over the BOUNDED batch table → the
# batch-hwm relation broadcast back onto the scan (batch id is a pure
# projection of event_id — no second corpus pass) → 4-row policy
# relation broadcast → bounded aggregate. No global sort anywhere.

_EV16_POLICIES = "(60), (300), (1800), (3600)"
_EV16_BATCH = 1000  # arrival-order events per audited micro-batch


def _ev16(late_s: str, values_pol: str, hint: str = "") -> str:
    return f"""
WITH batches AS (
  SELECT event_id {{intdiv}} {_EV16_BATCH} AS b, MAX(ts) AS bmax
  FROM events GROUP BY event_id {{intdiv}} {_EV16_BATCH}
), hwm AS (
  SELECT b, MAX(bmax) OVER (ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
  FROM batches
), late AS (
  SELECT {hint}e.event_type, {late_s} AS late_s
  FROM events e JOIN hwm h ON e.event_id {{intdiv}} {_EV16_BATCH} = h.b
  WHERE h.wm IS NOT NULL
), pol AS (
  SELECT * FROM {values_pol}
)
SELECT l.event_type,
  CAST(p.w_s AS BIGINT)                                       AS watermark_s,
  CAST(COUNT(*) AS BIGINT)                                    AS n_judged,
  CAST(SUM(CASE WHEN l.late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_behind_wm,
  CAST(SUM(CASE WHEN l.late_s > p.w_s THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_dropped,
  CAST(ROUND(100000.0 * SUM(CASE WHEN l.late_s > p.w_s THEN 1 ELSE 0 END)
             / COUNT(*)) AS BIGINT)                           AS drop_rate_x100k,
  CAST(MAX(l.late_s) AS BIGINT)                               AS max_lateness_s
FROM late l CROSS JOIN pol p
GROUP BY l.event_type, p.w_s
"""


_EV16_SPARK = _ev16(
    "CAST(unix_timestamp(h.wm) - unix_timestamp(e.ts) AS BIGINT)",
    f"VALUES {_EV16_POLICIES} AS t(w_s)",
    hint="/*+ BROADCAST(h) */ ",
).format(intdiv="div")
_EV16_DUCK = _ev16(
    "CAST(date_diff('second', e.ts, h.wm) AS BIGINT)",
    f"(VALUES {_EV16_POLICIES}) t(w_s)",
).format(intdiv="//")


@query("ev16_watermark_audit", oracle=_EV16_DUCK, tags=("events", "streaming", "watermark"))
def ev16_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy audit with Structured Streaming's own lateness
    semantics: arrival order (event_id) chunks into micro-batches, each
    event is judged against the max event time of all PRIOR batches
    (Spark advances the watermark between micro-batches), and per
    (event_type, candidate watermark) the audit reports the behind-
    watermark share, the events the policy would DROP as too-late and
    the worst lateness — the table you read before writing
    `withWatermark(ts, ...)` (ev03/ev07/ev10's 30-minute choice comes
    from exactly this audit). ONE scan, a bounded per-batch aggregate, a
    window over the bounded batch table, the batch-hwm relation
    broadcast back, bounded output."""
    register_views(spark, sf_dir)
    return spark.sql(_EV16_SPARK)


# ---------------------------------------------------------------------------
# ev17 — count-min sketch heavy-hitter audit (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------
# ta05 sketches DISTINCT counts (HLL); ev17 is the frequency side: a
# count-min sketch — d=4 salted hash rows x w=64 buckets, every event
# incrementing one counter per row, point estimate = MIN over the d row
# counters — plus the audit a deployment needs before trusting it: the
# exact top-10 heavy hitters joined with their CM estimates and the
# one-sided overestimate error (CM never underestimates; expected
# overestimate <= n/w per row). All hashing is md5-derived so both
# engines compute the identical sketch.
#
# Scale shape: the sketch build is ONE pass over events exploded x4 (the
# d rows), map-side combinable into exactly d*w = 256 cells — THE
# mergeable-across-shards/streams frequency structure at 100 TB (counters
# add across partitions, days, or streams). The exact side exists only
# for the audit and reports top-10; its user-keyed aggregate is the cost
# the sketch replaces in deployment, which is the point of the audit.

_EV17_D = 4
_EV17_W = 64


def _ev17_tail(exact_src: str, rows_gen: str, md5_i32: str,
               lead: str = "WITH") -> str:
    h = md5_i32.format(expr="CONCAT(CAST(r AS STRING), ':', CAST(user_id AS STRING))")
    return f"""
{lead} rws AS (
  SELECT {rows_gen} AS r
), cells AS (
  -- counter(r, b) = sum of per-key counts hashing to (r, b): identical to
  -- incrementing per event, but built from the audit's own exact relation
  -- so the whole operator runs ONE corpus scan. A deployment without the
  -- audit builds the same cells as a direct map-side d x w aggregate over
  -- the raw stream (no per-key state).
  SELECT r, {h} % {_EV17_W} AS b, SUM(exact_n) AS cnt
  FROM {exact_src} CROSS JOIN rws
  GROUP BY r, {h} % {_EV17_W}
), topk AS (
  -- ORDER BY + LIMIT, not a global ROW_NUMBER: Spark plans this as
  -- TakeOrderedAndProject (per-partition top-k, merged) — no
  -- single-partition window over the unbounded user relation
  SELECT user_id, exact_n FROM {exact_src} ORDER BY exact_n DESC, user_id LIMIT 10
), ranked AS (
  -- the rank window runs over the bounded 10-row top-k only
  SELECT user_id, exact_n,
    ROW_NUMBER() OVER (ORDER BY exact_n DESC, user_id) AS rnk
  FROM topk
), est AS (
  SELECT t.user_id, t.exact_n, t.rnk, MIN(c.cnt) AS cm_est
  FROM ranked t
  CROSS JOIN rws
  JOIN cells c ON c.r = rws.r
    AND c.b = {md5_i32.format(expr="CONCAT(CAST(rws.r AS STRING), ':', CAST(t.user_id AS STRING))")} % {_EV17_W}
  GROUP BY t.user_id, t.exact_n, t.rnk
)
SELECT CAST(rnk AS BIGINT) AS rnk, user_id,
  CAST(exact_n AS BIGINT) AS exact_n,
  CAST(cm_est AS BIGINT) AS cm_est,
  CAST(cm_est - exact_n AS BIGINT) AS overest
FROM est
"""


_EV17_EXACT = "SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id"

_EV17_TAIL_SPARK = _ev17_tail(
    "{exact}",
    "explode(sequence(0, {d}))".format(d=_EV17_D - 1),
    "CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)",
)
_EV17_DUCK = (
    f"WITH exact AS ({_EV17_EXACT})"
    + _ev17_tail(
        "exact",
        "unnest(generate_series(0, {d}))".format(d=_EV17_D - 1),
        "(('0x' || substr(md5({expr}), 1, 8))::BIGINT)",
        lead=",",
    )
)


def _ev17_run(spark: SparkSession) -> DataFrame:
    """Materialize the per-user exact relation once (cells + topk both read
    it; CTE inlining would scan events twice), then run the audit tail."""
    exact = checkpoint(spark.sql(_EV17_EXACT), eager=True)
    return spark.sql(_EV17_TAIL_SPARK, exact=exact)


@query("ev17_countmin_audit", oracle=_EV17_DUCK, tags=("events", "sketch", "heavyhitters"))
def ev17_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit (Cormode & Muthukrishnan 2005):
    a d=4 x w=64 md5-salted sketch built in one exploded pass (256
    map-side-combinable cells — the mergeable frequency structure for
    streams/shards at 100 TB), point-estimated by min-over-rows, audited
    against the exact top-10 users: estimate, exact count, one-sided
    overestimate. CM never underestimates; the audit proves the property
    and measures the n/w-bounded error on real data. ONE corpus scan:
    the cells aggregate over the materialized per-key counts (sum-per-
    bucket == increment-per-event); in a no-audit deployment the cells
    build directly over the stream as a d x w map-side aggregate."""
    register_views(spark, sf_dir)
    return _ev17_run(spark)


# ---------------------------------------------------------------------------
# ev18 — streaming histogram quantiles (the dq07 sketch under a stream)
# ---------------------------------------------------------------------------
# dq07 proves the mergeable-histogram quantile shape in batch; ev18 runs the
# SAME sketch as an actual Structured Stream: per 1-hour event-time window,
# a 256-bin fixed-domain histogram of `value` (integer cents, bin = 400
# cents, domain [0, 1024) units with outliers clamped to the edge bin — a
# streaming sketch cannot take a min/max pre-pass, so the domain is fixed
# a priori, the standard streaming-quantile trade) aggregated in complete
# mode, then a BATCH tail over the bounded sink relation cuts p50/p90/p99
# as the smallest bin whose cumulative reaches ceil(q·n). State per window
# is <= 256 counters — mergeable across micro-batches by construction,
# which is exactly why the histogram (and not a sort) is the streaming
# quantile structure.

_EV18_BINW = 400   # cents per bin
_EV18_NBINS = 256

_EV18_BIN_EXPR = (
    f"LEAST({_EV18_NBINS - 1}, GREATEST(0, "
    f"CAST(ROUND(value * 100) AS BIGINT) DIV {_EV18_BINW}))"
)


def _ev18_tail(hist_src: str, intdiv: str, lead: str = "WITH") -> str:
    # MIN over CASE picks the smallest qualifying bin (right edges grow
    # monotonically with b); the cumulative window partitions by window
    # over <= 256 bounded rows
    def est(q: int) -> str:
        return (
            f"CAST(MIN(CASE WHEN cum >= ({q} * n + 99) {intdiv} 100"
            f" THEN (b + 1) * {_EV18_BINW} - 1 END) AS BIGINT) AS est_p{q}_cents"
        )

    return f"""
{lead} cum AS (
  SELECT window_start, b, c,
    SUM(c) OVER (PARTITION BY window_start ORDER BY b) AS cum,
    SUM(c) OVER (PARTITION BY window_start) AS n
  FROM {hist_src}
)
SELECT window_start, CAST(n AS BIGINT) AS n_events,
  {est(50)},
  {est(90)},
  {est(99)}
FROM cum GROUP BY window_start, n
"""


_EV18_DUCK = f"""
WITH hist AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         LEAST({_EV18_NBINS - 1}, GREATEST(0,
           CAST(ROUND(value * 100) AS BIGINT) // {_EV18_BINW})) AS b,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
){_ev18_tail("hist", "//", lead=",")}
"""


@query("ev18_streaming_quantiles", oracle=_EV18_DUCK, tags=("events", "streaming", "sketch", "quantile"))
def ev18_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window streaming quantiles from a fixed-domain histogram: an
    ACTUAL readStream (2 h watermark, availableNow) aggregates a 256-bin
    cents histogram per 1-hour window in complete mode — <= 256 mergeable
    counters of state per window — and a batch tail over the bounded sink
    cuts p50/p90/p99 as smallest-bin-reaching-ceil(q·n) (the dq07
    estimator; right-edge estimates, error <= one 400-cent bin). The
    batch oracle computes the identical sketch, so the compare is exact."""
    sink = f"ev18_sink_{uuid.uuid4().hex}"
    src = _events_stream_source(spark, sf_dir)
    hist = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), F.expr(_EV18_BIN_EXPR).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "b",
            "c",
        )
    )
    with scoped_conf(spark, _SHUFFLE_PARTITIONS, "8"):
        q = (
            hist.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.sql(_ev18_tail("{hist}", "DIV"), hist=spark.table(sink))
    spark.catalog.dropTempView(sink)
    return out


# ---------------------------------------------------------------------------
# ev19 — cohort ACTIVITY retention (first-seen week × week offset)
# ---------------------------------------------------------------------------
# Contrast with ev13_retention_cohorts (events.py:969): ev13 reports the
# classic retention MATRIX — distinct-active users per (cohort, offset)
# normalized by COHORT SIZE, built with entity-keyed joins. ev19 is the
# activity-volume complement: it adds per-cell EVENT VOLUME (n_events) and
# normalizes against the cohort's WEEK-0 ACTIVE CELL (not cohort size), and
# is built join-free — one scan, a user-key window for the cohort stamp,
# and a window over the bounded cells relation. The reference's pg_stat
# observability answered "how loaded is the DB"; this is the user-level
# complement a usage migration is planned around.
#
# Scale shape: ONE events scan → window MIN over the uniform user_id key
# (the cohort stamp; one exchange) → COUNT(DISTINCT user) per bounded
# (cohort, offset) cell (the distinct expands to (cell, user) keys — still
# uniform) → the retention normalization is a window over the bounded
# cells relation (|weeks|² rows). Week offsets are exact integer
# arithmetic on microsecond epochs of week-truncated stamps (never float
# division on absolute epochs — 2026 epoch-µs exceeds double precision).

_EV19 = """
WITH firstw AS (
  SELECT user_id, ts,
    MIN(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cw
  FROM events
), offs AS (
  SELECT user_id,
    {fmt_cw} AS cohort_week,
    ({ep_wts} - {ep_cw}) {idiv} 604800000000 AS week_offset
  FROM firstw
), cells AS (
  SELECT cohort_week, week_offset,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users,
    CAST(COUNT(*) AS BIGINT) AS n_events
  FROM offs GROUP BY cohort_week, week_offset
)
SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
  n_active_users, n_events,
  CAST(ROUND(1000.0 * n_active_users /
       MAX(CASE WHEN week_offset = 0 THEN n_active_users END)
         OVER (PARTITION BY cohort_week)) AS BIGINT) AS retention_x1000
FROM cells
"""

_EV19_SPARK = _EV19.format(
    fmt_cw="date_format(cw, 'yyyy-MM-dd')",
    ep_wts="unix_micros(CAST(date_trunc('week', ts) AS TIMESTAMP))",
    ep_cw="unix_micros(CAST(cw AS TIMESTAMP))",
    idiv="DIV",
)
_EV19_DUCK = _EV19.format(
    fmt_cw="strftime(cw, '%Y-%m-%d')",
    ep_wts="epoch_us(date_trunc('week', ts))",
    ep_cw="epoch_us(cw)",
    idiv="//",
)


@query("ev19_cohort_activity_retention", oracle=_EV19_DUCK, tags=("events", "retention", "cohort"))
def ev19_cohort_activity_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort ACTIVITY retention — the volume complement of
    ev13_retention_cohorts: users bucketed by first-seen week; per
    (cohort_week, week_offset) the active-user count, EVENT VOLUME
    (n_events, which ev13 does not report) and retention vs the cohort's
    WEEK-0 ACTIVE CELL (ev13 normalizes by cohort size instead; x1000
    integer). Join-free where ev13 is entity-join-keyed: ONE scan, one
    user-key window for the cohort stamp, bounded-cell aggregate, window
    normalization over the bounded cells relation (no reference analog;
    SURVEY §6 extension)."""
    register_views(spark, sf_dir)
    return spark.sql(_EV19_SPARK)
