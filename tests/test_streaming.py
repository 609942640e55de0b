"""Structured Streaming tests: incremental file ingest with digest dedup +
checkpoint resume, and watermarked windowed aggregation (batch/stream
parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_converter_spark.catalog import load_table
from db_converter_spark.streaming import (
    start_incremental_ingest,
    windowed_event_stats,
)

_SCHEMA = "doc_id BIGINT, text STRING"


def _drop(spark, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _fresh(spark, table):
    """Read past the session's relation cache (the stream appended from its
    own cloned session)."""
    spark.catalog.refreshTable(table)
    return spark.table(table)


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    return d


def _write_batch(spark, landing, rows, name):
    """Land one flat parquet file (landing zones deliver files, not
    directories — and FileStreamSource discovers new *files* under the
    source path)."""
    import shutil

    stage = landing.parent / f"__stage_{name}"
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        str(stage)
    )
    part = next(stage.glob("part-*.parquet"))
    shutil.move(str(part), str(landing / f"{name}.parquet"))
    shutil.rmtree(stage)


def test_incremental_ingest_dedup_and_resume(spark, tmp_path, landing):
    target = "default.stream_tgt"
    _drop(spark, target)
    ckpt = str(tmp_path / "ckpt")

    # batch 1: 3 rows, one internal duplicate text
    _write_batch(spark, landing, [(1, "aaa"), (2, "bbb"), (3, "aaa")], "b1")
    q = start_incremental_ingest(
        spark, str(landing), target, ckpt, _SCHEMA, digest_cols=("text",)
    )
    q.awaitTermination(120)
    assert _fresh(spark, target).count() == 2  # in-batch dedup kept aaa once

    # batch 2 (restart with same checkpoint): one new, one cross-batch dup
    _write_batch(spark, landing, [(4, "ccc"), (5, "bbb")], "b2")
    q2 = start_incremental_ingest(
        spark, str(landing), target, ckpt, _SCHEMA, digest_cols=("text",)
    )
    q2.awaitTermination(120)
    texts = sorted(r.text for r in _fresh(spark, target).select("text").collect())
    assert texts == ["aaa", "bbb", "ccc"]  # bbb not re-ingested

    # restart again with NO new files: checkpoint resume is a no-op
    q3 = start_incremental_ingest(
        spark, str(landing), target, ckpt, _SCHEMA, digest_cols=("text",)
    )
    q3.awaitTermination(120)
    assert _fresh(spark, target).count() == 3
    _drop(spark, target)


def test_windowed_event_stats_batch_parity(spark, duck):
    """The same windowed aggregation code runs on the batch events table and
    must agree with a DuckDB oracle (1-hour tumbling windows)."""
    sf = "/root/testdata/sf0.001"
    events = load_table(spark, sf, "events")
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in windowed_event_stats(events).collect()
    }
    oracle = duck.execute(
        f"""
        SELECT date_trunc('hour', ts) AS ws, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 4) AS tv
        FROM read_parquet('{sf}/events.parquet')
        GROUP BY 1, 2
        """
    ).fetchall()
    assert len(got) == len(oracle)
    for ws, et, n, tv in oracle:
        k = (ws.isoformat(), et)
        assert k in got, f"missing window {k}"
        assert got[k][0] == n
        assert abs(got[k][1] - tv) < 1e-6


def test_windowed_event_stats_streaming(spark, tmp_path):
    """The SAME aggregation as a real stream: rate-limited file source,
    watermark active, availableNow drain into a memory sink."""
    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    load_table(spark, "/root/testdata/sf0.001", "events").coalesce(2).write.mode(
        "overwrite"
    ).parquet(str(src_dir / "chunk"))

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*")
    )
    agg = windowed_event_stats(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ev"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; the final
    # (max-ts) window stays open, so expect a strict, non-empty subset
    batch_n = windowed_event_stats(
        load_table(spark, "/root/testdata/sf0.001", "events")
    ).count()
    emitted = spark.sql("select count(*) from ev_stats").collect()[0][0]
    assert 0 < emitted <= batch_n


def test_stateful_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization must agree with the ev02
    window-function batch twin on every session it emits. Events are fed as
    two time-split parquet chunks so per-user state genuinely carries
    across micro-batches (the second chunk extends or closes sessions the
    first chunk left open), and each ``availableNow`` query must end once
    its chunk is drained."""
    from db_converter_spark.streaming.stateful import sessionize_stream
    from tests.conftest import SF_DIR

    gap_minutes, lateness_minutes = 30, 60
    # 1-in-5 user subset: same state-carry semantics, fifth of the runtime
    events = (
        load_table(spark, SF_DIR, "events")
        .where("user_id % 5 = 0")
        .select("user_id", "ts")
    )
    # unit-agnostic epoch-micros: works whether load_table yielded TIMESTAMP
    # (ns testdata) or TIMESTAMP_NTZ (us testdata; session tz is UTC so the
    # cast is a faithful reinterpretation)
    ts_us = "unix_micros(cast(ts as timestamp))"
    cut, max_us = events.agg(
        F.expr(f"percentile_approx({ts_us}, 0.5)"), F.expr(f"max({ts_us})")
    ).collect()[0]

    src = tmp_path / "sess_src"
    ckpt = tmp_path / "sess_ckpt"
    out_dir = tmp_path / "sess_out"

    schema = events.schema

    def run_available(chunk_df, name):
        chunk_df.coalesce(1).write.mode("append").parquet(str(src / name))
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        q = (
            sessionize_stream(
                stream, gap_minutes=gap_minutes, lateness_minutes=lateness_minutes
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120), "availableNow query did not end"
        finally:
            q.stop()

    run_available(events.where(F.expr(f"{ts_us} <= {cut}")), "chunk1")
    run_available(events.where(F.expr(f"{ts_us} > {cut}")), "chunk2")

    out = spark.read.parquet(str(out_dir))
    got = out.select("user_id", "session_start", "session_end", "n_events")

    # batch truth: every session EXCEPT each user's last one that is still
    # open in the state store: its last event plus the gap is not yet behind
    # the final watermark (latest event, in ms, minus the lateness)
    watermark_ms = max_us // 1000 - lateness_minutes * 60 * 1000
    events.createOrReplaceTempView("ev_batch")
    batch = spark.sql(
        f"""
        WITH marked AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           + INTERVAL '{gap_minutes}' MINUTE
            THEN 1 ELSE 0 END AS new_session
          FROM ev_batch
        ), sess AS (
          SELECT user_id, ts,
            SUM(new_session) OVER (
              PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked
        ), per AS (
          SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
                 COUNT(*) AS n_events,
                 MAX(sid) OVER (PARTITION BY user_id) AS last_sid
          FROM sess GROUP BY user_id, sid
        )
        SELECT user_id, session_start, session_end, n_events
        FROM per
        WHERE sid < last_sid
           OR (unix_micros(cast(session_end AS timestamp))
               + {gap_minutes * 60 * 1_000_000}) DIV 1000 < {watermark_ms}
        """
    )
    b = {tuple(r) for r in batch.collect()}
    g = {tuple(r) for r in got.collect()}
    assert len(b) > 0
    # the watermark flush ran, not only gap closes
    assert out.where("closed_by = 1").count() > 0
    assert g == b


def test_cdc_upsert_stream(spark, tmp_path):
    """start_cdc_upsert applies a change stream by key with newest-wins
    semantics across micro-batches: later files override earlier rows,
    new keys insert."""
    from db_converter_spark.streaming.incremental import start_cdc_upsert

    src = tmp_path / "cdc_src"
    ckpt = tmp_path / "cdc_ckpt"
    schema = "k BIGINT, v STRING, seq BIGINT"

    def put(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run():
        q = start_cdc_upsert(
            spark,
            str(src) + "/*",
            "cdc_tgt",
            str(ckpt),
            schema,
            keys=("k",),
            order_col="seq",
        )
        q.awaitTermination(120)

    put("f1", [(1, "a", 1), (2, "b", 1), (3, "c", 1)])
    run()
    put("f2", [(2, "B2", 2), (4, "d", 2)])  # update k=2, insert k=4
    run()

    spark.catalog.refreshTable("cdc_tgt")
    got = {(r.k, r.v) for r in spark.table("cdc_tgt").collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    spark.sql("DROP TABLE IF EXISTS cdc_tgt")


def test_session_window_checkpoint_resume(spark, tmp_path, landing):
    """Native session_window append stream across a restart: run with a
    DURABLE checkpoint, land a second batch, re-start from the SAME
    checkpoint — the resumed query must (a) not re-emit sessions the first
    run already finalized (exactly-once over the sink) and (b) close the
    sessions the new data's watermark advance finalizes — matching the
    batch gaps-and-islands of the full data restricted to closed
    sessions."""
    from db_converter_spark.catalog import load_table

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "event_type", "value")
        .orderBy("ts")
        .limit(2000)
        .cache()
    )
    rows = events.collect()
    first, second = rows[:1200], rows[1200:]
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

    def land(batch, name):
        spark.createDataFrame(batch, schema=schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(landing))

    def run_once():
        src = spark.readStream.schema(schema).parquet(str(landing))
        agg = (
            src.withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("session_window.start").alias("s_start"),
                F.col("user_id"),
                F.col("n_events"),
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(first, "b1")
    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    land(second, "b2")
    run_once()
    got = spark.read.parquet(out)
    # exactly-once: no (session, user) emitted twice across the restart
    assert got.groupBy("s_start", "user_id").count().filter("count > 1").count() == 0

    # parity: closed sessions of the FULL landed data (watermark = max ts)
    from pyspark.sql.window import Window

    all_ev = spark.read.parquet(str(landing))
    max_ts = all_ev.agg(F.max("ts")).collect()[0][0]
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        all_ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("ts") > F.col("prev") + F.expr("INTERVAL 30 MINUTES")),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("last_ts"),
             F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("last_ts") + F.expr("INTERVAL 30 MINUTES") < F.lit(max_ts))
        .select("s_start", "user_id", "n_events")
    )
    expect = {tuple(r) for r in sess.collect()}
    emitted = {tuple(r) for r in got.collect()}
    assert expect <= emitted, f"missing {len(expect - emitted)} closed sessions"
    # anything extra must be sessions the first run closed that the full
    # data would have merged/extended — with ordered landing there are none
    assert emitted == expect


def test_session_window_exact_boundaries(spark, tmp_path):
    """Pin Spark's session_window boundary semantics against the ev10
    oracle's comparison-operator choices on second-granularity data
    (the corpus's tie-free microsecond timestamps never hit either edge):

    - a gap of EXACTLY the 30-minute session gap MERGES (the oracle's
      "new session when gap > 30 min" — strict >);
    - append mode EMITS a session whose end is exactly equal to the
      watermark (emit when watermark >= end — the oracle's s_end <= max).
    """
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from db_converter_spark.operators.events import (
        _EV10_DUCK,
        ev10_session_window_stream,
    )

    T = lambda s: dt.datetime.fromisoformat("2024-01-01 " + s)
    rows = [
        # user 1: gap of exactly 30:00 between the first two events
        (1, T("10:00:00"), 1, "c", 1.0, "{}"),
        (2, T("10:30:00"), 1, "c", 1.0, "{}"),
        (3, T("11:30:00"), 1, "c", 1.0, "{}"),
        # user 2: single event whose session end == global max ts exactly
        (4, T("14:30:00"), 2, "c", 1.0, "{}"),
        # user 3: anchor closed session + the global-max event (open session)
        (5, T("09:00:00"), 3, "c", 1.0, "{}"),
        (6, T("15:00:00"), 3, "c", 1.0, "{}"),
    ]
    schema = pa.schema(
        [
            pa.field("event_id", pa.int64()),
            pa.field("ts", pa.timestamp("us")),
            pa.field("user_id", pa.int64()),
            pa.field("event_type", pa.string()),
            pa.field("value", pa.float64()),
            pa.field("props", pa.string()),
        ]
    )
    cols = list(zip(*rows))
    tbl = pa.Table.from_arrays([pa.array(c) for c in cols], schema=schema)
    d = tmp_path / "edge_events"
    d.mkdir()
    pq.write_table(tbl, str(d / "events.parquet"))

    srows = sorted(tuple(r) for r in ev10_session_window_stream(spark, str(d)).collect())

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
        )
        orows = sorted(tuple(r) for r in con.execute(_EV10_DUCK).fetchall())
    finally:
        con.close()
    assert srows == orows
    # the boundary cases landed the way the oracle encodes them:
    assert ("2024-01-01 10:00:00", "2024-01-01 11:00:00", 1, 2, 200) in srows  # exact-gap merge
    assert ("2024-01-01 14:30:00", "2024-01-01 15:00:00", 2, 1, 100) in srows  # end == max ts emitted
    assert not any(r[2] == 3 and r[0] == "2024-01-01 15:00:00" for r in srows)  # open session held
