"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` — the streaming twin of ev02's window-function
sessionization (operators/events.py).

Why this shape: Structured Streaming's built-in ``session_window`` covers
plain gap sessions, but the reference-style pipelines want the OPEN state
carried per key with custom close/emit rules — that is exactly the
``applyInPandasWithState`` contract: per-key Arrow batches + an explicit
state row + timeout-driven flush.

Scale: state is one tiny row per active user (3 longs), partitioned by
user_id — the same shuffle key as the batch twin; Arrow moves events in
columnar batches, never row-at-a-time. At 100 TB of events the state store
holds only the ACTIVE tail of users, not history.

Semantics (matches ev02, reference-free extension SURVEY §6):
- events within ``gap`` of the previous event extend the user's session;
- a larger gap closes the open session (emitted) and starts a new one;
- an event-time timeout flushes a still-open session once the watermark
  (latest event time seen minus ``lateness``) passes its last event plus
  ``gap``: no later event can extend it any more.

The flush is driven by event time, not processing time. A processing-time
timeout makes Spark run a no-data micro-batch after every batch to look
for expired state, so an ``availableNow`` query never ends; the watermark
only moves with data, so the query stops once its backlog is drained and
the last watermark advance has been evicted.

Within-stream ordering contract: events older than the watermark are
dropped, and per-user event-time order must be non-decreasing ACROSS
batches (late cross-batch events would start new sessions); the
batch-parity test feeds time-split chunks to exercise exactly the
carried-state path.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("closed_by", LongType()),  # 0 = gap, 1 = timeout
    ]
)

# open-session state: [start_us, last_us, n_events] as epoch-micros longs
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_US = 1_000_000


def _session_fn(gap_us: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[Any, ...]] = []

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append((user_id, start_us, last_us, n, 1))
            state.remove()
        else:
            if state.exists:
                start_us, last_us, n = state.get
            else:
                start_us = last_us = n = None
            for pdf in pdfs:
                # event-time order within the batch; cross-batch order is
                # the operator's documented contract
                ts_us = (
                    pdf["ts"]
                    .sort_values()
                    .astype("datetime64[ns]")  # unit-safe: Arrow may hand us or ns
                    .astype("int64")
                    // 1000
                ).to_numpy()
                for t in ts_us:
                    t = int(t)
                    if start_us is None:
                        start_us, last_us, n = t, t, 1
                    elif t - last_us <= gap_us:
                        last_us, n = t, n + 1
                    else:
                        closed.append((user_id, start_us, last_us, n, 0))
                        start_us, last_us, n = t, t, 1
            if start_us is not None:
                state.update((start_us, last_us, n))
                # every surviving event is at or past the watermark, so
                # this never lies behind it
                state.setTimeoutTimestamp((last_us + gap_us) // 1000)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": pd.to_datetime(
                        [c[1] * 1000 for c in closed]
                    ),
                    "session_end": pd.to_datetime([c[2] * 1000 for c in closed]),
                    "n_events": [c[3] for c in closed],
                    "closed_by": [c[4] for c in closed],
                }
            )

    return fn


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, lateness_minutes: int = 60
) -> DataFrame:
    """``events`` (streaming, with ``user_id`` and timestamp ``ts``) →
    stream of CLOSED sessions (user_id, session_start, session_end,
    n_events, closed_by). Open sessions stay in the per-user state row
    until a gap closes them or the watermark, ``lateness_minutes`` behind
    the latest event, passes their last event plus the gap."""
    return (
        # watermarks reject TIMESTAMP_NTZ; under the UTC session the cast
        # is a reinterpretation
        events.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", f"{lateness_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_minutes * 60 * _US),
            OUTPUT_SCHEMA,
            _STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
