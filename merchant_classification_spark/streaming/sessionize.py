"""Custom stateful streaming operator: gap-based sessionization.

The one operator class Structured Streaming's built-in aggregates can't
express: per-key sessions that close after an inactivity gap. Implemented
with ``applyInPandasWithState`` — Spark keeps one GroupState per key in
the state store (RocksDB/HDFS-backed on a cluster), hands each micro-batch
of a key's events to the Python function as Arrow batches, and event-time
timeouts flush idle sessions. State per key is O(1) (start, last, count,
value-sum), so the operator runs indefinitely at any key cardinality the
state store can hold.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start", T.TimestampType(), False),
        T.StructField("session_end", T.TimestampType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("sum_value_cents", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("sum_cents", T.LongType(), False),
    ]
)

_US = 1_000_000


def _to_cents(v: float) -> int:
    """HALF_UP cents for non-negative money, matching Spark's
    ``F.round(value * 100)`` in ``sessionize_batch`` bit-for-bit."""
    import math

    return int(math.floor(v * 100.0 + 0.5))


def _session_fn(gap_seconds: int):
    gap_us = gap_seconds * _US

    def fn(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "sum_value_cents": [sv],
                }
            )
            return

        events = pd.concat(list(batches), ignore_index=True)
        events = events.sort_values("ts")
        ts_us = events["ts"].astype("int64") // 1000  # ns → µs
        values = events["value"].astype("float64")

        if state.exists:
            start_us, last_us, n, sv = state.get
        else:  # values unused until the first event sets them (n == 0)
            start_us = last_us = int(ts_us.iloc[0])
            n, sv = 0, 0

        closed = []
        for t_us, v in zip(ts_us, values):
            t_us = int(t_us)
            if n > 0 and t_us - last_us > gap_us:
                closed.append((start_us, last_us, n, sv))
                start_us, n, sv = t_us, 0, 0
            if n == 0:
                start_us = t_us
            last_us = t_us
            n += 1
            sv += _to_cents(float(v))

        state.update((start_us, last_us, n, sv))
        # close the open session if no event arrives within the gap
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, *_ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, *_ in closed],
                    "n_events": [n_ev for _, _, n_ev, _ in closed],
                    "sum_value_cents": [v for _, _, _, v in closed],
                }
            )

    return fn


def sessionize_batch(
    df: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Batch sessionization: the classic lag → gap-flag → running-sum
    session-id window composition, then one aggregate per session.

    Same semantics as ``sessionize_stream`` on a closed dataset (every
    session is closed). Scale: two window passes + one aggregate, all
    shuffling on user_id only. Values are summed as exact integer cents.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_us = gap_seconds * _US
    ts_us = F.unix_micros(F.col(ts_col))
    prev_us = F.lag(ts_us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > gap_us), 1
    ).otherwise(0)
    running = Window.partitionBy(user_col).orderBy(ts_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        df.withColumn("_new", new_session)
        .withColumn("session_id", F.sum("_new").over(running))
        .groupBy(F.col(user_col).alias("user_id"), "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col(value_col) * 100).cast("long")).alias(
                "sum_value_cents"
            ),
        )
    )


def sessionize_stream(
    stream: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "10 minutes",
) -> DataFrame:
    """events stream → closed sessions (user_id, session_start,
    session_end, n_events, sum_value_cents) — the SAME schema, types, and
    units as ``sessionize_batch``, so batch backfill and live stream are
    interchangeable (values summed as exact integer cents in both).

    A session closes when `gap_seconds` pass with no event for the user —
    emitted either when a later event proves the gap, or by event-time
    timeout once the watermark passes. Scale: state is per-user O(1);
    the shuffle key is user_id (natural partitioning; salt upstream if a
    single synthetic user dominates).
    """
    prepared = stream.withWatermark(ts_col, watermark).select(
        F.col(user_col).cast("long").alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_seconds),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

