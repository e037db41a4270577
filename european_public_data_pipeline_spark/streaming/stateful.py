"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.11 — the extension surface for operators Spark's built-in
windows can't express).

``running_user_totals`` keeps one state row per user — cumulative event
count, cumulative value, last-seen timestamp — and emits the updated totals
every micro-batch. This is the canonical shape for custom per-key stream
state (fraud counters, rate limiters, feature freshness) that tumbling /
session windows cannot express because state must never close.

Scale notes: state is keyed by user_id and lives in the executor state
store; the only shuffle is the groupBy on the key. Batches arrive as Arrow
pandas frames (vectorized), not per-row Python. With a watermark +
``GroupStateTimeout`` idle keys can be evicted to bound state; totals here
are deliberately unbounded (a design choice, not an accident).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), True),
        T.StructField("total_value", T.DoubleType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("total_value", T.DoubleType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
    ]
)


def _update_user_totals(
    key: tuple[Any, ...], pdfs: Iterable["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    (user_id,) = key
    n_events, total_value, last_ts = (
        state.get if state.exists else (0, 0.0, None)
    )
    for pdf in pdfs:
        n_events += len(pdf)
        total_value += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        if last_ts is None or (batch_max is not pd.NaT and batch_max > last_ts):
            last_ts = batch_max
    state.update((n_events, total_value, last_ts))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n_events],
            "total_value": [total_value],
            "last_ts": [last_ts],
        }
    )


def running_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user cumulative totals as a custom stateful operator.

    Works on a streaming DataFrame (state persists across micro-batches via
    the state store) and degenerates to a single-batch groupApply on a batch
    DataFrame's grouped data in tests.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming TWAP — q89's batch twin as per-key stream state.

# NOTE: round 5 added ``last_eid`` to the state tuple (the (ts, event_id)
# frontier tie-break). The state schema is part of a checkpoint's
# identity: a streaming_twap checkpoint created BEFORE this change cannot
# resume against it — start the query with a fresh checkpoint location
# (the batch twin q89 backfills history).
TWAP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType(), True),
        T.StructField("last_eid", T.LongType(), True),
        T.StructField("last_v_c", T.LongType(), True),
        T.StructField("n_gaps", T.LongType(), True),
        T.StructField("held_us", T.LongType(), True),
        T.StructField("vw_str", T.StringType(), True),  # exact int, unbounded
        T.StructField("n_late", T.LongType(), True),
    ]
)

TWAP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("held_us", T.LongType(), True),
        T.StructField("twap", T.DoubleType(), True),
        T.StructField("n_late", T.LongType(), True),
    ]
)


def _update_twap(
    key: tuple[Any, ...], pdfs: Iterable["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    (user_id,) = key
    if state.exists:
        last_us, last_eid, last_vc, n_gaps, held, vw_s, late = state.get
        vw = int(vw_s)
    else:
        last_us, last_eid, last_vc, n_gaps, held, vw, late = (
            None, None, None, 0, 0, 0, 0,
        )

    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        batch = pd.concat(frames).sort_values(["ts_us", "event_id"])
        for ts_us, eid, v_c in zip(batch["ts_us"], batch["event_id"], batch["v_c"]):
            ts_us = int(ts_us)
            eid = int(eid)
            v_c = int(v_c)
            # The frontier is the (ts, event_id) pair — the batch twin's
            # ORDER BY ts, event_id tie-break. A tied timestamp whose
            # event_id orders BEFORE the frontier event belongs behind it
            # (its zero-width interval is already closed); treating it as
            # in-order would wrongly replace the held value.
            if last_us is not None and (ts_us, eid) <= (last_us, last_eid):
                late += 1  # arrived behind the frontier: gap already closed
                continue
            if last_us is not None:
                w = ts_us - last_us
                held += w
                vw += last_vc * w
                n_gaps += 1
            last_us, last_eid, last_vc = ts_us, eid, v_c
    state.update((last_us, last_eid, last_vc, n_gaps, held, str(vw), late))
    twap = (float(vw) / float(held) / 100.0) if held > 0 else None
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n_gaps],
            "held_us": [held],
            "twap": [twap],
            "n_late": [late],
        }
    )


def streaming_twap(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user time-weighted average as per-key stream state (q89's batch
    twin — PLANS.md documents the batch shape): each arriving event closes
    the previous event's hold interval, so the state is O(1) per key —
    frontier timestamp, frontier value, and three exact accumulators. The
    value x duration dot product is an arbitrary-precision integer carried
    as a string state column (the state store has no DECIMAL(38,0)), so
    the streaming TWAP is bit-equal to the batch aggregate, not a float
    approximation. Rows behind a key's frontier cannot reopen a closed
    interval — they are dropped and COUNTED (``n_late``), the watermark
    bounds how long that can happen. Heavy math stays JVM-side: the
    micro-batch reaches Python as (ts_us, centi-value) int64 pairs.
    """
    from pyspark.sql import functions as F

    prepared = events.withWatermark("ts", watermark).select(
        "ts",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
        F.col("event_id"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_twap,
        outputStructType=TWAP_OUTPUT_SCHEMA,
        stateStructType=TWAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
