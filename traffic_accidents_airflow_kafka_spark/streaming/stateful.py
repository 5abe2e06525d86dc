"""Custom stateful streaming operator: user sessionization
(SURVEY.md §2.8 — the ``applyInPandasWithState`` extension path for
semantics the built-in windowed aggregates can't express).

A session = a user's consecutive events separated by gaps smaller than the
timeout. Unlike tumbling/sliding windows (fixed boundaries), session
boundaries depend on the data itself, so the operator keeps per-key state
across micro-batches:

- **State** per user: current session start, last event time, event count,
  value sum.
- **Emission**: a session row is emitted when the gap closes it (a later
  event arrives beyond the timeout) or when the watermark passes
  ``last_ts + timeout`` (state timeout → the session can never be
  extended; safe to finalize and evict).

Scale: state is partitioned by user across executors (the groupBy key);
the watermark bounds state size — users silent past the timeout are
evicted every batch. This is the standard production shape for
sessionization at 100 TB/day event volumes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: The Python-side exchange schema: epoch-µs LONGS, not timestamps.
#: Timestamps never cross the Arrow boundary in either direction — the
#: state serializer's timestamp rescaling is version-sensitive (observed:
#: µs-count values labeled datetime64[ns] in the grouped frames, 1000×
#: off), while int64 µs is unambiguous on every pyspark/pyarrow combo.
#: ``sessionize`` converts JVM-side with unix_micros / timestamp_micros.
_SESSION_US_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", IntegerType()),
        StructField("sum_value", DoubleType()),
        StructField("closed_by", StringType()),  # 'gap' | 'timeout'
    ]
)

#: (session_start_epoch_us, last_ts_epoch_us, n_events, sum_value)
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", IntegerType()),
        StructField("total", DoubleType()),
    ]
)

_US = 1_000_000


def segment_batch(
    ts: "np.ndarray",
    vals: "np.ndarray",
    carried: tuple[int, int, int, float] | None,
    gap_us: int,
) -> tuple[list[tuple[int, int, int, float]], tuple[int, int, int, float]]:
    """Pure vectorized core of the sessionizer: split one sorted batch
    into gap-delimited sessions, merging/closing a carried open session.

    Returns (closed_sessions, open_session) where each session is
    (start_us, end_us, n_events, sum_value). Exact replay of the
    sequential scan: the running ``last = max(last, t)`` is a prefix max
    seeded with the carried last-event time, so a session break at event
    i is precisely ``ts[i] - cummax[i-1] > gap_us`` — late events (below
    the running max) can never open a session.

    Module-level (not a closure) so the equivalence test can drive it
    against a reference loop without the streaming machinery.
    """
    if carried is not None:
        start_us, last_us, n0, tot0 = carried
        seed = last_us
    else:
        start_us, last_us, n0, tot0 = int(ts[0]), int(ts[0]) - 1, 0, 0.0
        seed = int(ts[0])
    cummax = np.maximum.accumulate(np.concatenate(([seed], ts)))
    breaks = (ts - cummax[:-1]) > gap_us  # event i starts a new session

    inner = np.nonzero(breaks[1:])[0] + 1
    seg_starts = np.concatenate(([0], inner))
    seg_ends = np.concatenate((inner - 1, [len(ts) - 1]))
    seg_n = (seg_ends - seg_starts + 1).astype("int64")
    seg_tot = np.add.reduceat(vals, seg_starts)
    seg_start_ts = ts[seg_starts].copy()
    seg_end_ts = cummax[1:][seg_ends]  # prefix max through segment end

    carried_closed = bool(carried is not None and breaks[0])
    if carried is not None and not carried_closed:
        # The first batch segment extends the carried open session.
        seg_start_ts[0] = start_us
        seg_n[0] += n0
        seg_tot[0] += tot0

    closed: list[tuple[int, int, int, float]] = []
    if carried_closed:
        closed.append((start_us, last_us, n0, tot0))
    for j in range(len(seg_starts) - 1):
        closed.append(
            (
                int(seg_start_ts[j]),
                int(seg_end_ts[j]),
                int(seg_n[j]),
                float(seg_tot[j]),
            )
        )
    open_session = (
        int(seg_start_ts[-1]),
        int(seg_end_ts[-1]),
        int(seg_n[-1]),
        float(seg_tot[-1]),
    )
    return closed, open_session


def session_frame(user_id, sessions) -> pd.DataFrame:
    """One output frame per group call in the _SESSION_US_SCHEMA layout.
    ``sessions``: (start_us, end_us, n_events, sum_value, closed_by)."""
    return pd.DataFrame(
        {
            "user_id": user_id,
            "start_us": [s[0] for s in sessions],
            "end_us": [s[1] for s in sessions],
            "n_events": [s[2] for s in sessions],
            "sum_value": [s[3] for s in sessions],
            "closed_by": [s[4] for s in sessions],
        }
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Group a (user_id, ts, value) stream into gap-delimited sessions.

    Works on both a streaming DataFrame (true incremental state across
    micro-batches, event-time timeout driven by the watermark — set one
    upstream) and a batch DataFrame in tests via the same grouped-map
    contract.
    """
    gap_us = gap_seconds * _US

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield session_frame(user_id, [(start_us, last_us, n, total, "timeout")])
            return

        # Drop empty frames before concat: pandas deprecated concatenating
        # empty/all-NA frames (FutureWarning now, error later), and Spark
        # can hand a group an empty trailing batch frame.
        frames = [f for f in pdfs if len(f)]
        if not frames:
            # Nothing new for this group this batch; keep the existing
            # timeout armed so the open session still finalizes.
            if state.exists:
                last = state.get[1]
                state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
            return
        rows = pd.concat(frames) if len(frames) > 1 else frames[0]
        ts = rows["ts_us"].to_numpy(dtype="int64")  # epoch µs (JVM unix_micros)
        vals = rows["value"].to_numpy(dtype="float64")
        order = np.argsort(ts, kind="stable")
        ts, vals = ts[order], vals[order]

        # Vectorized scan (segment_batch): cost parity at bench group
        # sizes — the streaming machinery dominates there — but a
        # backfill handing one group a multi-million-event history pays
        # per-event interpreter cost in a loop and O(1) numpy calls here.
        carried = tuple(state.get) if state.exists else None
        closed, open_sess = segment_batch(ts, vals, carried, gap_us)
        state.update(open_sess)
        # Event-time timeout: finalize when the watermark passes the gap.
        state.setTimeoutTimestamp(open_sess[1] // 1000 + gap_seconds * 1000)
        if closed:
            # ONE frame per group call, not one per session: a long-history
            # user can close thousands of sessions in a single backfill
            # batch, and per-session single-row frames dominate runtime
            # (measured ~8× on the bench replay).
            yield session_frame(
                user_id, [(s, e, n, t, "gap") for s, e, n, t in closed]
            )

    # The watermarked event-time column ('ts') stays in the grouped input
    # so the stateful operator tracks the watermark; the UDF itself reads
    # only the long µs twin.
    return (
        events.select(
            "user_id", "ts", F.unix_micros("ts").alias("ts_us"), "value"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_US_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            "user_id",
            F.timestamp_micros("start_us").alias("session_start"),
            F.timestamp_micros("end_us").alias("session_end"),
            "n_events",
            "sum_value",
            "closed_by",
        )
    )


def anomaly_flags(
    events: DataFrame, threshold_mult: int = 3, min_prior: int = 3
) -> DataFrame:
    """Per-key running-mean anomaly detection — the third stateful
    pattern alongside sessionization: flag an event when its value
    exceeds ``threshold_mult`` × the running mean of the key's PRIOR
    events (at least ``min_prior`` of them). The online-monitoring /
    fraud-screening shape: tiny per-key state (count + sum), flags
    emitted in-stream.

    Exactness contract: values are carried as integer CENTS (the
    decimal(18,2) grid × 100), so state updates and the flag comparison
    ``cents × prior_n > mult × prior_sum`` are pure integer arithmetic —
    bit-identical in any engine and independent of accumulation order.
    Events are processed in (ts, event_id) order within each batch;
    across batches the state folds in arrival order, which matches event
    order under the per-key ordered-delivery guarantee Kafka partitions
    provide (the same assumption every online detector makes).

    Input: columns ``user_id``, ``ts``, ``event_id``, ``cents`` (long).
    Output: one row per event — user_id, event_id, is_anomaly.
    """
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", LongType())]
    )

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:  # NoTimeout configured; defensive only
            state.remove()
            return
        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        rows = pd.concat(frames) if len(frames) > 1 else frames[0]
        rows = rows.sort_values(["ts", "event_id"], kind="stable")
        cents = rows["cents"].to_numpy(dtype="int64")
        n, s = state.get if state.exists else (0, 0)
        flags = np.empty(len(cents), dtype=bool)
        for i, c in enumerate(cents):
            flags[i] = n >= min_prior and c * n > threshold_mult * s
            n += 1
            s += int(c)
        state.update((int(n), int(s)))
        yield pd.DataFrame(
            {
                "user_id": np.int64(user_id),
                "event_id": rows["event_id"].to_numpy(dtype="int64"),
                "is_anomaly": flags,
            }
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
