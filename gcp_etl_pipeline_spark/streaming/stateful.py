"""Custom stateful streaming operator: gap-based sessionizer via
``applyInPandasWithState`` (SURVEY §2.10 — no reference counterpart; the
built-in `session_window` covers the declarative case, this operator is
the template for session logic the built-in can't express, e.g. emitting
per-session payload aggregates or capping session length).

Semantics:
  - events are grouped by ``user_id``; state holds the single OPEN session
    (start, last_ts, n_events, sess_id ordinal);
  - a batch's events are sessionized in event-time order; every session
    CLOSED by a later event's gap is emitted in that batch;
  - the open session is emitted when the event-time watermark passes
    ``last_ts + gap`` (state timeout) — late data within the watermark
    re-opens nothing (closed sessions were already emitted, mirroring the
    built-in session_window's append-mode contract).

Scale: state is partitioned by user_id across executors (one small fixed
row per active user), batches stream through Arrow; the per-group Python
loop touches only that user's in-batch events.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id BIGINT, sess_id BIGINT, sess_start BIGINT, sess_end BIGINT, "
    "n_events BIGINT"
)
STATE_SCHEMA = "sess_id BIGINT, sess_start BIGINT, last_ts BIGINT, n_events BIGINT"


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Sessionize a stream of (user_id, ts, ...) with an inactivity gap.

    Returns a stream of closed sessions: (user_id, sess_id, sess_start,
    sess_end, n_events); epoch-second timestamps.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        if state.hasTimedOut:
            sess_id, sess_start, last_ts, n_events = state.get
            state.remove()
            yield pd.DataFrame(
                [[user_id, sess_id, sess_start, last_ts, n_events]],
                columns=["user_id", "sess_id", "sess_start", "sess_end", "n_events"],
            )
            return

        ts_sorted = (
            pd.concat([p["epoch"] for p in pdfs]).sort_values().to_numpy()
        )
        if state.exists:
            sess_id, sess_start, last_ts, n_events = state.get
        else:
            sess_id, sess_start, last_ts, n_events = 0, None, None, 0

        closed: list[list[int]] = []
        for t in ts_sorted:
            t = int(t)
            if last_ts is None:
                sess_start, last_ts, n_events = t, t, 1
            elif t - last_ts > gap_seconds:
                closed.append([user_id, sess_id, sess_start, last_ts, n_events])
                sess_id += 1
                sess_start, last_ts, n_events = t, t, 1
            else:
                last_ts = max(last_ts, t)
                n_events += 1

        state.update((sess_id, sess_start, last_ts, n_events))
        # close the open session when the event-time watermark passes it
        state.setTimeoutTimestamp((last_ts + gap_seconds) * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "sess_id", "sess_start", "sess_end", "n_events"],
            )

    prepared = (
        events.withWatermark("ts", "2 hours")
        .select("user_id", "ts", F.unix_timestamp("ts").alias("epoch"))
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
