"""Custom stateful streaming operator: gap-based sessionization.

The batch shell expresses 30-minute-gap sessions with lag + cumulative
windows (`queries.relational._q_events_sessionized`); on an unbounded
stream the same semantics need per-key state that survives across
micro-batches — exactly what `applyInPandasWithState` provides
(Arrow-batched grouped state, no per-row Python).

Per user: events extend the open session while gaps stay ≤ gap_seconds;
a larger gap closes the session (emitted downstream) and opens a new
one. The open session is carried in the state store between triggers
and keeps absorbing events on later micro-batches/restarts — the
streaming twin of the batch query.

Unbounded-stream guarantees (vs the batch twin):
  * state can be BOUNDED, two timeout flavors:
      - `timeout_factor=N` arms a PROCESSING-TIME timeout of
        `N × gap_seconds` for idle users — right for continuous
        `processingTime` deployments where wall clock tracks event
        time.  OPT-IN because ProcessingTimeTimeout is incompatible
        with Trigger.AvailableNow (Spark keeps scheduling no-data
        batches until pending timeouts fire, so the query never
        terminates);
      - `event_time_timeout=True` arms an EVENT-TIME timeout at
        `session_end + gap` against the stream's watermark — the
        REPLAY-SAFE variant: re-running a historical stream closes
        sessions exactly where the batch twin does, because eviction
        follows event time, not the wall clock of the replay.  Works
        under availableNow (watermark advances with the data and all
        pending timeouts fire before termination).
  * cross-micro-batch ordering: events are sorted within a micro-batch,
    but an event arriving in a LATER micro-batch with ts < the stored
    last_us would silently extend or mis-split the open session.  Such
    late events are DROPPED (the operator's documented watermark
    analog; in event-time mode the real watermark additionally drops
    them before the operator).  Run the batch query for exact
    retroactive sessionization.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_DDL = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, session_value double"
)
# open-session carry: epoch micros keep the state schema primitive
SESSION_STATE_DDL = "start_us bigint, last_us bigint, n int, val double"

_US = 1_000_000


def _to_us(ts: Any) -> int:
    return int(pd.Timestamp(ts).value // 1_000)


def make_sessionizer(
    gap_seconds: int = 1800,
    timeout_factor: int | None = None,
    event_time_timeout: bool = False,
):
    if timeout_factor and event_time_timeout:
        raise ValueError(
            "timeout_factor (processing-time) and event_time_timeout are "
            "mutually exclusive"
        )
    gap_us = gap_seconds * _US
    gap_ms = gap_seconds * 1000
    timeout_ms = gap_seconds * (timeout_factor or 0) * 1000

    def sessionize(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])

        def session_row(start_us: int, last_us: int, n: int, val: float) -> dict:
            return {
                "user_id": user_id,
                "session_start": pd.Timestamp(start_us * 1_000),
                "session_end": pd.Timestamp(last_us * 1_000),
                "n_events": n,
                "session_value": round(val, 2),
            }

        if state.hasTimedOut:
            # idle user: close + emit the open session, evict the state
            # row — the state store stays bounded by ACTIVE users
            if state.exists:
                start_us, last_us, n, val = state.get
                state.remove()
                if n:
                    yield pd.DataFrame([session_row(start_us, last_us, n, val)])
            return

        batch = pd.concat(list(pdfs))
        batch = batch.sort_values(["ts", "event_id"], kind="mergesort")

        if state.exists:
            start_us, last_us, n, val = state.get
        else:
            start_us = last_us = -1
            n = 0
            val = 0.0

        closed: list[dict] = []
        for ts, value in zip(batch["ts"], batch["value"]):
            e_us = _to_us(ts)
            if n and e_us < last_us:
                # late arrival from an earlier micro-batch: extending the
                # session backwards would diverge from the batch twin —
                # drop (documented watermark analog)
                continue
            if n and e_us - last_us > gap_us:
                closed.append(session_row(start_us, last_us, n, val))
                start_us, n, val = e_us, 0, 0.0
            if not n:
                start_us = e_us
            last_us = e_us
            n += 1
            val += float(value)

        state.update((start_us, last_us, n, val))
        if timeout_factor:
            state.setTimeoutDuration(timeout_ms)
        elif event_time_timeout:
            # close the open session when the WATERMARK passes its gap
            # boundary — replay-safe eviction keyed to event time.  The
            # timestamp must sit above the current watermark (Spark
            # rejects timeouts already in the past).
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_us // 1000 + gap_ms, wm_ms + 1))
        if closed:
            yield pd.DataFrame(closed)

    return sessionize


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    timeout_factor: int | None = None,
    event_time_timeout: bool = False,
    watermark_delay: str | None = None,
) -> DataFrame:
    """events stream (event_id, ts, user_id, value, ...) -> closed
    sessions.  Grouped Arrow state; append output mode.

    `timeout_factor=N` (continuous deployments only — see module
    docstring) closes out and evicts idle users after N × gap_seconds
    of processing time, bounding the state store by ACTIVE users.

    `event_time_timeout=True` (replay-safe variant) closes idle
    sessions when the stream's WATERMARK passes session_end + gap: a
    replayed historical stream emits exactly the batch twin's sessions,
    including each user's final one once the watermark clears it.
    Requires an event-time watermark; `watermark_delay` (default
    "0 seconds") is applied here on `ts`."""
    selected = events.select("event_id", "ts", "user_id", "value")
    timeout_conf = GroupStateTimeout.NoTimeout
    if event_time_timeout:
        selected = selected.withWatermark(
            "ts", watermark_delay or "0 seconds"
        )
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    elif timeout_factor:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout
    return (
        selected.groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds, timeout_factor, event_time_timeout),
            outputStructType=SESSION_OUT_DDL,
            stateStructType=SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=timeout_conf,
        )
    )
