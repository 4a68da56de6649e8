"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (SURVEY.md §2.13 — the reference is batch-only;
this is the streaming twin of the W3 sessionize operator, same gap rule as
the batch `sessionize_events` contract query).

State model per user: (session_start_us, last_event_us, n_events).
A session CLOSES when a later event arrives more than ``gap`` after the
last one (emitted immediately), or when the event-time watermark passes
``last_event + gap`` (event-time timeout — emitted without needing another
event).  Exactly-once per session given checkpointed state.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_STATE_SCHEMA = "start_us long, last_us long, n long"


def fold_events(
    state: Tuple[Any, Any, int], ts_sorted: list, gap_us: int
) -> Tuple[list, Tuple[Any, Any, int]]:
    """Pure session-fold core (unit-testable): fold sorted event times into
    the open (start_us, last_us, n) state; returns (closed sessions, state).

    Exact interval merge: the open state and each event are intervals,
    sorted and coalesced when the gap between one's start and the previous
    one's end is ≤ gap_us — the same fixpoint batch sessionization computes
    over the union.  This covers BOTH late-event hazards: a within-watermark
    late event inside the session folds in without moving ``last_us``
    backwards (ADVICE r02), and a late event more than gap_us BEFORE the
    open session's start closes as its own earlier session instead of being
    min()-merged across a super-gap boundary (it can never extend the open
    session).  All but the newest merged interval close immediately."""
    start_us, last_us, n = state
    intervals = [(t, t, 1) for t in ts_sorted]
    if start_us is not None:
        intervals.append((start_us, last_us, n))
    if not intervals:
        return [], (start_us, last_us, n)
    intervals.sort()
    merged: list = []
    for s, e, c in intervals:
        if merged and s - merged[-1][1] <= gap_us:
            ps, pe, pc = merged[-1]
            merged[-1] = (ps, max(pe, e), pc + c)
        else:
            merged.append((s, e, c))
    return merged[:-1], merged[-1]


def sessionize_stream(
    events: DataFrame,
    gap_sec: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """(user_id, ts, …) event stream → closed-session stream.

    Late data beyond ``watermark`` is dropped by the engine; in-order and
    mildly-late events fold into the open session.  The per-group batch is
    sorted in-UDF so intra-batch order never matters."""
    gap_us = gap_sec * 1_000_000

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]

        def emit(start_us: int, end_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return

        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        ts_all: list[int] = []
        for pdf in pdfs:
            ts_all.extend(
                pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
            )
        closed, (start_us, last_us, n) = fold_events(
            (start_us, last_us, n), sorted(ts_all), gap_us
        )
        for c_start, c_last, c_n in closed:
            yield emit(c_start, c_last, c_n)
        if start_us is not None:
            state.update((start_us, last_us, n))
            # close via event-time timeout once the watermark passes the gap
            state.setTimeoutTimestamp(last_us // 1000 + gap_sec * 1000)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUTPUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
