"""Custom stateful streaming operator: gap-based session windows via
``applyInPandasWithState``.

The reference has no streaming state at all (its "state" is the
filesystem, SURVEY.md §2.5); this is the engine's demonstration of
Spark's arbitrary-stateful surface for stream processing: per-user
sessionization with a 30-minute inactivity gap, emitting one row per
CLOSED session. State = (session_start_us, last_event_us, n_events,
sum_value); a session closes when a later event arrives past the gap
or the group times out (event-time timeout driven by the watermark).

Batch twin: the `sessionize_events` query (__spark_entry__) computes
the same sessions with window functions — the pytest asserts the
stateful streaming output matches the batch computation on the same
input, which is the strongest check available for stateful code.
"""
from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_US = 1_800_000_000  # 30 min, matches the batch sessionize query

SESSION_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, total_value double"
)
STATE_SCHEMA = (
    "session_start_us long, last_us long, n_events long, total_value double"
)


def sessionize_with_state(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Emit closed sessions for one user; keep the open one in state."""
    user_id = key[0]
    out = []

    if state.hasTimedOut:
        if state.exists:
            s0, last, n, tot = state.get
            out.append((user_id, s0, last, n, round(tot, 6)))
        state.remove()
        yield pd.DataFrame(out, columns=[
            "user_id", "session_start_us", "session_end_us", "n_events",
            "total_value"])
        return

    events = pd.concat(list(pdfs), ignore_index=True)
    events = events.sort_values("us")
    if state.exists:
        s0, last, n, tot = state.get
    else:
        s0 = last = None
        n, tot = 0, 0.0

    # accumulator for watermark-allowed stragglers that fall more than
    # a gap BEFORE the open session: consecutive in-batch stragglers
    # within a gap of each other merge into ONE early session, matching
    # the batch twin (events arrive sorted within the batch)
    early = None  # (start, end, n, tot)

    def _flush_early() -> None:
        nonlocal early
        if early is not None:
            # rounded at EMIT (state keeps the exact running sum):
            # unrounded incremental float sums can diverge from the
            # batch twin's partition-ordered sum under cancellation —
            # the repo's float rule is bounded aggregation + rounding
            out.append((user_id, early[0], early[1], early[2],
                        round(early[3], 6)))
            early = None

    def _resolve_early() -> None:
        """Events arrive sorted, so extensions that move the open
        session's start BACKWARDS all happen after the stragglers were
        classified — re-check the pending straggler against the FINAL
        s0: within a gap it belongs to the open session (the batch
        twin's global sort would merge them), else it is its own
        closed session."""
        nonlocal early, s0, n, tot
        if early is None:
            return
        if s0 is not None and s0 - early[1] < GAP_US:
            s0 = early[0]
            n += early[2]
            tot += early[3]
            early = None
        else:
            _flush_early()

    for us, value in zip(events["us"], events["value"]):
        us = int(us)
        if s0 is None:
            s0, last, n, tot = us, us, 1, float(value)
        elif us - last >= GAP_US:
            _resolve_early()  # s0 is final for the closing session
            out.append((user_id, s0, last, n, round(tot, 6)))
            s0, last, n, tot = us, us, 1, float(value)
        elif s0 - us >= GAP_US:
            # watermark-allowed (1h) but more than a gap (30min) before
            # the open session's start: a separate, already-closed
            # earlier session. Merge with a pending in-batch straggler
            # when within its gap; a straggler in a LATER micro-batch
            # can no longer join it (accepted approximation; the 1h
            # watermark bounds how far back this can occur).
            if early is not None and us - early[1] < GAP_US:
                early = (early[0], us, early[2] + 1,
                         early[3] + float(value))
            else:
                _flush_early()
                early = (us, us, 1, float(value))
        else:
            # a late out-of-order event (allowed by the watermark, within
            # the gap) must NOT rewind `last` — the next gap is measured
            # from the latest event seen; it may extend the session start
            # backwards (batch twin sorts globally by time)
            s0, last = min(s0, us), max(last, us)
            n, tot = n + 1, tot + float(value)

    _resolve_early()
    state.update((s0, last, n, tot))
    # close the open session if no event arrives within the gap
    state.setTimeoutTimestamp(last // 1000 + GAP_US // 1000)
    yield pd.DataFrame(out, columns=[
        "user_id", "session_start_us", "session_end_us", "n_events",
        "total_value"])


def stateful_sessions(events_stream: DataFrame) -> DataFrame:
    """events(user_id, ts, value) stream -> closed-session stream."""
    with_us = (
        events_stream
        .withColumn("event_ts", F.col("ts").cast("timestamp"))
        .withWatermark("event_ts", "1 hour")
        .withColumn("us", F.unix_micros(F.col("event_ts")))
        .select("user_id", "event_ts", "us", "value")
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        sessionize_with_state,
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
