"""Custom stateful streaming operator: sessionization with
applyInPandasWithState (north-star §2.9 extension — the one operator
class Structured Streaming's built-ins can't express).

Per user_id group, state carries the open session (start, end, count).
Each microbatch merges its events into the open session, emits every
session that CLOSED (a later event arrived past the gap), and keeps the
still-open session in state. With an availableNow replay, the closed
sessions are exactly the batch sessionization minus each user's final
(still-open) session — asserted in tests.

Scale: state is O(active users) × ~32 bytes; the stream shuffles once on
user_id (same key layout as the batch twin). A production deployment
adds a state timeout to flush idle sessions; kept explicit and simple
here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mini_log_lakehouse_spark.operators.sessions import SESSION_GAP_MINUTES
from mini_log_lakehouse_spark.streaming.ingest import (
    _stream_partitions,
    drain,
    read_events_stream,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

#: open session: (start_epoch_us, end_epoch_us, n_events)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


def _sessionize_group(key, pdf_iter, state: GroupState):
    (user_id,) = key
    ts_us = []
    for pdf in pdf_iter:
        ts_us.extend(pdf["ts"].astype("int64") // 1000)  # ns -> µs
    ts_us.sort()

    open_session = state.get if state.exists else None
    closed: list[tuple[int, int, int]] = []
    for t in ts_us:
        if open_session is None:
            open_session = (t, t, 1)
        elif t - open_session[1] > _GAP_US:
            closed.append(open_session)
            open_session = (t, t, 1)
        else:
            open_session = (open_session[0], max(open_session[1], t), open_session[2] + 1)
    if open_session is not None:
        state.update(open_session)

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                "n_events": [c[2] for c in closed],
            }
        )


def stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer to completion over the events replay;
    returns the closed sessions (memory sink)."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts")
    out = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    closed, _ = drain(
        out,
        "stream_closed_sessions_result",
        "append",
        _stream_partitions(sf_dir, python_stateful=True),
    )
    return closed


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract wrapper: closed sessions of the availableNow
    replay, hash-checked against a relational restatement.

    The finalization rule is deterministic, so the oracle can restate it
    (same pattern as streaming_session_window): a session CLOSES exactly
    when a later event of the same user arrives strictly more than the
    gap after the session's last event — gaps-and-islands with a strict
    ``>`` boundary (``_sessionize_group`` splits on ``t - end > gap``),
    ``session_end`` = last event (no +gap padding, unlike
    session_window), and each user's final island never closes (it is
    still open in state when the replay drains), so the oracle drops the
    max-sid island per user."""
    return stream_closed_sessions(spark, sf_dir).orderBy(
        "user_id", "session_start"
    )


QUERIES = {
    "streaming_user_sessions": streaming_user_sessions,
}
ORACLES: dict[str, str] = {
    "streaming_user_sessions": """
        WITH evs AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        ), diffs AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM evs
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), ids AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM diffs
        ), sess AS (
            SELECT user_id, sid,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM ids
            GROUP BY user_id, sid
        )
        SELECT user_id, session_start, session_end, n_events
        FROM sess
        WHERE sid < (SELECT MAX(s2.sid) FROM sess s2
                     WHERE s2.user_id = sess.user_id)
        ORDER BY user_id, session_start
    """,
}
