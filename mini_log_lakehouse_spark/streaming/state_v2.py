"""Per-user lifetime counters as a stateful streaming operator, written
for Spark 4's transformWithStateInPandas (the state-v2 successor API to
applyInPandasWithState: an object-oriented StatefulProcessor with NAMED
state primitives — value/list/map state and timers — SPARK-49564).

Environmental gate, same pattern as the Delta jars (plans/lakehouse.py)
and the media codecs (operators/multimodal.py): state-v2's Python
worker needs the ``protobuf`` package for its driver↔worker control
channel, which this container does not ship. ``state_v2_available()``
probes for it; when absent the SAME fold runs through
applyInPandasWithState — semantics are identical (asserted by the
equivalence test when both paths are runnable), so the driver query is
oracle-checked on every environment and the preferred implementation
switches on automatically where protobuf exists.

Operator semantics: each microbatch folds its rows into per-user state
(n_events, n_errors, last event time) and emits the user's CUMULATIVE
totals as of that batch — the "running profile" kept next to a stream
by feature stores, abuse counters, and rate limiters. State is
O(users) × 24 bytes, partitioned by the group key; each batch touches
only the keys present in it. On the single-file availableNow replay
the emitted rows ARE the per-user totals, which makes the operator
oracle-checkable against plain SQL; multi-batch accumulation is pinned
by a two-file replay test (tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_log_lakehouse_spark.streaming.ingest import (
    _stream_partitions,
    drain,
    read_events_stream,
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def state_v2_available() -> bool:
    """True when transformWithStateInPandas can actually run: its
    Python control channel imports google.protobuf at worker startup."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _fold_batch(pdf: pd.DataFrame, n_events: int, n_errors: int, last_us: int):
    if len(pdf) == 0:  # empty chunk: max() would be NaN -> int() raises
        return n_events, n_errors, last_us
    n_events += len(pdf)
    n_errors += int((pdf["event_type"] == "error").sum())
    # normalize to µs via an explicit unit cast — Arrow can hand pandas a
    # µs-resolution datetime64, where a blind astype('int64') // 1000
    # would shift last_ts by 1000×. The cast runs on the numpy array,
    # not the Series: pandas 1.x raises on non-ns Series astype while
    # numpy converts any datetime64 unit, so this stays portable.
    batch_max = int(
        pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64").max()
    )
    return n_events, n_errors, max(last_us, batch_max)


def _emit(user_id, n_events: int, n_errors: int, last_us: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": pd.Series([user_id], dtype="int64"),
            "n_events": pd.Series([n_events], dtype="int64"),
            "n_errors": pd.Series([n_errors], dtype="int64"),
            "last_ts": pd.to_datetime([last_us * 1000]),  # µs -> ns
        }
    )


def _make_processor():
    """Build the StatefulProcessor lazily — the import itself is safe,
    but constructing it is only meaningful where state-v2 can run."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotalsProcessor(StatefulProcessor):
        """ValueState-backed running per-user counters (state-v2)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            (user_id,) = key
            n_events, n_errors, last_us = 0, 0, 0
            if self._totals.exists():
                n_events, n_errors, last_us = self._totals.get()
            for pdf in rows:
                n_events, n_errors, last_us = _fold_batch(
                    pdf, n_events, n_errors, last_us
                )
            self._totals.update((n_events, n_errors, last_us))
            yield _emit(user_id, n_events, n_errors, last_us)

        def close(self) -> None:
            pass

    return UserTotalsProcessor()


def _totals_v1(key, pdf_iter, state):
    """applyInPandasWithState twin: the identical fold over the legacy
    single-tuple GroupState API."""
    (user_id,) = key
    n_events, n_errors, last_us = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        n_events, n_errors, last_us = _fold_batch(pdf, n_events, n_errors, last_us)
    state.update((n_events, n_errors, last_us))
    yield _emit(user_id, n_events, n_errors, last_us)


def stream_user_totals(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Run the counters to completion over an availableNow replay and
    return the emitted cumulative rows (memory sink). Uses state-v2
    when the environment supports it, the v1 API otherwise."""
    ev = (
        source if source is not None else read_events_stream(spark, sf_dir)
    ).select("user_id", "event_type", "ts")
    # nulls are excluded at the SOURCE: a (None,) group key would reach
    # the fold and crash the int64 emit — the query must skip the rows,
    # not die on them (same input-side filter as events_cms_user_counts)
    ev = ev.filter(F.col("user_id").isNotNull())
    grouped = ev.groupBy("user_id")
    if state_v2_available():  # pragma: no cover - no protobuf in container
        out = grouped.transformWithStateInPandas(
            _make_processor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        out = grouped.applyInPandasWithState(
            _totals_v1,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    # a caller-provided ``source`` stream has no local path to probe:
    # it keeps the session's partition count
    totals, _ = drain(
        out,
        "stream_user_totals_result",
        "append",
        _stream_partitions(sf_dir, python_stateful=True) if source is None else None,
    )
    return totals


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: per-user lifetime counters via keyed streaming
    state. The single-file replay makes the emitted rows the per-user
    totals, so the oracle is a plain aggregate; multi-batch
    accumulation is covered by the two-file replay test."""
    return stream_user_totals(spark, sf_dir).orderBy("user_id")


QUERIES = {
    "streaming_user_totals": streaming_user_totals,
}

ORACLES: dict[str, str] = {
    "streaming_user_totals": """
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors,
               MAX(CAST(ts AS TIMESTAMP)) AS last_ts
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY 1
        ORDER BY 1
    """,
}
