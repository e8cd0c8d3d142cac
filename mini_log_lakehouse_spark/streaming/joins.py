"""Stream-stream interval join (SURVEY.md §2.9 extension): correlate
each error event with the same user's follow-up actions within a time
horizon — the streaming funnel/attribution shape the reference's batch
dashboard can only approximate by re-running a day-grain join
(reference dbt fct model; it has no streaming surface at all).

Why this operator is its own class: BOTH inputs are unbounded, so the
join must buffer state on each side, and the ONLY thing that lets Spark
evict that state is the pair (watermark, time-range join condition) —
the range `err_ts < act_ts <= err_ts + horizon` tells the engine an
error row can stop waiting for matches once the action watermark passes
`err_ts + horizon`, and vice versa. Without the range bound the state
grows without limit; with it, state is O(events within one horizon per
key), which at 100 TB/day is bounded by the horizon, not the history.

Inner joins in append mode emit matches immediately (no watermark hold —
that's only needed for outer sides), so the availableNow replay drains
to exactly the batch join's result, which is what the DuckDB oracle
restates relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.streaming.ingest import (
    _stream_partitions,
    drain,
    read_events_stream,
)


def stream_error_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the error stream to the same user's subsequent non-error
    events within 10 minutes, drain the pair table, and return per
    follow-up type how many (error → action) pairs and how many distinct
    affected users the join produced. The rollup keeps the compared
    output small and deterministic; the streaming join
    under it is the operator being verified (oracle: the equivalent
    batch self-join in SQL, whose literal INTERVAL 10 MINUTE fixes the
    horizon).

    Two filtered views of ONE replayed source stream — Spark treats them
    as independent stream sides with their own watermarks and buffers;
    the time-range conjunct in the join condition is what bounds both
    state stores (see module docstring), which stream-stream joins keep
    FOUR of per shuffle partition (see ingest._STREAM_STATE_TARGET_BYTES)."""
    ev = read_events_stream(spark, sf_dir)
    errs = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "1 hour")
    )
    acts = (
        ev.filter(F.col("event_type") != "error")
        .select(
            F.col("user_id").alias("act_user"),
            F.col("event_type").alias("followup_type"),
            F.col("ts").alias("act_ts"),
        )
        .withWatermark("act_ts", "1 hour")
    )
    joined = errs.join(
        acts,
        (F.col("user_id") == F.col("act_user"))
        & (F.col("act_ts") > F.col("err_ts"))
        & (F.col("act_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 minutes")),
        "inner",
    ).select("user_id", "err_ts", "followup_type", "act_ts")
    pairs, _ = drain(
        joined, "stream_error_followups_result", "append", _stream_partitions(sf_dir)
    )
    return (
        pairs.groupBy("followup_type")
        .agg(
            F.count(F.lit(1)).alias("pairs"),
            F.count_distinct("user_id").alias("users"),
        )
        .orderBy("followup_type")
    )


def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join (§2.9 extension): enrich a stream with a batch
    dimension — the third join class after stream-stream and batch-batch.
    The static side needs no watermark and holds no state; Spark
    re-resolves it per microbatch (which is how slowly-changing dims
    stay fresh in production). Here the dimension is the per-user
    lifetime event count computed in batch; the stream's error events
    join to it and roll up error counts by user activity tier.

    State at 100 TB: NONE on the join (static side is just a scan each
    microbatch — broadcast when small); only the final rollup keeps
    (tier) rows."""
    from mini_log_lakehouse_spark.sources.registry import load_table

    per_user = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"))
    )
    totals = per_user.agg(
        F.sum("lifetime_events").alias("_total"), F.count(F.lit(1)).alias("_users")
    )
    # tiers relative to the mean (±10%), compared by exact integer
    # cross-multiplication so every scale factor populates all three and
    # no float average can flip a boundary user between engines.
    dim = per_user.crossJoin(F.broadcast(totals)).select(
        F.col("user_id").alias("dim_user"),
        F.when(
            F.col("lifetime_events") * F.col("_users") * 10 >= F.col("_total") * 11,
            "heavy",
        )
        .when(
            F.col("lifetime_events") * F.col("_users") * 10 <= F.col("_total") * 9,
            "light",
        )
        .otherwise("regular")
        .alias("tier"),
    )
    errs = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "error")
    joined = errs.join(F.broadcast(dim), F.col("user_id") == F.col("dim_user"))
    # COUNT(DISTINCT) is not a streaming aggregate (state would be
    # unbounded per group); both measures here are mergeable counts.
    agg = joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("errors"),
        F.sum(F.when(F.col("value") >= 30, 1).otherwise(0))
        .cast("long")
        .alias("high_value_errors"),
    )
    out, _ = drain(
        agg, "stream_static_enrichment_result", "complete", _stream_partitions(sf_dir)
    )
    return out.orderBy("tier")


ORACLES: dict[str, str] = {
    "streaming_static_enrichment": """
        WITH per_user AS (
            SELECT user_id, COUNT(*) AS lifetime_events
            FROM events GROUP BY 1
        ), totals AS (
            SELECT SUM(lifetime_events) AS total, COUNT(*) AS users
            FROM per_user
        ), dim AS (
            SELECT user_id AS dim_user,
                   CASE WHEN lifetime_events * users * 10 >= total * 11 THEN 'heavy'
                        WHEN lifetime_events * users * 10 <= total * 9 THEN 'light'
                        ELSE 'regular' END AS tier
            FROM per_user, totals
        )
        SELECT d.tier, COUNT(*) AS errors,
               CAST(SUM(CASE WHEN e.value >= 30 THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_value_errors
        FROM events e JOIN dim d ON e.user_id = d.dim_user
        WHERE e.event_type = 'error'
        GROUP BY 1
        ORDER BY 1
    """,
    "streaming_error_followups": """
        SELECT a.event_type AS followup_type,
               COUNT(*) AS pairs,
               COUNT(DISTINCT e.user_id) AS users
        FROM events e
        JOIN events a
          ON a.user_id = e.user_id
         AND CAST(a.ts AS TIMESTAMP) > CAST(e.ts AS TIMESTAMP)
         AND CAST(a.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
        WHERE e.event_type = 'error'
          AND a.event_type <> 'error'
        GROUP BY 1
        ORDER BY 1
    """,
}

QUERIES = {
    "streaming_error_followups": stream_error_followups,
    "streaming_static_enrichment": streaming_static_enrichment,
}
