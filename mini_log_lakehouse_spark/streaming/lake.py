"""Streaming lakehouse maintenance: foreachBatch MERGE of the hourly
fact, and watermarked streaming deduplication.

``foreachBatch`` is the Structured Streaming escape hatch for sinks with
their own transactional semantics — but it is AT-LEAST-ONCE: the source
checkpoint prevents re-reading committed files, yet a batch interrupted
mid-flight (bronze write landed, checkpoint commit didn't) re-runs with
the same batch id on restart. End-to-end correctness therefore comes
from idempotence, not delivery guarantees: the bronze load keys each
microbatch to an ``ingest_batch=stream-<batch_id>`` partition that a
replay overwrites in place, and the MERGE re-derives whole day grains
from bronze (plans/pipeline.merge_batch_into_lake) — so the managed
fact converges to the same state no matter how many times a batch
retries.

``stream_dedup_events`` is the streaming half of the dedup surface
(SURVEY north star): ``dropDuplicatesWithinWatermark`` keeps per-key
state only inside the watermark horizon — bounded state at any scale,
unlike a global ``dropDuplicates`` on a stream, whose state grows
forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.session import tune
from mini_log_lakehouse_spark.sources.logs import parse_lines
from mini_log_lakehouse_spark.streaming.ingest import drain, events_stream


def stream_fct_maintenance(
    spark: SparkSession,
    raw_dir: str,
    bronze_root: str,
    lake_root: str,
    checkpoint: str,
) -> None:
    """Drain new log files and MERGE each microbatch's touched days into
    the managed fct table (availableNow = run-to-completion)."""
    tune(spark)
    from mini_log_lakehouse_spark.plans.pipeline import merge_batch_into_lake

    lines = spark.readStream.text(raw_dir).filter(F.trim("value") != "")

    def upsert(batch_lines: DataFrame, batch_id: int) -> None:
        # The checkpointed batch id is stable across replays of the same
        # microbatch — it IS the idempotence key for the bronze load.
        merge_batch_into_lake(
            spark,
            parse_lines(batch_lines),
            bronze_root,
            lake_root,
            batch_id=f"stream-{batch_id}",
        )

    (
        lines.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_dedup_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Exactly-once-per-``event_id`` event stream within a 2-hour
    watermark horizon: duplicates arriving within 2 hours of each other
    are dropped; state for ids older than the horizon is evicted. Runs to
    completion into a memory sink and returns the deduped table."""
    tune(spark)
    ev = events_stream(spark, events_dir)
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out, _ = drain(deduped, "stream_dedup_events_result", "append")
    return out
