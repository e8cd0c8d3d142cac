"""Pipeline DAG (SURVEY.md §2.12): etl -> build models -> quality checks.

The reference orchestrates subprocesses with Prefect
(reference orchestration/flow.py:29-32) and dbt resolves model order from
``ref()`` edges. Here the DAG is plain Python in topological order —
stg_logs -> {dim_client, dim_endpoint, fct_requests_hourly} — with every
step a lazy DataFrame; only materialization points trigger jobs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mini_log_lakehouse_spark.sources.logs import parse_logs, read_bronze, write_bronze
from mini_log_lakehouse_spark.plans.models import (
    build_dim_client,
    build_dim_endpoint,
    build_fct_requests_hourly,
    build_stg_logs,
)
from mini_log_lakehouse_spark.plans.quality import (
    assert_all_passed,
    run_quality_checks,
)


def with_retries(fn, retries: int = 2, backoff_s: float = 0.5, sleep=None):
    """Task-level retry policy (reference orchestration/flow.py:13-27
    Prefect ``@task(retries=2, retry_delay_seconds=...)``): re-run a step
    on failure with linear backoff, re-raising after the last attempt.
    Steps are idempotent by construction (overwrite writes, lazy reads),
    which is what makes blind re-execution safe — same property Prefect
    relies on."""
    import time as _time

    sleep = sleep or _time.sleep

    def wrapped(*args, **kwargs):
        last = None
        for attempt in range(retries + 1):
            try:
                return fn(*args, **kwargs)
            except Exception as exc:  # noqa: BLE001 - task boundary
                last = exc
                if attempt < retries:
                    sleep(backoff_s * (attempt + 1))
        raise last

    return wrapped


def run_pipeline(
    spark: SparkSession,
    raw_path: str,
    bronze_root: str,
    fail_on_quality: bool = True,
) -> dict[str, DataFrame]:
    """X1-X4: full batch pipeline; returns the built model DataFrames."""
    # X1: ETL (bronze). One distributed write; no shuffle.
    write_bronze(parse_logs(spark, raw_path), bronze_root)

    # X2a: models, in ref() order.
    stg = build_stg_logs(read_bronze(spark, bronze_root))
    models = {
        "stg_logs": stg,
        "dim_client": build_dim_client(stg),
        "dim_endpoint": build_dim_endpoint(stg),
        "fct_requests_hourly": build_fct_requests_hourly(stg),
    }
    # X2b: quality gates (dbt-test semantics — fail iff violating rows).
    results = run_quality_checks({n: models[n] for n in ("stg_logs", "fct_requests_hourly")})
    if fail_on_quality:
        assert_all_passed(results)
    return models


def init_lake(spark: SparkSession, bronze_root: str, lake_root: str):
    """Create the managed fct table (version 0) from current bronze."""
    from pyspark.sql import functions as F  # noqa: F401  (parity w/ incremental)

    from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable

    stg = build_stg_logs(read_bronze(spark, bronze_root))
    lake = LakehouseTable(spark, lake_root, "fct_requests_hourly")
    lake.write(build_fct_requests_hourly(stg))
    return lake


def batch_dates(bronze_root: str, batch_id: str) -> list[str | None]:
    """The ``date`` partitions under ``ingest_batch=<batch_id>`` in bronze,
    read from the directory names the write produced: Hive-escaped
    values are unescaped and ``__HIVE_DEFAULT_PARTITION__`` (a NULL
    date) maps to None, as a ``distinct().collect()`` of the column
    would give — without running a job."""
    from urllib.parse import unquote

    def value(name: str) -> str | None:
        raw = name.split("=", 1)[1]
        return None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)

    def partitions(root: str, column: str) -> list[str]:
        try:
            names = os.listdir(root)
        except FileNotFoundError:
            return []
        return [n for n in names if n.startswith(column + "=")]

    for name in partitions(bronze_root, "ingest_batch"):
        if value(name) == str(batch_id):
            batch_dir = os.path.join(bronze_root, name)
            return [value(d) for d in sorted(partitions(batch_dir, "date"))]
    return []


def merge_batch_into_lake(
    spark: SparkSession,
    batch: DataFrame,
    bronze_root: str,
    lake_root: str,
    batch_id: str = None,
):
    """Core of the incremental MERGE load, shared by the batch and
    streaming (foreachBatch) callers: load the parsed batch into its own
    bronze ``ingest_batch`` partition, recompute the hourly fact ONLY for
    the dates the batch touches — the bronze re-read filters on the
    string ``date`` partition key, so the scan is partition-pruned to
    those days regardless of table size — and MERGE the recomputed grains
    into the managed fct on (date, hour, endpoint). The touched dates
    come from the ``date=`` directories the bronze write produced
    (``batch_dates``), so the batch is parsed once and no job runs to
    find them; a batch with no parsed rows publishes nothing. The
    ``prune`` predicate keeps untouched dates out of the MERGE's key
    shuffle (the snapshot itself is republished whole).

    Recomputing whole touched days (not deltas) keeps non-mergeable
    measures exact — p95 cannot be combined incrementally, counts could.

    End-to-end replay safety needs BOTH halves: the day-grain recompute
    makes the fact merge idempotent *given correct bronze*, and the
    deterministic ``batch_id`` makes the bronze load idempotent — a
    replayed batch (foreachBatch is at-least-once: a batch whose bronze
    write landed but whose pointer flip didn't will re-run) overwrites
    its own ``ingest_batch`` partition instead of appending a duplicate,
    so the recomputed days cannot double-count. Callers that can replay
    must pass a stable id; ``None`` derives a process-unique one — fine
    for run-once orchestration, NOT for replayable callers.
    """
    import uuid

    from pyspark.sql import functions as F

    from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable

    if batch_id is None:
        batch_id = f"adhoc-{uuid.uuid4().hex[:12]}"
    write_bronze(batch, bronze_root, mode="append", batch_id=batch_id)
    lake = LakehouseTable(spark, lake_root, "fct_requests_hourly")
    touched = batch_dates(bronze_root, batch_id)
    if not touched:
        return lake
    stg = build_stg_logs(
        read_bronze(spark, bronze_root).filter(F.col("date").isin(touched))
    )
    lake.merge(
        build_fct_requests_hourly(stg),
        keys=["date", "hour", "endpoint"],
        prune=F.col("date").cast("string").isin(touched),
    )
    return lake


def incremental_update(
    spark: SparkSession, new_raw_path: str, bronze_root: str, lake_root: str
):
    """Incremental daily load with MERGE semantics (see
    merge_batch_into_lake). The batch id is the source path's digest, so
    re-running the same file load overwrites its own bronze partition —
    idempotent even without run-once orchestration."""
    import hashlib

    batch_id = "path-" + hashlib.md5(new_raw_path.encode()).hexdigest()[:12]
    return merge_batch_into_lake(
        spark, parse_logs(spark, new_raw_path), bronze_root, lake_root, batch_id=batch_id
    )
