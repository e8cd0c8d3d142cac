"""SparkSession factory and runtime tuning.

The reference delegates all execution to DuckDB/Pandas and has no engine
configuration of its own (SURVEY.md §4). Here the "engine work" is session
configuration chosen for correctness parity with a DuckDB oracle and for
100 TB scale:

- session timezone pinned to UTC — the reference parses naive timestamps
  (reference etl/ingest_logs.py:19-20 drops the TZ offset); DuckDB reads
  parquet timestamps as naive. Pinning UTC makes Spark's TimestampType
  behave identically.
- AQE on (coalesce shuffle partitions, skew-join handling) — at 100 TB the
  static shuffle-partition count is always wrong for some stage; AQE
  re-plans from runtime statistics.
- ``spark.sql.legacy.parquet.nanosAsLong`` — the events table is written
  with nanosecond timestamps, which Spark's parquet reader rejects
  (PARQUET_TYPE_ILLEGAL). Reading them as raw int64 nanos and converting
  with integer division preserves exact microsecond truncation semantics
  (matching DuckDB's TIMESTAMP_NS -> TIMESTAMP cast).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied both to sessions we build and to foreign
#: sessions handed to us (e.g. the verification driver's).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Built-in parquet pushdown/pruning — cheap insurance that scans stay
    # minimal; verified via .explain() PushedFilters/ReadSchema in tests.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Arrow transfer for the few pandas_udf / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ObjectHashAggregate (collect_list/collect_set) falls back to
    # sort-based aggregation after only 128 distinct keys per task by
    # default — built for giant groups, exactly wrong for LSH banding
    # where millions of tiny buckets each hold a handful of ids and the
    # fallback sorts the whole band table per task. The in-memory hash
    # map at this threshold is bounded by (keys × avg bucket) ≈ the
    # task's input itself, so memory risk is unchanged.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "10000000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def default_driver_memory() -> str:
    """Half the host's physical memory (MemTotal on Linux) as a JVM heap
    size: local mode runs every task inside the driver JVM, and the
    Python workers and the OS need the other half."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, total // 2 // 2**20)}m"


def get_spark(
    app_name: str = "mini-log-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this (or rely on AQE coalescing, which is on)
    to keep post-shuffle partitions in the 64-256 MiB range.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # Managed tables (bucketed warehouse layer, CTAS) land in /tmp by
        # default, never in the repo working tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/mini_log_lakehouse_warehouse"
            ),
        )
        # No console progress bars: they write \r-frames that interleave
        # with the bench harness's one-line JSON contract (the driver
        # captures a bounded stdout tail — see bench.py).
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_cpu(df, key: str):
    """Ensure at least session-parallelism partitions ahead of a
    CPU-bound per-row pass (guide §2/§4: for shingle/regex/codec work
    the budget is CORES, not bytes). Warm-mode cached tables are
    partitioned for scan cost (~1 MiB/partition — sources/registry),
    which strands heavy per-row expressions on a handful of cores at
    small corpora. Only engages when the input has FEWER partitions
    than the session's parallelism — an at-scale corpus already has
    thousands of partitions and never pays the re-shuffle. Hash on
    ``key``: deterministic under retry, no round-robin pre-sort."""
    from pyspark.sql import functions as F

    n = default_parallelism()
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, F.col(key))


def evict_stale(cache: dict, app_id: str, unpersist: bool = True) -> None:
    """Drop cache entries from sessions other than ``app_id``.

    Session-scoped memo dicts key their entries by
    ``(applicationId, ...)``; one session is live at a time in this
    codebase, so on insert each cache drops entries belonging to stopped
    sessions — a long-lived process cycling sessions otherwise
    accumulates dead DataFrame handles forever. DataFrame-valued caches
    also unpersist (best-effort: the owning context may already be
    stopped, which is exactly the case being cleaned up)."""
    for key in [k for k in cache if k[0] != app_id]:
        value = cache.pop(key)
        if unpersist:
            try:
                value.unpersist()
            except Exception:
                pass


def release_corpus_caches(spark: SparkSession) -> None:
    """Unpin every persisted artifact and clear the per-corpus memo
    dicts — for callers that switch to a DIFFERENT corpus in the same
    session (the bench's scaled legs): the previous corpus's pinned
    tables/signatures will never be read again, and at the 100× leg the
    accumulated pins from earlier legs measurably pressure storage
    memory. The memo dicts must clear together with the cache — a memo
    returning an unpersisted DataFrame would silently lose warm-mode
    caching for the rest of the session."""
    from mini_log_lakehouse_spark.operators import dedup, similarity, textstats, vocab
    from mini_log_lakehouse_spark.sources import registry

    for cache in (
        registry._TABLE_CACHE,
        registry._BUCKETED_CACHE,
        dedup._SIG_CACHE,
        dedup._CC_CACHE,
        textstats._STAGED_CACHE,
        textstats._DOC_FCT_CACHE,
        vocab._MERGES_CACHE,
        similarity._IVF_INDEX_CACHE,
    ):
        cache.clear()
    spark.catalog.clearCache()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (best effort).

    The verification driver builds its own SparkSession; every public
    entry point calls this so correctness-critical confs (UTC timezone,
    nanos-as-long) hold regardless of who built the session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — keep going; defaults are sane.
            pass
    return spark
