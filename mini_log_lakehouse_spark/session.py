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

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

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


#: Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``, an LRU of
#: compiled Janino classes; Spark's default is 100) sized to the program's
#: working set, so a repeated query shape reuses its bytecode instead of
#: recompiling it. One benchmark registry round (10 entries) cycles through
#: ~212 distinct classes and all 201 registry entries through 2,403: at 100
#: each class is evicted before its entry runs again. A cached class keeps
#: ~33 KB of heap plus ~8.5 KB of metaspace, so 4096 entries hold the whole
#: registry with headroom and bound the cache at ~170 MB. The conf is
#: static (Spark sizes the JVM-wide cache once, at its first compile), so
#: it is set in ``get_spark``'s builder, not in RUNTIME_CONFS: ``tune()``
#: cannot set it on a foreign session, whose cache keeps Spark's 100.
CODEGEN_CACHE_ENTRIES = 4096


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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


#: Per-session memo: ``(applicationId, *key)`` → value (see memo).
_MEMO: dict[tuple, object] = {}

#: applicationId → that session's scratch root (see scratch_dir).
_SCRATCH: dict[str, str] = {}


def _unpersist(value) -> None:
    """Best-effort: the owning context may already be stopped, which is
    the case being cleaned up."""
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass


def _drop_sessions(keep: str | None) -> None:
    """Drop the memo entries and scratch roots of every session but
    ``keep`` (all of them for None). Iterates over ``list()`` snapshots:
    the ANN recall report memoizes from worker threads."""
    for key in [k for k in list(_MEMO) if k[0] != keep]:
        _unpersist(_MEMO.pop(key, None))
    for app in [a for a in list(_SCRATCH) if a != keep]:
        shutil.rmtree(_SCRATCH.pop(app), ignore_errors=True)


def memo(spark: SparkSession, key: tuple, build):
    """``build()``, computed once per session per ``key``.

    Entries are keyed by applicationId, never by the session object's
    ``id()``: CPython reuses freed addresses, so an id key can alias a
    stopped session's entry. One session is live at a time, so an insert drops every other
    session's entries (a long-lived process cycling sessions would
    otherwise accumulate dead handles). ``None`` is never stored: a
    build returns None for an empty corpus, which may be a directory
    still being populated, and the next call builds again."""
    full = (spark.sparkContext.applicationId, *key)
    if full in _MEMO:
        return _MEMO[full]
    value = build()
    if value is not None:
        _drop_sessions(full[0])
        _MEMO[full] = value
    return value


def forget(spark: SparkSession, key: tuple) -> None:
    """Drop one memo entry, unpersisting it if it is a DataFrame."""
    _unpersist(_MEMO.pop((spark.sparkContext.applicationId, *key), None))


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory under this session's scratch root. The root
    goes with the session's memo entries (a later session's first insert,
    release_corpus_caches) and at interpreter exit."""
    app = spark.sparkContext.applicationId
    if app not in _SCRATCH:
        _SCRATCH[app] = tempfile.mkdtemp(prefix="mlls_session_")
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH[app])


@atexit.register
def _remove_scratch_roots() -> None:
    for root in _SCRATCH.values():
        shutil.rmtree(root, ignore_errors=True)


def release_corpus_caches(spark: SparkSession) -> None:
    """Forget every memo entry, remove every scratch root and unpin
    every persisted artifact — for callers that switch to a DIFFERENT
    corpus in the same session (the bench's scaled legs): the previous
    corpus's pinned tables/signatures will never be read again, and at
    the 100× leg the accumulated pins from earlier legs measurably
    pressure storage memory. The memo must clear together with the
    cache — a memo returning an unpersisted DataFrame would silently
    lose warm-mode caching for the rest of the session."""
    _drop_sessions(None)
    spark.catalog.clearCache()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (best effort).

    The verification driver builds its own SparkSession; every public
    entry point calls this so correctness-critical confs (UTC timezone,
    nanos-as-long) hold regardless of who built the session. Static confs,
    ``CODEGEN_CACHE_ENTRIES`` among them, do not reach a foreign session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — keep going; defaults are sane.
            pass
    return spark
