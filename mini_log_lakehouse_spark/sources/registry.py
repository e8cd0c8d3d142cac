"""Testdata table registry.

Loads the driver's synthetic TPC-H-ish parquet tables
(``/root/testdata/sf*/``) with schemas normalized so Spark results are
bit-comparable with a DuckDB oracle reading the same files:

- ``events.ts`` has shipped in three parquet flavors across driver
  rounds, all normalized here to session-tz TIMESTAMP (UTC):
  TIMESTAMP(NANOS) — Spark's reader rejects it, so it arrives as raw
  int64 under ``spark.sql.legacy.parquet.nanosAsLong`` and is truncated
  to µs with *integer* division (double division would lose precision
  above 2^53 ns); TIMESTAMP(MICROS, isAdjustedToUTC=false) — inferred
  as TIMESTAMP_NTZ, cast (value-preserving under the pinned UTC
  session); and UTC-adjusted TIMESTAMP(MICROS) — read natively. DuckDB
  reads every flavor as the same plain TIMESTAMP values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark import session
from mini_log_lakehouse_spark.session import tune

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def warm_mode() -> bool:
    """Warm-cache mode (bench): loaded tables and serving facts are
    memoized and spark-cached once per session. The reference's
    benchmark is explicitly warm-cache (reference README.md:196-215), so
    the bench harness opts in via SPARK_GRAFT_CACHE_TABLES=1; correctness
    paths read cold by default to keep parquet pushdown/pruning
    observable. Read at call time: tests flip it per test."""
    return os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1"


#: On-disk source size above which warm mode does NOT pin the raw table
#: in memory. Root cause of the r10 sf30 in-suite contamination the
#: driver reproduced (top_customers 21.0 s in-suite vs 4.44 s isolated):
#: pinning the 3.0 GB-parquet lineitem (tens of GB deserialized) pushed
#: the 48 g bench heap to a permanently-full live set — every GC became
#: multi-second, allocation stalls ("Retried waiting for GCLocker")
#: landed on whichever query ran next, and timings went erratic
#: (measured 4.2→20.4 s ACROSS ITERATIONS of the same query). The
#: isolation blocks were stable only because LRU eviction had drained
#: the cache by then. With the fact table left to page-cached parquet
#: (pushdown intact) and the bucketed warehouse, every sf30 row is
#: stable AND faster: q1 1.45 s uncached vs 1.9 s cached, top_customers
#: 4.7 s in-suite = its isolated number. The 100 TB lesson, measured at
#: sf30: never pin the fact table — rely on storage layout + columnar
#: scan; pin dimensions and mid-size inputs only.
_TABLE_CACHE_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_CACHE_MAX_BYTES", 2 * 1024 * 1024 * 1024)
)


def _load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table with normalized column types, NO caching or
    persistence — the shared scan both load_table and schema-only
    probes (bucketed-warehouse reattach) build on. Keeping the probe on
    this path matters in warm mode: load_table would persist/pin the
    raw table even when only the bucketed copy is read afterward."""
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # int64 epoch-nanos -> TimestampType at µs precision (floor),
            # exactly DuckDB's TIMESTAMP_NS -> TIMESTAMP cast for positive
            # epochs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as NTZ, which
            # downstream epoch arithmetic/watermarks reject; the session is
            # pinned to UTC (session.py:31) so this cast is value-preserving
            # and matches DuckDB reading the same file as plain TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized column types; in warm mode
    memoized per (session, sf_dir, table)."""
    if not warm_mode():
        return _load_raw(spark, sf_dir, name)
    return session.memo(
        spark, ("registry.table", sf_dir, name), lambda: _pinned(spark, sf_dir, name)
    )


def _pinned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The warm-mode copy of one table. The testdata files are
    single-row-group parquet, so a cold scan is one task no matter the
    cluster size; spread the cached copy proportionally to its size
    (~1 MiB of compressed parquet per partition, capped at core count).
    Size-aware: a 0.8 MB table in 32 partitions costs 32
    task/Python-worker round-trips for microseconds of work each. A real
    100 TB table has thousands of row groups and never needs this."""
    df = _load_raw(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):  # multi-file table (e.g. scaled replicas)
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    else:
        size = os.path.getsize(path)
    if size > _TABLE_CACHE_MAX_BYTES:
        # too big to pin (see _TABLE_CACHE_MAX_BYTES): memoize the
        # un-persisted frame so repeat loads skip the size walk, and
        # leave the scan to page-cached parquet with pushdown intact
        return df
    parts = max(1, min(session.default_parallelism(), size // (256 << 10)))
    return df.repartition(parts).persist()


#: On-disk source size above which a bucketed table is NOT pinned in
#: memory (see load_table_bucketed). Measured at the 100× bench leg
#: (1.3 GB parquet): pinned, the fact-fact query runs 2.7 s warm;
#: unpinned it pays the parquet decode every iteration (6.8 s) and
#: nothing else gets faster — the suspected signature-cache eviction
#: did not reproduce. So the cap only guards against pathological
#: inputs far beyond the bench legs; on a real cluster the equivalent
#: knob is the storage-memory fraction.
_BUCKETED_PERSIST_MAX_BYTES = 8 * 1024 * 1024 * 1024


def _source_bytes(sf_dir: str, name: str) -> int:
    """Total on-disk bytes of a source table (file or directory)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(p):
        return os.path.getsize(p)
    total = 0
    for root, _dirs, files in os.walk(p):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _file_tail_md5(path: str, nbytes: int = 65536) -> str:
    """md5 of a file's last ``nbytes`` — for parquet this covers the
    footer (schema + row-group metadata + column statistics), which
    changes whenever the data does. One 64 KiB read per file, so the
    whole fingerprint stays O(file count), not O(bytes)."""
    import hashlib

    h = hashlib.md5()
    with open(path, "rb") as fh:
        size = os.fstat(fh.fileno()).st_size
        fh.seek(max(0, size - nbytes))
        h.update(fh.read(nbytes))
    return h.hexdigest()


def _source_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap identity of a source table's current bytes — recorded
    beside the bucketed warehouse write and compared before reattaching
    it, so a REGENERATED corpus at the same path invalidates the derived
    bucketed copy instead of silently serving stale rows.

    Mixes size + newest mtime_ns + file count with CONTENT identity (md5
    of each file's 64 KiB tail, i.e. the parquet footer): a corpus
    regenerated with preserved timestamps (``cp -p``, archive
    extraction) and coincidentally identical sizes would pass a pure
    stat gate; different data means different row-group stats in the
    footer, so the tail digest catches it."""
    import hashlib

    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(p):
        st = os.stat(p)
        return f"{st.st_size}:{st.st_mtime_ns}:1:{_file_tail_md5(p)}"
    total = mt = count = 0
    digests: list[str] = []
    for root, _dirs, files in os.walk(p):
        for f in sorted(files):
            fp = os.path.join(root, f)
            st = os.stat(fp)
            total += st.st_size
            mt = max(mt, st.st_mtime_ns)
            count += 1
            digests.append(f"{os.path.relpath(fp, p)}:{_file_tail_md5(fp)}")
    content = hashlib.md5("\n".join(sorted(digests)).encode()).hexdigest()
    return f"{total}:{mt}:{count}:{content}"


def attach_or_build_bucketed(
    spark: SparkSession,
    tbl: str,
    fingerprint: str,
    key: str,
    n: int,
    build,
) -> None:
    """Ensure catalog table ``tbl`` exists as an EXTERNAL bucketed+sorted
    parquet table on ``key`` whose content matches ``fingerprint``; no-op
    if already cataloged this session.

    The in-memory catalog forgets tables across sessions while the
    warehouse directory persists. A COMPLETE previous write (the
    _SUCCESS marker, a source fingerprint matching the CURRENT
    ``fingerprint``, and the expected schema) is reattached instead of
    rebuilt — "pay the shuffle once at write time" must mean once per
    CORPUS, not once per session (the sf30 CTAS costs ~250 s; Spark
    recovers the bucket id from the writer's file names, so the
    reattached scan reports the same hashpartitioning(key, N) and keeps
    the zero-exchange property — plan-tested). Anything else — a partial
    write, a REGENERATED source at the same path (table names key on the
    path, so without the fingerprint a same-schema refresh would
    silently serve stale rows), or a drifted schema — is a stale derived
    artifact: cleared and rebuilt.

    Both branches create the table EXTERNAL at the same explicit
    LOCATION (the rebuild passes ``path`` to saveAsTable), so DROP TABLE
    uniformly leaves the files on disk — the pre-r12 rebuild path
    created a MANAGED table whose DROP deleted them, an asymmetry
    cleanup code kept having to special-case (ADVICE r11).

    ``build`` is called lazily: on reattach only its SCHEMA is read (no
    job, no persist); on rebuild the frame is shuffled once into the
    bucket layout.
    """
    if spark.catalog.tableExists(tbl):
        return
    import shutil

    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), tbl
    )
    fp_path = os.path.join(loc, "_SRC_FINGERPRINT")
    if os.path.exists(os.path.join(loc, "_SUCCESS")) and os.path.exists(fp_path):
        with open(fp_path) as fh:
            current = fh.read().strip() == fingerprint
        if current:
            want = build().schema
            # simpleString: names + types (incl. nested), nullability
            # excluded — a COMPUTED build plan often carries
            # non-nullable fields (literals, hash outputs) that parquet
            # read-back necessarily reports as nullable, and nullability
            # of a derived copy can't change values. An unreadable
            # location (e.g. a zero-row write left _SUCCESS but no
            # parquet part files) is a stale artifact, not an error:
            # fall through to the rebuild.
            try:
                have = spark.read.parquet(loc).schema.simpleString()
            except Exception:
                have = None
            if have == want.simpleString():
                cols = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in want.fields
                )
                spark.sql(
                    f"CREATE TABLE {tbl} ({cols}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {n} BUCKETS LOCATION '{loc}'"
                )
                return
    shutil.rmtree(loc, ignore_errors=True)
    # repartition on the bucket key BEFORE the bucketed write: bucket
    # ids use the same murmur3 hash partitioning, so each task then
    # writes exactly ONE bucket file. Without it every input task opens
    # n parquet writers (tasks × n write buffers — OOM'd the 16g bench
    # JVM at the sf30 leg with 65 × 32 of them); with it writer memory
    # is one buffer per task. Same shuffle a production backfill into a
    # bucketed layout pays.
    (
        build()
        .repartition(n, F.col(key))
        .write.mode("overwrite")
        .bucketBy(n, key)
        .sortBy(key)
        .option("path", loc)
        .format("parquet")
        .saveAsTable(tbl)
    )
    with open(fp_path, "w") as fh:
        fh.write(fingerprint + "\n")


def append_bucketed(
    spark: SparkSession, tbl: str, df: DataFrame, key: str, n: int, fingerprint: str
) -> None:
    """Append rows to an existing bucketed warehouse table (the
    incremental-ingest half of attach_or_build_bucketed): the writer
    honors the table's bucket spec, so appended files carry correct
    bucket ids and the scan keeps reporting hashpartitioning(key, N) —
    zero-exchange aggs/joins survive the append (plan-tested). The
    repartition keeps writer memory at one buffer per task, same as the
    initial build.

    ``fingerprint`` must identify the GROWN corpus: it replaces the
    table's _SRC_FINGERPRINT so a later session reattaches iff its
    sources still match the post-append state (an append is not
    idempotent — the fingerprint gate is what prevents double-ingest
    across sessions; in-session, the caller sequences appends)."""
    (
        df.repartition(n, F.col(key))
        .write.mode("append")
        .bucketBy(n, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(tbl)
    )
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), tbl
    )
    with open(os.path.join(loc, "_SRC_FINGERPRINT"), "w") as fh:
        fh.write(fingerprint + "\n")


def bucketing_enabled() -> bool:
    """True when load_table_bucketed will return managed bucketed tables
    (warm/bench mode or explicit SPARK_GRAFT_BUCKETED=1)."""
    return os.environ.get("SPARK_GRAFT_BUCKETED", "1" if warm_mode() else "0") == "1"


def load_table_bucketed(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    key: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """A testdata table as a bucketed+sorted external table on ``key`` —
    the lakehouse pre-partitioning story for REPEATED fact-fact joins:
    pay the shuffle once at write time, after which every join or
    aggregation keyed on the bucket column reads co-located buckets with
    ZERO exchange (FileSourceScan reports hashpartitioning(key, N), which
    satisfies both HashAggregate and join distribution requirements).

    At 100 TB this is how lineitem/orders live in the warehouse
    (bucketed by orderkey); here the write is gated to warm mode
    (SPARK_GRAFT_CACHE_TABLES=1, the bench contract, or
    SPARK_GRAFT_BUCKETED=1 explicitly) so cold correctness paths keep
    reading the raw parquet with visible pushdown/pruning.

    Falls back to :func:`load_table` when the gate is off.
    """
    if not bucketing_enabled():
        return load_table(spark, sf_dir, name)
    return session.memo(
        spark,
        ("registry.bucketed", sf_dir, name),
        lambda: _bucketed(spark, sf_dir, name, key, n_buckets),
    )


def _bucketed(
    spark: SparkSession, sf_dir: str, name: str, key: str, n_buckets: int | None
) -> DataFrame:
    import hashlib

    tune(spark)
    n = n_buckets or session.default_parallelism()
    tbl = f"bkt_{name}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}_{n}"
    attach_or_build_bucketed(
        spark,
        tbl,
        _source_fingerprint(sf_dir, name),
        key,
        n,
        # build from the NORMALIZED frame, never the raw parquet: the
        # events table ships in three ts flavors (nanos-as-long / NTZ /
        # UTC) that load_table reconciles — a bucketed copy built from
        # the raw file would persist the raw type and diverge from what
        # every other consumer sees. _load_raw (not load_table): in warm
        # mode load_table would persist/pin a raw copy that nothing
        # reads again once the bucketed table exists.
        lambda: _load_raw(spark, sf_dir, name),
    )
    # Lazy persist: the InMemoryTableScan reports the bucketed
    # FileScan's hashpartitioning(key, N), so the cached copy keeps the
    # zero-exchange agg/join property (plan-tested) while warm
    # iterations stop re-decoding the warehouse parquet (2.5× on the
    # fact-fact query at the 100× leg — see _BUCKETED_PERSIST_MAX_BYTES
    # for the measurement and the cap's rationale).
    out = spark.table(tbl)
    if _source_bytes(sf_dir, name) <= _BUCKETED_PERSIST_MAX_BYTES:
        out = out.persist()
    return out


def load_events_range(
    spark: SparkSession, sf_dir: str, start_ns: int, end_ns: int
) -> DataFrame:
    """events scan restricted to a half-open [start_ns, end_ns) window,
    with the range applied to the RAW int64-nanos column so it lands in
    PushedFilters (a predicate on the converted timestamp cannot push
    through timestamp_micros). ns-range ⇔ µs-range is exact for
    truncation, so downstream semantics are unchanged.

    In warm-cache mode the table is already in memory — filter the cached
    (converted) copy instead; there is no parquet scan left to prune.
    When the table is too big for the pin (_TABLE_CACHE_MAX_BYTES),
    load_table memoizes an UNPERSISTED frame whose converted ts column
    would defeat pushdown — fall through to the raw-column path instead,
    which is the point of the cap (big facts scan pruned parquet).
    """
    if warm_mode():
        df = load_table(spark, sf_dir, "events")
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            return df.filter(
                (F.col("ts") >= F.timestamp_micros(F.lit(start_ns // 1000)))
                & (F.col("ts") < F.timestamp_micros(F.lit(end_ns // 1000)))
            )
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.filter((F.col("ts") >= start_ns) & (F.col("ts") < end_ns))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        # Filter on the NTZ column (the literal bound is comparable after
        # cast) so the range still reaches PushedFilters, then normalize.
        df = df.filter(
            (F.col("ts") >= F.timestamp_micros(F.lit(start_ns // 1000)).cast("timestamp_ntz"))
            & (F.col("ts") < F.timestamp_micros(F.lit(end_ns // 1000)).cast("timestamp_ntz"))
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.filter(
        (F.col("ts") >= F.timestamp_micros(F.lit(start_ns // 1000)))
        & (F.col("ts") < F.timestamp_micros(F.lit(end_ns // 1000)))
    )


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view for ``spark.sql`` queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
