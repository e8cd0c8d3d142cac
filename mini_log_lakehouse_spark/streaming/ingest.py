"""Structured Streaming extension (SURVEY.md §2.9): how the log pipeline
actually runs in production — logs arrive continuously, ingest is
incremental, the hourly fact maintains itself.

The reference re-runs the whole batch pipeline on a schedule
(reference orchestration/flow.py:29-35, Makefile:3-7); this module is the
Spark-native replacement:

- ``stream_ingest_logs``: readStream.text over a log directory -> the
  SAME parse plan as batch (sources/logs.parse_lines — one code path for
  both) -> partitioned parquet sink with checkpointing. Exactly-once via
  the sink's transaction log + source offsets; ``availableNow`` drains
  the backlog then stops, which is both the testable mode and the
  cron-replacement mode.
- ``stream_hourly_fact``: tumbling-window aggregation with a watermark —
  the incremental fct_requests_hourly. Counts and conditional sums are
  mergeable so they stream; the exact p95 is NOT (it needs the full
  group) — at scale the streaming fact would carry a t-digest sketch;
  here the streaming fact publishes the mergeable measures only.
- ``drain``: the one run-to-completion memory-sink drain behind every
  streaming registry entry.

State sizing at 100 TB: the window state is (days × hours × types) rows
per watermark horizon — bounded and tiny. The watermark (1 hour) caps
late-data buffering; later data is dropped, matching a production
lakehouse's lateness SLA.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_log_lakehouse_spark.session import default_parallelism, memo, scratch_dir, tune
from mini_log_lakehouse_spark.sources.logs import parse_lines
from mini_log_lakehouse_spark.sources.registry import path_bytes

#: Target SOURCE bytes per streaming state partition. Every shuffle
#: partition of a stateful streaming operator owns its own state store
#: instance — a stream-stream join keeps FOUR per partition (two sides x
#: keyToNumValues/keyWithIndexToValue) — and every microbatch pays a
#: per-store open/commit/delta-file write even when the store holds
#: three rows. So the state-partition count is sized to the replayed
#: source, clamped to the session's parallelism; results do not depend
#: on it (OPTIMIZATION_r15.md has the measurements). On a real feed
#: bytes/target saturates the clamp: the local default only DOWN-sizes.
_STREAM_STATE_TARGET_BYTES = 8 << 20


def _stream_partitions(sf_dir: str, python_stateful: bool = False) -> int:
    """State-partition count for a drain replaying ``sf_dir``'s events
    table (see _STREAM_STATE_TARGET_BYTES). Local-filesystem probe, like
    read_events_stream's. When it finds NOTHING (missing path, or a
    remote layout it cannot stat) it falls back to full session
    parallelism rather than flooring to 1, so a layout change never
    serializes every state store onto one partition.

    ``python_stateful``: applyInPandasWithState /
    transformWithStateInPandas run each shuffle partition's groups in
    one PYTHON worker, so their budget is CORES, not state-store count:
    a byte-sized count of 1 would strand every group's fold on one
    worker. The two modes agree at scale, where bytes saturate the
    clamp."""
    if python_stateful:
        return default_parallelism()
    total = path_bytes(os.path.join(sf_dir, "events.parquet"))
    if total <= 0:
        return default_parallelism()
    return min(-(-total // _STREAM_STATE_TARGET_BYTES), default_parallelism())


def drain(
    df: DataFrame, name: str, mode: str, partitions: int | None = None
) -> tuple[DataFrame, list]:
    """Run the streaming ``df`` to completion (``availableNow``) into the
    memory table ``name`` in output mode ``mode``; return that table and
    the query's ``recentProgress``.

    ``partitions`` pins spark.sql.shuffle.partitions (the state-partition
    count, which the microbatch planner reads at query start) for the
    start and the drain only, and restores the previous value even when
    the query fails; ``None`` leaves the conf alone. The conf is
    session-global, so a query PLANNED concurrently on the same session
    would see the pinned value: callers drain serially."""
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    if partitions is not None:
        old = spark.conf.get(key)
        spark.conf.set(key, str(partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if partitions is not None:
            spark.conf.set(key, old)
    return spark.table(name), q.recentProgress


def _data_batches(progress: list) -> int:
    """Microbatches of a drain that read at least one row."""
    return sum(1 for p in progress if (p.get("numInputRows") or 0) > 0)


def _watermark_drops(progress: list) -> int:
    """Rows a drain's stateful operators dropped as behind the watermark."""
    return sum(
        s.get("numRowsDroppedByWatermark") or 0
        for p in progress
        for s in (p.get("stateOperators") or [])
    )


def events_stream(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Parquet file stream over the events table with ``ts`` normalized
    to TimestampType, whichever way the driver wrote it.

    The driver has shipped ``events.ts`` both as TIMESTAMP(NANOS)
    (which Spark reads as raw int64 under
    ``spark.sql.legacy.parquet.nanosAsLong`` — see session.py) and as
    TIMESTAMP(MICROS) (read natively). A file stream needs an explicit
    schema, so instead of hard-coding one era we take the schema a BATCH
    read infers from the footer — by construction that is exactly what
    the stream reader will produce for the same files — and then apply
    the same ns→µs truncation the batch registry applies when the column
    surfaces as bigint (sources/registry.py:56-59).
    """
    tune(spark)
    batch = spark.read
    stream = spark.readStream
    if glob is not None:
        batch = batch.option("pathGlobFilter", glob)
        stream = stream.option("pathGlobFilter", glob)
    raw = stream.schema(batch.parquet(path).schema).parquet(path)
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require session-tz TIMESTAMP; the session is pinned
        # to UTC (session.py:31) so this cast is value-preserving.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_ingest_logs(
    spark: SparkSession,
    raw_dir: str,
    bronze_root: str,
    checkpoint: str,
) -> None:
    """Incremental EP1: drain new log files into date-partitioned bronze.

    One batch-identical parse plan; exactly-once via checkpoint +
    file-sink log; availableNow trigger = run-to-completion semantics.
    """
    tune(spark)
    lines = spark.readStream.text(raw_dir).filter(F.trim("value") != "")
    bronze = parse_lines(lines)
    (
        bronze.writeStream.format("parquet")
        .option("path", bronze_root)
        .option("checkpointLocation", checkpoint)
        .partitionBy("date")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events table as a stream (per-file microbatches).

    LIMITATION: the directory-shape probe below is ``os.path.isdir`` —
    local-filesystem only, matching the entry contract's
    (``__spark_entry__.py``) local ``sf_dir`` paths. For a remote warehouse (hdfs://, s3a://) a
    directory-shaped table would silently fall to the single-file glob
    and read nothing; a remote deployment should probe through the JVM
    Hadoop FileSystem instead
    (``spark._jvm.org.apache.hadoop.fs.FileSystem`` getFileStatus
    isDirectory) — not wired here because remote inputs are out of the
    driver contract and the dead branch would be untestable in CI."""
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        # directory-shaped table (scaled replicas; any real multi-file
        # corpus — at 100 TB every table is a directory): stream the
        # directory itself. pathGlobFilter matches FILE names, so the
        # single-file glob below would match nothing inside it.
        return events_stream(spark, path)
    # file-stream sources take a directory; select just the events table
    return events_stream(spark, sf_dir, glob="events.parquet")


def stream_hourly_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental hourly fact over the replayed events stream.

    Drains to completion into a memory sink and returns the final table
    — semantics identical to the batch hourly fact for the mergeable
    measures, which the oracle gate checks against batch SQL.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).cast("long").alias("errors"),
        )
        .select(
            F.to_date("w.start").alias("date"),
            F.date_format("w.start", "HH").alias("hour"),
            "event_type",
            "requests",
            "errors",
        )
    )
    out, _ = drain(
        agg, "stream_hourly_fact_result", "complete", _stream_partitions(sf_dir)
    )
    return out


def streaming_hourly_fact_p95(
    spark: SparkSession, sf_dir: str, accuracy: int = 10_000
) -> DataFrame:
    """The sketch path the module docstring promises: the hourly fact's
    p95 as ``percentile_approx`` — a mergeable KLL-style sketch, so it
    STREAMS, unlike the exact interpolated percentile (which needs the
    full group and exists only on the batch fact). Error is bounded by
    1/accuracy of rank; the behavioral test pins the approx value to the
    exact batch percentile within that tolerance. Hash-checked at the
    gate: while every group stays in the sketch's delta==0 regime
    (count < accuracy/2 — compression starts once
    floor(2·relativeError·count) >= 1, NOT at count == accuracy), the
    GK sketch is exact and returns the value at rank ceil(0.95*n),
    which the oracle restates as a window order statistic (see ORACLES
    note). A runtime guard below asserts the regime actually holds, so
    a larger-sf run fails loudly with instructions instead of silently
    red-flagging a correct sketch; beyond that size the entry must
    fall back to the sketch's error-bound contract (rows-only)."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.percentile_approx("value", 0.95, accuracy).alias("p95_value"),
        )
        .select(
            F.to_date("w.start").alias("date"),
            F.date_format("w.start", "HH").alias("hour"),
            "event_type",
            "requests",
            "p95_value",
        )
    )
    out, _ = drain(
        agg, "stream_hourly_fact_p95_result", "complete", _stream_partitions(sf_dir)
    )
    # exactness-regime guard (see docstring): the oracle is only valid
    # while every group's sketch kept all samples (delta == 0, i.e.
    # count < accuracy/2). The table is an in-memory sink, so this max
    # is a tiny local aggregate, not a corpus re-scan.
    max_group = out.agg(F.max("requests")).collect()[0][0] or 0
    if max_group >= accuracy // 2:
        raise AssertionError(
            f"streaming_hourly_fact_p95: a group holds {max_group} rows, "
            f">= accuracy/2 ({accuracy // 2}) — the GK sketch is no longer "
            "guaranteed exact, so the order-statistic oracle may "
            "legitimately disagree. Raise `accuracy` or demote this entry "
            "to rows-only before trusting the hash gate at this scale."
        )
    return out.orderBy("date", "hour", "event_type")


def streaming_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DAU: watermarked per-(user, day) dedup CHAINED into a
    count — distinct counts don't stream, so the streaming form is
    dedup-then-count, the multiple-stateful-operators pipeline.

    State at 100 TB: ``dropDuplicatesWithinWatermark`` (NOT plain
    dropDuplicates, whose state never evicts when the event-time
    column is not a dedup key) — two same-(user, day) events are at
    most 24 h apart, inside the 1-day delay, so the semantics equal
    exact per-day dedup while the store holds only the watermark
    horizon. Exactness contract: availableNow over the single
    events.parquet file drains in one microbatch, so no row can arrive
    behind a previous batch's watermark; a multi-batch out-of-order
    replay CAN drop late rows per the watermark SLA and undercount vs
    the batch COUNT(DISTINCT) oracle. The stateful operator's late-row
    filter lags the reported watermark by a batch, so a row behind only
    the *immediately preceding* batch's watermark still lands, while a
    row behind an earlier batch's watermark is dropped on input
    (numRowsDroppedByWatermark). Both regimes are pinned empirically:
    tests/test_streaming.py::test_dau_two_file_replay_keeps_barely_late_rows
    (2-batch replay == batch oracle, late row kept) and
    ::test_dau_multi_batch_replay_drops_late_rows_undercount (4-batch
    replay drops 2 late rows and undercounts by exactly the dropped
    fresh (user, day)). Because the boundary between the regimes is an
    internal propagation detail, the runtime guard below accepts ONLY
    the single-data-batch drain — the one regime where the hash gate
    is unconditionally trustworthy."""
    ev = read_events_stream(spark, sf_dir).filter(F.col("user_id").isNotNull())
    dd = (
        ev.select("user_id", "ts", F.to_date("ts").alias("date"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["user_id", "date"])
    )
    agg = dd.groupBy("date").agg(F.count(F.lit(1)).alias("dau"))
    out, progress = drain(
        agg,
        "stream_daily_active_users_result",
        "complete",
        _stream_partitions(sf_dir),
    )
    # single-microbatch exactness guard (see docstring): fail loudly,
    # not hash-red, when the replay took more than one data batch
    data_batches = _data_batches(progress)
    if data_batches > 1:
        raise AssertionError(
            f"streaming_daily_active_users drained in {data_batches} "
            "data-carrying microbatches; the exact-vs-batch-oracle "
            "contract only holds for a single-batch drain (a longer "
            "replay can SLA-drop late rows and undercount). Demote "
            "this entry to rows-only or replay from a single file."
        )
    return out.orderBy("date")


#: Late-replay predicate for the out-of-order replay entries (must stay
#: in lockstep with the SQL restatement in their oracles): rows of the
#: corpus's FIRST day whose user_id falls in one fixed residue class.
_APPEND_LATE_RESIDUE = 3


def _weekly_replay(spark: SparkSession, sf_dir: str):
    """Shared out-of-order replay construction for the output-mode
    contract entries (streaming_append_hourly / streaming_update_hourly):
    split the events table into one parquet file per WEEK in day order,
    withholding the deterministic "late" slice — first-day rows with
    ``user_id % 7 == _APPEND_LATE_RESIDUE`` — into a final straggler
    file, modification-time order pinned via os.utime so
    maxFilesPerTrigger=1 replays one file per microbatch. The written
    corpus is memoized per (session, sf_dir) and shared by both
    entries (the split-write and the two scalar jobs run ONCE per
    corpus per session, under the session's scratch root); each call
    builds a fresh readStream over it.

    Returns (stream DataFrame, n_batches, n_late_groups) where
    n_late_groups is the late slice's distinct (hour-window, event_type)
    count — the unit `numRowsDroppedByWatermark` reports, because the
    stateful aggregate's late filter runs AFTER the batch-local partial
    aggregation (50 late rows at sf0.01 report 40 dropped = their 40
    distinct hour/type groups)."""
    tune(spark)
    replay_dir, n_batches, n_late_groups = memo(
        spark, ("ingest.weekly_replay", sf_dir), lambda: _write_replay(spark, sf_dir)
    )
    return _replay_stream(spark, replay_dir), n_batches, n_late_groups


def _write_replay(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    from mini_log_lakehouse_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "user_id")
    min_day = ev.agg(F.min(F.to_date("ts"))).first()[0]  # scalar, model-sized
    late = (F.to_date("ts") == F.lit(min_day)) & F.coalesce(
        F.col("user_id") % 7 == _APPEND_LATE_RESIDUE, F.lit(False)
    )
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit(min_day)) / F.lit(7)
    ).cast("int")
    replay_dir = scratch_dir(spark, "weekly_replay_")
    # one partitioned write job: batch id = week for kept rows, a
    # sentinel ordering the late slice LAST; repartition on the batch id
    # so each directory holds exactly ONE file (one file == one
    # microbatch — a multi-file week would make intra-week batch
    # boundaries, and hence the watermark sequence, nondeterministic)
    batched = ev.withColumn(
        "b", F.when(late, F.lit(9999)).otherwise(week)
    ).select("ts", "event_type", "b")
    n_batches = batched.select("b").distinct().count()
    if n_batches == 0:
        # degenerate corpus (no events at all): a partitioned write of an
        # empty frame leaves no b= directories and the replay glob would
        # have nothing to read. Write ONE empty file so the stream has a
        # valid zero-row source; it contributes no data batches, matching
        # the recorded n_batches of 0.
        batched.select("ts", "event_type").coalesce(1).write.parquet(
            os.path.join(replay_dir, "b=0"), mode="overwrite"
        )
    else:
        batched.repartition(n_batches, F.col("b")).write.partitionBy("b").parquet(
            replay_dir, mode="overwrite"
        )
    part_dirs = sorted(
        (d for d in os.listdir(replay_dir) if d.startswith("b=")),
        key=lambda d: int(d.split("=")[1]),
    )
    base = 1_000_000_000
    for i, d in enumerate(part_dirs):
        full = os.path.join(replay_dir, d)
        for f in os.listdir(full):
            os.utime(os.path.join(full, f), (base + i * 10, base + i * 10))
    n_late_groups = (
        ev.filter(late)
        .select(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .distinct()
        .count()
    )
    return replay_dir, n_batches, n_late_groups


def _replay_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("ts", T.TimestampType()),
                    T.StructField("event_type", T.StringType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir + "/*/")
    )


def _weekly_hourly_counts(stream: DataFrame) -> DataFrame:
    # the 1-hour delay is FIXED: the oracles restate the drop set and the
    # emission horizon with a literal INTERVAL 1 HOUR, so a parameterized
    # delay would silently diverge from the gate
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("requests"))
        .select(F.col("w.start").alias("window_start"), "event_type", "requests")
    )


def streaming_append_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode hourly fact over a multi-file OUT-OF-ORDER replay —
    the entry where dropping late data IS the defined semantics,
    converting the empirically pinned watermark behavior
    (tests/test_streaming.py::test_append_windowed_agg_drops_late_rows)
    into a hash-gated registry contract.

    Replay construction (harness plumbing — at scale these files arrive
    from storage in exactly this shape: mostly-ordered with a stale
    straggler): the events table is split into one file per WEEK in day
    order, except a deterministic "late" slice — first-day rows with
    ``user_id % 7 == _APPEND_LATE_RESIDUE`` — which is withheld and
    replayed LAST, weeks behind the watermark. Each microbatch is one
    file (maxFilesPerTrigger=1, modification-time order pinned via
    os.utime).

    The contract the oracle restates relationally:

    - late rows are SLA-dropped on input: by the time the straggler
      file replays, the effective late-row filter (which lags the
      reported watermark by one batch — pinned in test_streaming) is
      weeks past their event times, so the keep/drop boundary's
      internal propagation detail cannot matter;
    - every other row arrives in week order, never behind any earlier
      batch's watermark, so it lands exactly once;
    - append mode emits exactly the windows the final watermark closed:
      ``window_end <= max(ts) − delay`` (boundary empirically pinned:
      end == watermark EMITS — tests/test_streaming.py::
      test_append_emission_boundary_is_inclusive).

    A runtime guard asserts numRowsDroppedByWatermark covers the late
    slice's distinct (hour-window, event_type) group count (the late
    filter runs post-partial-aggregation, so it drops group rows, not
    raw rows — see _weekly_replay) and that the replay really ran one
    batch per file — if a Spark upgrade shifts the drop regime, the
    entry fails loudly instead of hash-red."""
    stream, n_batches, n_late_groups = _weekly_replay(spark, sf_dir)
    out, progress = drain(
        _weekly_hourly_counts(stream),
        "stream_append_hourly_result",
        "append",
        _stream_partitions(sf_dir),
    )
    data_batches, dropped = _data_batches(progress), _watermark_drops(progress)
    # >= not ==: the metric counts post-partial-agg rows PER MAP
    # PARTITION, so a late file that splits across input partitions at a
    # larger sf double-counts a group — more counted drops is not a
    # semantics change (kept-late rows would show as hash mismatches);
    # FEWER than the group count means late rows actually landed.
    if data_batches != n_batches or dropped < n_late_groups:
        raise AssertionError(
            f"streaming_append_hourly replay contract broken: "
            f"{data_batches} data batches (want {n_batches}), "
            f"{dropped} watermark-dropped groups (want >= {n_late_groups}) — the "
            "oracle's kept-set/emission restatement no longer describes "
            "what the engine did; fix the replay or re-pin the regime "
            "before trusting the hash gate."
        )
    return out.orderBy("window_start", "event_type")


def streaming_update_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode hourly fact over the SAME out-of-order weekly replay
    as streaming_append_hourly — completing the output-mode triad
    (complete / append / update), each with a hash-gated contract.

    Update mode emits every group CHANGED in a batch with its current
    cumulative value and never withholds unfinalized windows — the
    exact complement of append's horizon rule. On the weekly replay the
    result is fully deterministic and batch-restatable: a 1-hour
    clock-aligned window never spans a day (so never a week file),
    hence every kept group receives ALL its rows in exactly one
    microbatch and emits exactly once, with its final count — while the
    late straggler slice is SLA-dropped on input exactly as in append
    mode (weeks behind the effective watermark). So the memory sink
    holds ONE row per kept (window, type) group with the batch-exact
    count, and the oracle is the plain batch aggregate over the kept
    set with NO emission-horizon filter — tail windows the append
    entry withholds are present here.

    Guards: one data batch per file, dropped groups == the late slice's
    group count, and one emission per group (a re-emission would break
    the row-count gate anyway; the guard makes it loud)."""
    stream, n_batches, n_late_groups = _weekly_replay(spark, sf_dir)
    out, progress = drain(
        _weekly_hourly_counts(stream),
        "stream_update_hourly_result",
        "update",
        _stream_partitions(sf_dir),
    )
    data_batches, dropped = _data_batches(progress), _watermark_drops(progress)
    # one job over the memory table; the struct keeps a NULL event_type
    # group countable (count_distinct skips rows with a NULL argument)
    n_rows, n_groups = out.agg(
        F.count(F.lit(1)), F.count_distinct(F.struct("window_start", "event_type"))
    ).first()
    # same >= rationale as streaming_append_hourly's guard
    if data_batches != n_batches or dropped < n_late_groups or n_rows != n_groups:
        raise AssertionError(
            f"streaming_update_hourly replay contract broken: "
            f"{data_batches} data batches (want {n_batches}), {dropped} "
            f"watermark-dropped groups (want >= {n_late_groups}), {n_rows} "
            f"emitted rows for {n_groups} groups (want equal — a window "
            "straddled two batches and re-emitted). The batch-aggregate "
            "oracle no longer describes what the engine did."
        )
    return out.orderBy("window_start", "event_type")


def streaming_sliding_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window streaming fact (§2.9 extension): 2-hour windows
    sliding every hour, so each event lands in exactly TWO windows — the
    overlapping-window shape (trailing-2h rate monitoring) that a
    tumbling window can't express.

    Scale: state is (windows × types) per watermark horizon — each event
    updates 2 window rows, so state stays calendar-bounded, never
    data-bounded. The oracle restates the window assignment relationally:
    window starts for an event are trunc_hour(ts) and trunc_hour(ts)-1h
    (UNION ALL), which is exactly Spark's assignment for duration 2h /
    slide 1h."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("requests"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "requests",
        )
    )
    out, _ = drain(
        agg, "stream_sliding_fact_result", "complete", _stream_partitions(sf_dir)
    )
    return out.orderBy("window_start", "event_type")


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window sessionization (§2.9 extension): Spark's
    built-in ``session_window`` with a 30-minute gap, the declarative
    twin of the applyInPandasWithState operator in
    streaming/sessions.py.

    Append mode only emits sessions the watermark has passed, so with a
    0-second delay the drained result is every session whose end
    (last event + gap) lies at or before the global max event time —
    sessions still open at end-of-stream stay in state. That
    finalization rule is restated RELATIONALLY in the oracle (gaps-and-
    islands with the same >= gap boundary Spark uses to split, filtered
    on session_end <= max ts), so this streaming operator is fully
    hash-checked, not just rows-counted.

    Scale: state is O(open sessions); the shuffle key is user_id, the
    same layout as the batch twin; watermark-expired state is dropped
    each microbatch."""
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts")
    agg = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    out, _ = drain(
        agg, "stream_session_window_result", "append", _stream_partitions(sf_dir)
    )
    return out.orderBy("user_id", "session_start")


ORACLES: dict[str, str] = {
    "streaming_hourly_fact": """
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
               strftime(CAST(ts AS TIMESTAMP), '%H') AS hour,
               event_type,
               COUNT(*) AS requests,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        FROM events
        GROUP BY 1, 2, 3
    """,
}

# percentile_approx's GK sketch is EXACT in its delta==0 regime: while
# a group holds fewer than accuracy/2 rows (QuantileSummaries starts
# assigning nonzero sample deltas once floor(2*relativeError*count)
# >= 1, i.e. at ~accuracy/2 — NOT at count == accuracy), it returns the
# sorted group's value at rank ceil(0.95 * n) — verified empirically,
# and the rank expression is the same IEEE double product + CEIL in
# both engines, so they agree bit-for-bit. Gate groups are ~20 rows at
# sf0.01, far inside the regime; streaming_hourly_fact_p95 asserts the
# precondition at runtime rather than assuming it.
ORACLES["streaming_hourly_fact_p95"] = """
    WITH pe AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
               strftime(CAST(ts AS TIMESTAMP), '%H') AS hour,
               event_type,
               value
        FROM events
    ), counts AS (
        SELECT date, hour, event_type, COUNT(*) AS requests
        FROM pe GROUP BY 1, 2, 3
    ), ranked AS (
        -- rank among NON-NULL values only (the sketch ignores nulls,
        -- while requests counts every row)
        SELECT date, hour, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY date, hour, event_type
                                  ORDER BY value) AS rk,
               COUNT(*) OVER (PARTITION BY date, hour, event_type) AS n
        FROM pe WHERE value IS NOT NULL
    ), p95 AS (
        SELECT date, hour, event_type,
               MAX(CASE WHEN rk = CAST(CEIL(0.95 * n) AS BIGINT)
                        THEN value END) AS p95_value
        FROM ranked
        GROUP BY 1, 2, 3
    )
    SELECT c.date, c.hour, c.event_type,
           CAST(c.requests AS BIGINT) AS requests,
           p.p95_value
    FROM counts c LEFT JOIN p95 p USING (date, hour, event_type)
    ORDER BY 1, 2, 3
"""

ORACLES["streaming_daily_active_users"] = """
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1
    ORDER BY 1
"""

# Append-mode contract, restated relationally (see streaming_append_hourly):
# kept = everything but the late-replayed first-day residue slice (SLA-
# dropped); emitted = windows the final watermark closed, with the
# empirically pinned INCLUSIVE boundary (end == watermark emits).
ORACLES["streaming_append_hourly"] = f"""
    WITH evs AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, user_id FROM events
    ), kept AS (
        SELECT ts, event_type FROM evs
        WHERE NOT (CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM evs)
                   AND COALESCE(user_id % 7 = {_APPEND_LATE_RESIDUE}, FALSE))
    ), agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS requests
        FROM kept GROUP BY 1, 2
    )
    SELECT window_start, event_type, requests
    FROM agg
    WHERE window_start + INTERVAL 1 HOUR <=
          (SELECT MAX(ts) - INTERVAL 1 HOUR FROM evs)
    ORDER BY 1, 2
"""

# Update-mode contract: same kept-set as append (late slice dropped)
# but NO emission horizon — update emits unfinalized windows too, so
# the oracle is the plain batch aggregate over kept rows.
ORACLES["streaming_update_hourly"] = f"""
    WITH evs AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, user_id FROM events
    )
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS requests
    FROM evs
    WHERE NOT (CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM evs)
               AND COALESCE(user_id % 7 = {_APPEND_LATE_RESIDUE}, FALSE))
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

ORACLES["streaming_sliding_fact"] = """
    WITH w AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type
        FROM events
        UNION ALL
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS wstart,
               event_type
        FROM events
    )
    SELECT wstart AS window_start, event_type, COUNT(*) AS requests
    FROM w
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

ORACLES["streaming_session_window"] = """
    WITH evs AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), diffs AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM evs
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), ids AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM diffs
    ), sess AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM ids
        GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess
    WHERE session_end <= (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
    ORDER BY user_id, session_start
"""

QUERIES = {
    "streaming_hourly_fact": stream_hourly_fact,
    "streaming_hourly_fact_p95": streaming_hourly_fact_p95,
    "streaming_daily_active_users": streaming_daily_active_users,
    "streaming_append_hourly": streaming_append_hourly,
    "streaming_update_hourly": streaming_update_hourly,
    "streaming_sliding_fact": streaming_sliding_fact,
    "streaming_session_window": streaming_session_window,
}
