"""Streaming extension tests: incremental ingest equals batch ingest,
the streaming hourly fact equals the batch aggregation, and the stateful
sessionizer's closed sessions equal batch sessionization minus each
user's final (still-open) session."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.operators.sessions import sessionize
from mini_log_lakehouse_spark.sources.logs import parse_logs, read_bronze
from mini_log_lakehouse_spark.sources.registry import load_table
from mini_log_lakehouse_spark.streaming.ingest import (
    _data_batches,
    _watermark_drops,
    drain,
    stream_ingest_logs,
)
from mini_log_lakehouse_spark.streaming.sessions import stream_closed_sessions

FIXTURE_DIR = "tests/fixtures"


def test_stream_ingest_matches_batch(spark, tmp_path):
    bronze = str(tmp_path / "bronze_stream")
    ckpt = str(tmp_path / "ckpt")
    stream_ingest_logs(spark, FIXTURE_DIR, bronze, ckpt)
    streamed = read_bronze(spark, bronze)
    batch = parse_logs(spark, f"{FIXTURE_DIR}/nginx_access.log")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.select(*streamed.columns).collect())
    )

    # incremental: a second availableNow run with no new files adds nothing
    stream_ingest_logs(spark, FIXTURE_DIR, bronze, ckpt)
    assert read_bronze(spark, bronze).count() == 7


def test_streaming_crash_recovery_exactly_once(spark, tmp_path):
    """Durability probe: kill a query between availableNow runs (possibly
    mid-microbatch) and prove the recovered pipeline is exactly-once — no
    duplicates, no loss. The file sink's _spark_metadata transaction log
    is what makes half-written batches invisible to readers; the source
    checkpoint is what stops re-ingestion of committed files."""
    import shutil

    raw = tmp_path / "raw"
    raw.mkdir()
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(f"{FIXTURE_DIR}/nginx_access.log", raw / "a.log")

    # run 1: drain file A to completion
    stream_ingest_logs(spark, str(raw), bronze, ckpt)
    assert read_bronze(spark, bronze).count() == 7

    # new data arrives, then the ingest "crashes": start and kill without
    # awaiting — the microbatch may or may not have committed, and
    # exactly-once must hold either way.
    (raw / "b.log").write_text(
        '1.2.3.4 - - [12/Nov/2025:08:00:00 +0530] "GET /metrics HTTP/1.1" 200 64 "-" "curl/8.1.2"\n'
        '1.2.3.4 - - [12/Nov/2025:08:01:00 +0530] "GET /health HTTP/1.1" 200 8 "-" "curl/8.1.2"\n'
    )
    from mini_log_lakehouse_spark.sources.logs import parse_lines

    lines = spark.readStream.text(str(raw)).filter(F.trim("value") != "")
    q = (
        parse_lines(lines)
        .writeStream.format("parquet")
        .option("path", bronze)
        .option("checkpointLocation", ckpt)
        .partitionBy("date")
        .trigger(availableNow=True)
        .start()
    )
    q.stop()  # crash

    # recovery run drains whatever the crashed run did not commit
    stream_ingest_logs(spark, str(raw), bronze, ckpt)

    streamed = read_bronze(spark, bronze)
    batch = parse_logs(spark, str(raw))
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.select(*streamed.columns).collect())
    )
    # explicit no-dupes check on the natural key
    assert streamed.count() == 9
    assert streamed.select("ts", "client_ip", "request_path").distinct().count() == 9


def test_streaming_hourly_fact_matches_batch(spark, sf_dir):
    from mini_log_lakehouse_spark.streaming.ingest import stream_hourly_fact

    streamed = stream_hourly_fact(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.to_date("ts").alias("date"),
            F.date_format("ts", "HH").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errors"),
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_sessions_match_batch(spark, sf_dir):
    closed = stream_closed_sessions(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    batch = sessionize(ev)
    # streaming emits only CLOSED sessions; each user's last session stays
    # open in state, so batch minus last-per-user == streamed closed set.
    last = batch.groupBy("user_id").agg(F.max("session_id").alias("session_id"))
    batch_closed = batch.join(last, ["user_id", "session_id"], "left_anti").select(
        "user_id", "session_start", "session_end", "n_events"
    )
    assert sorted(map(tuple, closed.collect())) == sorted(
        map(tuple, batch_closed.collect())
    )


def test_streaming_approx_p95_within_sketch_tolerance(spark, sf_dir):
    """percentile_approx returns an ACTUAL element whose rank is within
    the sketch's error of ceil(0.95 n) — so the streamed value must be
    one of the elements in that rank window (±max(1, n/accuracy),
    widened by one for the ceil boundary), computed per group from the
    raw events in the test."""
    import math
    from collections import defaultdict

    from pyspark.sql import functions as F

    from mini_log_lakehouse_spark.sources.registry import load_table
    from mini_log_lakehouse_spark.streaming.ingest import streaming_hourly_fact_p95

    acc = 10_000
    streamed = streaming_hourly_fact_p95(spark, sf_dir, accuracy=acc).collect()
    assert streamed, "streamed p95 fact is empty"
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("date"),
        F.date_format("ts", "HH").alias("hour"),
        "event_type",
        "value",
    )
    groups = defaultdict(list)
    for r in ev.collect():
        groups[(str(r["date"]), r["hour"], r["event_type"])].append(r["value"])
    for r in streamed:
        key = (str(r["date"]), r["hour"], r["event_type"])
        vals = sorted(groups[key])
        n = len(vals)
        assert r["requests"] == n
        center = math.ceil(0.95 * n)
        slack = max(1, math.ceil(n / acc)) + 1
        lo_i = max(0, center - slack - 1)
        hi_i = min(n, center + slack)
        window = vals[lo_i:hi_i]
        assert r["p95_value"] in window, (key, r["p95_value"], window)


def test_user_totals_accumulate_across_microbatches(spark, sf_dir, tmp_path):
    """Split the events into two parquet files and replay one file per
    microbatch: the processor must emit CUMULATIVE per-user rows (batch
    2's row includes batch 1's counts), and the final row per user must
    equal the plain batch aggregate."""
    from mini_log_lakehouse_spark.streaming.state_v2 import stream_user_totals

    full = load_table(spark, sf_dir, "events")
    src_dir = tmp_path / "two_files"
    full.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(src_dir / "a"), mode="overwrite"
    )
    full.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(src_dir / "b"), mode="overwrite"
    )
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir) + "/*/")
    )
    got = stream_user_totals(spark, sf_dir, source=stream).collect()
    # per user: possibly two rows (one per batch containing their events)
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in got:
        per_user[r["user_id"]].append(r)
    truth = {
        r["user_id"]: (r["n"], r["e"])
        for r in full.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("e"),
        )
        .collect()
    }
    # per-user contribution of each input file, to pin the cumulative
    # property against an INDEPENDENT ordering (sorting by n_events and
    # then asserting counts == sorted(counts) would be tautological)
    per_file = {
        (r["user_id"], r["half"]): r["n"]
        for r in full.withColumn("half", (F.col("event_id") % 2).cast("int"))
        .groupBy("user_id", "half")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_user) == set(truth)
    both = 0
    for uid, rows in per_user.items():
        halves = [h for h in (0, 1) if (uid, h) in per_file]
        # one emitted row per microbatch that contained this user
        assert len(rows) == len(halves), uid
        rows.sort(key=lambda r: r["last_ts"])  # independent key
        counts = [r["n_events"] for r in rows]
        assert counts[-1] == truth[uid][0]
        assert rows[-1]["n_errors"] == truth[uid][1]
        if len(rows) == 2:
            both += 1
            # cumulative across microbatches: the first emission is
            # exactly one file's contribution, strictly below the total
            assert counts[0] in {per_file[(uid, h)] for h in halves}
            assert counts[0] < counts[1]
    assert both > 0  # the split must actually exercise two-batch users


def _file_replay(spark, src, files):
    """Write ``files`` (DataFrames) under ``src`` and replay them one
    file per microbatch: the file source orders batches by modification
    time, pinned here with os.utime."""
    import os

    for i, df in enumerate(files):
        d = str(src / f"f{i}")
        df.coalesce(1).write.parquet(d)
        for root, _, fs in os.walk(d):
            for f in fs:
                os.utime(os.path.join(root, f), (1_000_000 + i * 10,) * 2)
    return (
        spark.readStream.schema(files[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )


def _replay_dau(spark, src_dir, files):
    """Replay ``files`` one per microbatch through the DAU pipeline shape
    from streaming_daily_active_users and return (result dict,
    recentProgress list, batch-oracle dict)."""
    stream = _file_replay(spark, src_dir, files)
    dd = (
        stream.select("user_id", "ts", F.to_date("ts").alias("date"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["user_id", "date"])
    )
    agg = dd.groupBy("date").agg(F.count(F.lit(1)).alias("dau"))
    out, progress = drain(agg, f"dau_replay_{len(files)}", "complete")
    got = {str(r["date"]): r["dau"] for r in out.collect()}
    union = files[0]
    for f in files[1:]:
        union = union.unionByName(f)
    batch = {
        str(r["date"]): r["dau"]
        for r in union.select(F.to_date("ts").alias("date"), "user_id")
        .groupBy("date")
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    return got, progress, batch


def _mk_users(spark, rows):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(user_id=u, ts=t) for u, t in rows]
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_dau_two_file_replay_keeps_barely_late_rows(spark, tmp_path):
    """Empirical pin of the watermark-propagation LAG (the round-7 red
    test assumed the opposite): the late-row filter of a stateful
    operator in batch N applies a watermark at least one batch behind
    the one recentProgress reports, so a row behind batch 1's watermark
    that arrives in batch 2 still lands — a two-batch out-of-order
    replay produces EXACTLY the batch COUNT(DISTINCT) answer, late row
    included. (The drop regime needs a longer replay — next test.)
    This is why streaming_daily_active_users' exactness guard can't be
    relaxed from "one data batch" to "short replays": the guard exists
    for the genuine multi-batch drop/undercount regime, not this one."""
    f1 = _mk_users(spark, [(u, f"2025-01-10 10:0{u}:00") for u in (1, 2, 3)])
    f2 = _mk_users(
        spark, [(99, "2025-01-08 00:00:00"), (4, "2025-01-10 12:00:00")]
    )
    got, progress, batch = _replay_dau(spark, tmp_path / "dau2", [f1, f2])
    assert _data_batches(progress) == 2
    assert batch == {"2025-01-10": 4, "2025-01-08": 1}
    # late (99, Jan 8) is KEPT — behind the reported watermark, but the
    # filter lags a batch, so streaming equals the batch oracle here
    assert got == batch


def test_dau_multi_batch_replay_drops_late_rows_undercount(spark, tmp_path):
    """The genuine watermark-SLA drop regime that justifies the
    single-microbatch guard in streaming_daily_active_users: once the
    watermark from an EARLIER batch (two or more back) has passed an
    event's timestamp, the dedup operator drops it on input
    (numRowsDroppedByWatermark), and the complete-mode aggregate
    undercounts the batch COUNT(DISTINCT) oracle by exactly the dropped
    (user, day)s."""
    files = [
        _mk_users(spark, [(1, "2025-01-10 10:00:00"), (2, "2025-01-10 10:01:00")]),
        # pushes the watermark to Jan 11 12:00 (computed at batch end)
        _mk_users(spark, [(3, "2025-01-12 12:00:00")]),
        # filler batch: lets the Jan 11 watermark become the input filter
        _mk_users(spark, [(6, "2025-01-12 13:00:00")]),
        # both behind the now-effective Jan 11 watermark -> SLA-dropped:
        # (1, Jan 10) is a would-be duplicate, (5, Jan 10) a fresh user
        _mk_users(spark, [(1, "2025-01-10 23:00:00"), (5, "2025-01-10 22:00:00")]),
    ]
    got, progress, batch = _replay_dau(spark, tmp_path / "dau4", files)
    assert _data_batches(progress) == 4
    assert _watermark_drops(progress) == 2
    assert batch == {"2025-01-10": 3, "2025-01-12": 2}
    # user 5 (fresh, late) never counted: streaming undercounts Jan 10
    # by exactly the SLA-dropped row — THE divergence the runtime guard
    # in streaming_daily_active_users fails loudly about
    assert got == {"2025-01-10": 2, "2025-01-12": 2}


def test_append_windowed_agg_drops_late_rows(spark, tmp_path):
    """Late-data drop in the other stateful topology: an APPEND-mode
    windowed aggregate finalizes a window once the watermark passes its
    end; a later row for that window is dropped on input
    (numRowsDroppedByWatermark) and the emitted count excludes it.
    Windows the watermark never passes are withheld entirely — append
    mode trades completeness for finality, exactly the inverse of the
    complete-mode DAU contract above."""
    src = tmp_path / "late_append"
    files = [
        # b0: the 13:00 "clock" row advances the watermark to 12:00
        _mk_users(spark, [(7, "2025-01-10 13:00:00")]),
        # b1: builds the 10:00 window (kept: filter still lags)
        _mk_users(spark, [(1, "2025-01-10 10:00:00"), (2, "2025-01-10 10:05:00")]),
        # b2: 99 @ 10:30 is behind the now-effective 12:00 watermark ->
        # dropped; 4 @ 12:30's window end (13:00) is never passed -> withheld
        _mk_users(spark, [(99, "2025-01-10 10:30:00"), (4, "2025-01-10 12:30:00")]),
    ]
    stream = _file_replay(spark, src, files)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("user_id").alias("max_user"))
        .select(F.col("w.start").alias("window_start"), "n", "max_user")
    )
    out, progress = drain(agg, "late_append_agg", "append")
    got = [(str(r["window_start"]), r["n"], r["max_user"]) for r in out.collect()]
    assert _watermark_drops(progress) == 1
    # one finalized window; 99 excluded; 12:00/13:00 windows withheld
    assert got == [("2025-01-10 10:00:00", 2, 2)], got


def test_append_emission_boundary_is_inclusive(spark, tmp_path):
    """Pins the boundary streaming_append_hourly's oracle restates: a
    window whose END equals the final watermark IS emitted (max 13:00,
    delay 1h -> wm 12:00; the 11:00-12:00 window emits, the 13:00-14:00
    window is withheld)."""
    src = tmp_path / "boundary"
    files = [
        _mk_users(spark, [(1, "2025-01-10 10:30:00"), (2, "2025-01-10 11:30:00")]),
        _mk_users(spark, [(3, "2025-01-10 13:00:00")]),
    ]
    stream = _file_replay(spark, src, files)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("window_end"), "n")
    )
    out, _ = drain(agg, "boundary_probe", "append")
    ends = sorted(str(r["window_end"]) for r in out.collect())
    assert ends == ["2025-01-10 11:00:00", "2025-01-10 12:00:00"], ends


def test_streaming_append_hourly_drops_late_and_withholds_tail(spark, sf_dir):
    """The driver entry's two defined exclusions, checked against batch
    truth: the late-replayed first-day residue slice is absent from the
    emitted counts, and windows past the final watermark are withheld."""
    from mini_log_lakehouse_spark.sources.registry import load_table
    from mini_log_lakehouse_spark.streaming.ingest import (
        _APPEND_LATE_RESIDUE,
        streaming_append_hourly,
    )

    got = {
        (r["window_start"], r["event_type"]): r["requests"]
        for r in streaming_append_hourly(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    min_day, max_ts = ev.agg(
        F.min(F.to_date("ts")), F.max("ts")
    ).first()
    late = (F.to_date("ts") == F.lit(min_day)) & F.coalesce(
        F.col("user_id") % 7 == _APPEND_LATE_RESIDUE, F.lit(False)
    )
    batch_all = {
        (r["w"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch_kept = {
        (r["w"], r["event_type"]): r["n"]
        for r in ev.filter(~late)
        .groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    import datetime

    horizon = max_ts - datetime.timedelta(hours=1)
    expected = {
        k: n
        for k, n in batch_kept.items()
        if k[0] + datetime.timedelta(hours=1) <= horizon
    }
    assert got == expected
    # both exclusions are non-vacuous on this data (a late group may
    # vanish entirely — a singleton group's only row was late — or
    # merely shrink; either way the emitted count differs from the
    # batch-all count inside the emission horizon)
    assert any(
        got.get(k, 0) != n
        for k, n in batch_all.items()
        if k[0] + datetime.timedelta(hours=1) <= horizon
    ), "late slice never subtracted anything"
    assert any(
        k not in got
        and k[0] + datetime.timedelta(hours=1) > horizon
        for k in batch_kept
    ), "no tail window was withheld"


def test_streaming_update_vs_append_horizon(spark, sf_dir):
    """The output-mode triad's defining difference, on the SAME replay:
    update mode emits the tail windows append withholds (no emission
    horizon) while sharing the late-slice drop — so update's emitted
    set equals append's plus exactly the kept groups past the final
    watermark."""
    from mini_log_lakehouse_spark.streaming.ingest import (
        streaming_append_hourly,
        streaming_update_hourly,
    )

    upd = {
        (r["window_start"], r["event_type"]): r["requests"]
        for r in streaming_update_hourly(spark, sf_dir).collect()
    }
    app = {
        (r["window_start"], r["event_type"]): r["requests"]
        for r in streaming_append_hourly(spark, sf_dir).collect()
    }
    assert set(app) < set(upd)  # strict: the tail is withheld in append
    assert all(upd[k] == v for k, v in app.items())  # same counts where shared
    import datetime

    from mini_log_lakehouse_spark.sources.registry import load_table

    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    horizon = max_ts - datetime.timedelta(hours=1)
    extra = set(upd) - set(app)
    assert extra and all(
        k[0] + datetime.timedelta(hours=1) > horizon for k in extra
    )


def _hourly_users(stream):
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_drain_pins_partitions_for_the_query_only(spark, tmp_path):
    """``partitions`` sizes the query's state stores, the session conf
    is back afterwards, and the returned progress feeds the guards'
    helpers (two files -> two data batches, nothing late)."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    stream = _file_replay(
        spark,
        tmp_path / "pin",
        [
            _mk_users(spark, [(1, "2025-01-10 10:00:00")]),
            _mk_users(spark, [(2, "2025-01-10 11:00:00")]),
        ],
    )
    out, progress = drain(_hourly_users(stream), "drain_pinned", "complete", 2)
    assert spark.conf.get(key) == before
    assert sorted(r["n"] for r in out.collect()) == [1, 1]
    assert _data_batches(progress) == 2
    assert _watermark_drops(progress) == 0
    assert {
        s["numShufflePartitions"] for p in progress for s in p["stateOperators"]
    } == {2}


def test_drain_restores_partitions_when_the_query_fails(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    stream = _file_replay(
        spark, tmp_path / "fail", [_mk_users(spark, [(1, "2025-01-10 10:00:00")])]
    )
    failing = stream.select(F.raise_error(F.lit("drain probe")).alias("x"))
    with pytest.raises(StreamingQueryException, match="drain probe"):
        drain(failing, "drain_failing", "append", 2)
    assert spark.conf.get(key) == before


def test_drain_without_partitions_leaves_the_conf_alone(spark, tmp_path, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        sets.append(key)
        real_set(self, key, value)

    stream = _file_replay(
        spark, tmp_path / "none", [_mk_users(spark, [(1, "2025-01-10 10:00:00")])]
    )
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    _, progress = drain(_hourly_users(stream), "drain_unpinned", "complete")
    assert sets == []
    assert {
        s["numShufflePartitions"] for p in progress for s in p["stateOperators"]
    } == {session_parts}


def test_stream_partitions_sizes_by_source_bytes(tmp_path, monkeypatch):
    """Spark-free: one state partition per started 8 MB of the events
    table (file or directory), clamped to the session's parallelism;
    full parallelism when nothing can be measured or the operator's
    state runs in Python workers."""
    from mini_log_lakehouse_spark.streaming import ingest

    monkeypatch.setattr(ingest, "default_parallelism", lambda: 3)
    mb = 1 << 20

    def sized(path, n):  # sparse: the size is metadata only
        with open(path, "wb") as fh:
            fh.truncate(n)

    one_file = tmp_path / "file"
    one_file.mkdir()
    sized(one_file / "events.parquet", 1)
    assert ingest._stream_partitions(str(one_file)) == 1
    sized(one_file / "events.parquet", 9 * mb)
    assert ingest._stream_partitions(str(one_file)) == 2
    assert ingest._stream_partitions(str(one_file), python_stateful=True) == 3

    directory = tmp_path / "dir" / "events.parquet"
    (directory / "date=1").mkdir(parents=True)
    sized(directory / "part-0.parquet", 8 * mb)
    sized(directory / "date=1" / "part-1.parquet", 1)
    assert ingest._stream_partitions(str(tmp_path / "dir")) == 2
    sized(directory / "part-2.parquet", 40 * mb)
    assert ingest._stream_partitions(str(tmp_path / "dir")) == 3

    assert ingest._stream_partitions(str(tmp_path / "missing")) == 3


def test_p95_guard_raises_outside_the_exact_regime(spark, sf_dir):
    from mini_log_lakehouse_spark.streaming.ingest import streaming_hourly_fact_p95

    with pytest.raises(AssertionError, match=r"accuracy/2 \(1\)"):
        streaming_hourly_fact_p95(spark, sf_dir, accuracy=2)


def test_dau_guard_raises_on_a_multi_batch_replay(spark, sf_dir, tmp_path, monkeypatch):
    from mini_log_lakehouse_spark.streaming import ingest

    stream = _file_replay(
        spark,
        tmp_path / "dau_guard",
        [
            _mk_users(spark, [(1, "2025-01-10 10:00:00")]),
            _mk_users(spark, [(2, "2025-01-10 11:00:00")]),
        ],
    )
    monkeypatch.setattr(ingest, "read_events_stream", lambda _spark, _sf: stream)
    with pytest.raises(AssertionError, match="drained in 2 data-carrying"):
        ingest.streaming_daily_active_users(spark, sf_dir)


@pytest.mark.parametrize(
    "entry", ["streaming_append_hourly", "streaming_update_hourly"]
)
def test_replay_guard_raises_on_a_batch_count_mismatch(
    spark, sf_dir, monkeypatch, entry
):
    """The output-mode entries fail loudly when the replay promised one
    more microbatch than the drain ran."""
    from mini_log_lakehouse_spark.streaming import ingest

    real = ingest._weekly_replay

    def one_batch_short(spark, sf_dir):
        stream, n_batches, n_late_groups = real(spark, sf_dir)
        return stream, n_batches + 1, n_late_groups

    monkeypatch.setattr(ingest, "_weekly_replay", one_batch_short)
    with pytest.raises(AssertionError, match=f"{entry} replay contract broken"):
        getattr(ingest, entry)(spark, sf_dir)
