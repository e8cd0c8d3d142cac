"""Managed-table layer e2e: MERGE incremental upsert, time travel,
compaction/vacuum — on the parquet fallback (this container has no Delta
runtime; plans/lakehouse.py docstring documents the attempt and the
switch point)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable, delta_available
from mini_log_lakehouse_spark.plans.models import build_fct_requests_hourly, build_stg_logs
from mini_log_lakehouse_spark.plans.pipeline import incremental_update, init_lake
from mini_log_lakehouse_spark.sources.logs import (
    BRONZE_SCHEMA,
    parse_logs,
    read_bronze,
    write_bronze,
)
from tests.job_count import count_jobs

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "nginx_access.log")

#: Second daily batch: one line re-touching an existing grain
#: (2025-11-10 10h /api/v1/items) and one opening a brand-new date.
BATCH2 = """\
127.0.0.1 - - [10/Nov/2025:10:45:00 +0530] "GET /api/v1/items?id=99 HTTP/1.1" 200 2048 "-" "Mozilla/5.0"
10.0.0.7 - - [12/Nov/2025:09:00:00 +0530] "GET /metrics HTTP/1.1" 200 64 "-" "curl/8.1.2"
"""


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def lake_env(spark, tmp_path):
    bronze = str(tmp_path / "bronze")
    lake_root = str(tmp_path / "lake")
    write_bronze(parse_logs(spark, FIXTURE), bronze)
    batch2 = tmp_path / "batch2.log"
    batch2.write_text(BATCH2)
    return bronze, lake_root, str(batch2)


def test_environment_has_no_delta_runtime():
    # If this ever flips to True, the layer upgrades itself to real Delta
    # MERGE/time-travel — the fallback asserts document the current state.
    assert not delta_available()


def test_incremental_merge_equals_full_recompute(spark, lake_env):
    bronze, lake_root, batch2 = lake_env
    lake = init_lake(spark, bronze, lake_root)
    assert lake.latest_version() == 0
    v0 = _rows(lake.read())

    lake = incremental_update(spark, batch2, bronze, lake_root)
    assert lake.latest_version() == 1

    # ground truth: full recompute over ALL bronze (original + batch2)
    full = build_fct_requests_hourly(build_stg_logs(read_bronze(spark, bronze)))
    assert _rows(lake.read()) == _rows(full)
    # and it actually changed: the re-touched grain now has 3 requests
    merged = {
        (str(r["date"]), r["hour"], r["endpoint"]): r["requests"]
        for r in lake.read().collect()
    }
    assert merged[("2025-11-10", "10", "/api/v1/items")] == 3
    assert ("2025-11-12", "09", "/metrics") in merged
    # untouched grains are byte-identical to v0
    assert merged[("2025-11-11", "12", "/health")] == 1
    assert _rows(lake.read(version=0)) == v0  # time travel


def test_replayed_batch_does_not_double_count(spark, lake_env):
    """foreachBatch is at-least-once: a microbatch can re-run after its
    bronze write landed. The same batch_id must overwrite its own
    ingest_batch partition (not append a duplicate), so bronze row counts
    and the merged fact are unchanged by the replay."""
    bronze, lake_root, batch2 = lake_env
    init_lake(spark, bronze, lake_root)

    lake = incremental_update(spark, batch2, bronze, lake_root)
    bronze_rows = _rows(read_bronze(spark, bronze))
    fct_rows = _rows(lake.read())

    # replay: identical call, identical path-derived batch_id
    lake = incremental_update(spark, batch2, bronze, lake_root)
    assert _rows(read_bronze(spark, bronze)) == bronze_rows
    assert _rows(lake.read()) == fct_rows
    merged = {
        (str(r["date"]), r["hour"], r["endpoint"]): r["requests"]
        for r in lake.read().collect()
    }
    assert merged[("2025-11-10", "10", "/api/v1/items")] == 3  # not 4


def test_concurrent_writer_claim_raises(spark, lake_env, tmp_path):
    """Two writers computing the same next version: the second pointer
    flip must fail loudly (ConcurrentWriteError), not clobber."""
    import os

    from mini_log_lakehouse_spark.plans.lakehouse import ConcurrentWriteError

    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    # simulate a racing writer that already claimed version 1
    open(os.path.join(lake.path, "v1._claim"), "w").close()
    with pytest.raises(ConcurrentWriteError):
        lake.write(lake.read())
    # recovery: clear the stale claim, the write proceeds
    os.remove(os.path.join(lake.path, "v1._claim"))
    assert lake.write(lake.read()) == 1


def test_merge_rejects_duplicate_source_keys(spark, lake_env):
    """Delta MERGE semantics: multiple source rows for one key is an
    error, not a silent duplicate insert."""
    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    dup_src = lake.read().limit(1).unionAll(lake.read().limit(1))
    with pytest.raises(ValueError, match="multiple source rows"):
        lake.merge(dup_src, keys=["date", "hour", "endpoint"])


def test_merge_prune_keeps_untouched_rows_verbatim(spark, lake_env):
    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    before = _rows(lake.read())
    # merge an empty source with a prune that selects nothing: no-op content
    empty = lake.read().limit(0)
    lake.merge(empty, keys=["date", "hour", "endpoint"], prune=F.lit(False))
    assert _rows(lake.read()) == before
    assert lake.latest_version() == 1  # but it IS a new snapshot


def test_streaming_fct_maintenance_equals_batch(spark, lake_env, tmp_path):
    """foreachBatch MERGE: streaming the same raw files yields exactly the
    batch-recomputed fact, and a second run with a new file updates it."""
    import shutil

    from mini_log_lakehouse_spark.streaming.lake import stream_fct_maintenance

    _, _, batch2 = lake_env
    raw = tmp_path / "raw_stream"
    raw.mkdir()
    shutil.copy(FIXTURE, raw / "a.log")
    bronze = str(tmp_path / "bronze_stream")
    lake_root = str(tmp_path / "lake_stream")
    ckpt = str(tmp_path / "ckpt_stream")

    stream_fct_maintenance(spark, str(raw), bronze, lake_root, ckpt)
    from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable

    lake = LakehouseTable(spark, lake_root, "fct_requests_hourly")
    full = build_fct_requests_hourly(build_stg_logs(read_bronze(spark, bronze)))
    assert _rows(lake.read()) == _rows(full)

    shutil.copy(batch2, raw / "b.log")
    stream_fct_maintenance(spark, str(raw), bronze, lake_root, ckpt)
    full2 = build_fct_requests_hourly(build_stg_logs(read_bronze(spark, bronze)))
    assert _rows(lake.read()) == _rows(full2)
    merged = {
        (str(r["date"]), r["hour"], r["endpoint"]): r["requests"]
        for r in lake.read().collect()
    }
    assert merged[("2025-11-10", "10", "/api/v1/items")] == 3
    assert ("2025-11-12", "09", "/metrics") in merged


def test_stream_dedup_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a doubled events directory dedupes
    back to the distinct key set (bounded state via the watermark)."""
    import shutil

    from mini_log_lakehouse_spark.streaming.lake import stream_dedup_events

    src = "/root/testdata/sf0.001/events.parquet"
    d = tmp_path / "events_dup"
    d.mkdir()
    shutil.copy(src, d / "part-0.parquet")
    shutil.copy(src, d / "part-1.parquet")  # full duplicate file

    out = stream_dedup_events(spark, str(d))
    base = spark.read.parquet(src)
    assert out.count() == base.select("event_id").distinct().count()
    assert out.select("event_id").distinct().count() == out.count()


def test_compact_and_vacuum(spark, lake_env):
    bronze, lake_root, batch2 = lake_env
    lake = init_lake(spark, bronze, lake_root)
    incremental_update(spark, batch2, bronze, lake_root)
    content = _rows(lake.read())
    v = lake.compact()
    assert v == 2
    assert _rows(lake.read()) == content  # compaction preserves content
    dropped = lake.vacuum(keep_last=2)
    assert dropped == [0]
    with pytest.raises(FileNotFoundError):
        lake.read(version=0)
    assert _rows(lake.read(version=2)) == content


def test_compact_cluster_by_orders_files(spark, lake_env):
    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    content = _rows(lake.read())
    lake.compact(target_partitions=2, cluster_by=["date", "hour"])
    assert _rows(lake.read()) == content  # clustering preserves content
    # each output file covers a disjoint, internally-sorted key range:
    # per-file (min, max) intervals must not overlap across files
    df = lake.read().withColumn("_file", F.element_at(F.split(F.input_file_name(), "/"), -1))
    spans = {
        r["_file"]: (r["lo"], r["hi"])
        for r in df.groupBy("_file")
        .agg(F.min("date").alias("lo"), F.max("date").alias("hi"))
        .collect()
    }
    intervals = sorted(spans.values())
    for (_, hi_prev), (lo_next, _) in zip(intervals, intervals[1:]):
        assert hi_prev <= lo_next


def test_merge_schema_evolution(spark, tmp_path):
    """Delta autoMerge parity: a source adding a column is rejected in
    strict mode, evolves the schema when asked (nulls for old rows),
    keeps earlier versions' schemas under time travel, and always
    rejects a type conflict."""
    import pytest
    from pyspark.sql import functions as F

    from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path), "evolving")
    v0 = t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "val"]))
    src = spark.createDataFrame([(2, "b2", 20), (3, "c", 30)], ["k", "val", "extra"])

    with pytest.raises(ValueError, match="adds columns.*extra"):
        t.merge(src, keys=["k"])

    v1 = t.merge(src, keys=["k"], merge_schema=True)
    rows = {r["k"]: (r["val"], r["extra"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b2", 20), 3: ("c", 30)}

    # time travel: the pre-evolution version keeps its own schema
    assert t.read(version=v0).columns == ["k", "val"]
    assert set(t.read(version=v1).columns) == {"k", "val", "extra"}

    # a second merge with the OLD schema: inserted rows null-fill the new
    # column, but a MATCHED row keeps its evolved-column value (Delta's
    # UPDATE SET * only assigns the columns the source carries — it must
    # not null-stomp `extra` on key 2)
    t.merge(spark.createDataFrame([(2, "b3"), (4, "d")], ["k", "val"]),
            keys=["k"], merge_schema=True)
    rows = {r["k"]: (r["val"], r["extra"]) for r in t.read().collect()}
    assert rows[4] == ("d", None)
    assert rows[2] == ("b3", 20), "matched row lost evolved-column value"

    # type conflicts always reject, evolution flag or not
    bad = spark.createDataFrame([(5, 99)], ["k", "val"]).withColumn(
        "val", F.col("val").cast("long")
    )
    with pytest.raises(ValueError, match="type conflict on 'val'"):
        t.merge(bad, keys=["k"], merge_schema=True)


def test_history_describes_operations(spark, tmp_path):
    from pyspark.sql import functions as F

    from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path), "hist")
    t.write(spark.createDataFrame([(1, "a")], ["k", "val"]))
    t.merge(spark.createDataFrame([(2, "b")], ["k", "val"]), keys=["k"])
    t.compact()
    h = t.history()
    assert [e["operation"] for e in h] == ["OPTIMIZE", "MERGE", "WRITE"]
    assert [e["version"] for e in h] == [2, 1, 0]
    assert all("k:bigint" in e["schema"][0] for e in h)
    # vacuum drops old versions from history too
    t.vacuum(keep_last=1)
    h2 = t.history()
    assert [e["version"] for e in h2] == [2]


def test_change_feed_keyed_updates_and_inserts(spark, tmp_path):
    """Delta CDF parity on the fallback: keyed change_feed reports the
    initial snapshot as inserts, MERGE-driven updates as pre/postimage
    pairs, MERGE inserts as inserts, overwrite-dropped keys as deletes,
    and a compaction commit as NOTHING (logical diff, like OPTIMIZE
    producing no CDF rows)."""
    t = LakehouseTable(spark, str(tmp_path / "lake"), "cdc")
    rows0 = [(1, "a", 10), (2, "b", 20)]
    df = spark.createDataFrame(rows0, "k int, s string, v int")
    t.write(df)                                                  # v0
    t.merge(
        spark.createDataFrame([(2, "b", 25), (3, "c", 30)], "k int, s string, v int"),
        keys=["k"],
    )                                                            # v1
    t.compact(target_partitions=1)                               # v2 (no-op feed)
    t.write(spark.createDataFrame([(2, "b", 25), (3, "c", 30)], "k int, s string, v int"))  # v3 drops k=1

    feed = t.change_feed(0, keys=["k"])
    got = {
        (r["_commit_version"], r["_change_type"], r["k"]): (r["s"], r["v"])
        for r in feed.collect()
    }
    assert got[(0, "insert", 1)] == ("a", 10)
    assert got[(0, "insert", 2)] == ("b", 20)
    assert got[(1, "update_preimage", 2)] == ("b", 20)
    assert got[(1, "update_postimage", 2)] == ("b", 25)
    assert got[(1, "insert", 3)] == ("c", 30)
    assert got[(3, "delete", 1)] == ("a", 10)
    # compaction (v2) emitted nothing at all
    assert not [k for k in got if k[0] == 2]
    # and nothing else leaked in
    assert len(got) == 6


def test_change_feed_schema_evolution_and_keyless(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "lake"), "cdc2")
    t.write(spark.createDataFrame([(1, "a")], "k int, s string"))           # v0
    t.merge(
        spark.createDataFrame([(1, "a", 99)], "k int, s string, extra int"),
        keys=["k"],
        merge_schema=True,
    )                                                                        # v1
    feed = t.change_feed(1, keys=["k"]).collect()
    kinds = sorted(r["_change_type"] for r in feed)
    assert kinds == ["update_postimage", "update_preimage"]
    post = next(r for r in feed if r["_change_type"] == "update_postimage")
    pre = next(r for r in feed if r["_change_type"] == "update_preimage")
    assert post["extra"] == 99 and pre["extra"] is None  # evolved col null in preimage

    # keyless mode: multiset insert/delete works on stable schemas…
    t2 = LakehouseTable(spark, str(tmp_path / "lake"), "cdc3")
    t2.write(spark.createDataFrame([(1,), (2,)], "k int"))
    t2.write(spark.createDataFrame([(2,), (3,)], "k int"))
    keyless = {
        (r["_change_type"], r["k"]) for r in t2.change_feed(1).collect()
    }
    assert keyless == {("insert", 3), ("delete", 1)}
    # …and rejects schema-evolved ranges (no row identity to align on)
    with pytest.raises(ValueError, match="keyless"):
        t.change_feed(1)


def test_change_feed_rejects_empty_or_inverted_range(spark, tmp_path):
    """An inverted range, and any range on a table with no commits,
    must raise the same clear range error — not IndexError."""
    t = LakehouseTable(spark, str(tmp_path / "lake"), "cdc3")
    with pytest.raises(FileNotFoundError, match="outside published"):
        t.change_feed(0)  # no commits at all
    t.write(spark.createDataFrame([(1, "a")], "k int, s string"))
    with pytest.raises(FileNotFoundError, match="outside published"):
        t.change_feed(1, ending_version=0)


def test_change_feed_null_key_row_is_not_churned(spark, tmp_path):
    """A NULL-keyed row identical in consecutive versions must emit
    NOTHING (null-safe key join); changing its value must emit the
    pre/postimage pair."""
    t = LakehouseTable(spark, str(tmp_path / "lake"), "cdc4")
    t.write(spark.createDataFrame([(None, "x", 1), (1, "a", 10)], "k int, s string, v int"))  # v0
    t.write(spark.createDataFrame([(None, "x", 1), (1, "a", 11)], "k int, s string, v int"))  # v1: only k=1 changes
    t.write(spark.createDataFrame([(None, "x", 2), (1, "a", 11)], "k int, s string, v int"))  # v2: NULL row changes
    feed = t.change_feed(1, keys=["k"]).collect()
    by_version = {}
    for r in feed:
        by_version.setdefault(r["_commit_version"], []).append(r)
    v1 = {(r["_change_type"], r["k"]) for r in by_version[1]}
    assert v1 == {("update_preimage", 1), ("update_postimage", 1)}
    v2 = {(r["_change_type"], r["k"], r["v"]) for r in by_version[2]}
    assert v2 == {("update_preimage", None, 1), ("update_postimage", None, 2)}


def test_change_feed_maintains_downstream_aggregate(spark, tmp_path):
    """Consume the keyed change feed the way an incremental downstream
    does — +postimage/insert, -preimage/delete — and check the
    maintained per-status count-and-sum equals a direct recompute of
    the latest version. This is the contract that makes the feed useful:
    the logical diff must be EXACTLY invertible into state updates."""
    t = LakehouseTable(spark, str(tmp_path / "lake"), "cdc5")
    t.write(spark.createDataFrame(
        [(1, "open", 10), (2, "open", 20), (3, "done", 30)],
        "k int, status string, v int"))                                   # v0
    t.merge(spark.createDataFrame(
        [(2, "done", 25), (4, "open", 40)], "k int, status string, v int"),
        keys=["k"])                                                       # v1
    t.write(spark.createDataFrame(
        [(1, "open", 11), (3, "done", 30), (4, "open", 40)],
        "k int, status string, v int"))                                   # v2 drops k=2, updates k=1

    feed = t.change_feed(0, keys=["k"]).collect()
    state: dict[str, list[int]] = {}
    for r in sorted(feed, key=lambda r: r["_commit_version"]):
        sign = {"insert": 1, "update_postimage": 1,
                "delete": -1, "update_preimage": -1}[r["_change_type"]]
        acc = state.setdefault(r["status"], [0, 0])
        acc[0] += sign
        acc[1] += sign * r["v"]
    state = {k: v for k, v in state.items() if v != [0, 0]}
    direct = {
        r["status"]: [r["n"], r["s"]]
        for r in t.read()
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert state == direct, (state, direct)


# --- snapshot reads from the commit log -----------------------------------


def _inferred_schema(spark, lake, v):
    return spark.read.parquet(lake._version_dir(v)).schema


def test_read_runs_no_spark_job(spark, lake_env):
    """Resolving a snapshot takes its schema from the commit log: no
    footer-inference job, for the latest version or a time-travel one."""
    bronze, lake_root, batch2 = lake_env
    lake = init_lake(spark, bronze, lake_root)
    incremental_update(spark, batch2, bronze, lake_root)
    for version in (None, 0, 1):
        df, jobs = count_jobs(spark, lambda: lake.read(version))
        assert jobs == 0, version
        v = lake.latest_version() if version is None else version
        assert df.schema == _inferred_schema(spark, lake, v)


def test_time_travel_returns_each_versions_stored_schema(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path), "evolving")
    t.write(spark.createDataFrame([(1, "a")], "k int, val string"))
    t.merge(
        spark.createDataFrame([(2, "b", 2.5)], "k int, val string, extra double"),
        keys=["k"],
        merge_schema=True,
    )
    for v, columns in ((0, ["k", "val"]), (1, ["k", "val", "extra"])):
        df, jobs = count_jobs(spark, lambda: t.read(v))
        assert jobs == 0
        assert df.columns == columns
        assert df.schema == _inferred_schema(spark, t, v)
    assert sorted(tuple(r) for r in t.read(1).collect()) == [(1, "a", None), (2, "b", 2.5)]


def test_read_version_without_stored_schema(spark, tmp_path):
    """Versions from an older writer (no ``spark_schema`` in the commit
    log, or no commit-log entry at all) still read, by inference."""
    import json

    t = LakehouseTable(spark, str(tmp_path), "old")
    t.write(spark.createDataFrame([(1, "a")], "k bigint, val string"))
    t.write(spark.createDataFrame([(2, "b")], "k bigint, val string"))
    with open(t._meta_path(0)) as fh:
        meta = json.load(fh)
    del meta["spark_schema"]
    with open(t._meta_path(0), "w") as fh:
        json.dump(meta, fh)
    os.remove(t._meta_path(1))
    assert [tuple(r) for r in t.read(0).collect()] == [(1, "a")]
    assert [tuple(r) for r in t.read().collect()] == [(2, "b")]
    assert t.read().schema == _inferred_schema(spark, t, 1)


def test_rejected_merge_leaves_no_trace(spark, lake_env):
    """A duplicate-key MERGE fails inside its write: the version number
    is released (no claim, no partial directory, no commit-log entry)
    and the next MERGE publishes it."""
    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    dup = lake.read().limit(1).unionAll(lake.read().limit(1))
    with pytest.raises(ValueError, match="multiple source rows"):
        lake.merge(dup, keys=["date", "hour", "endpoint"])
    assert lake.latest_version() == 0
    for leftover in ("v1", "v1._claim", "v1._meta.json"):
        assert not os.path.exists(os.path.join(lake.path, leftover)), leftover
    assert lake.merge(lake.read().limit(1), keys=["date", "hour", "endpoint"]) == 1


def test_merge_duplicate_check_on_first_publish(spark, tmp_path):
    """The uniqueness check also guards a MERGE that creates the table,
    and finds duplicates on NULL keys (GROUP BY semantics)."""
    t = LakehouseTable(spark, str(tmp_path), "fresh")
    dup = spark.createDataFrame([(None, "a"), (None, "b"), (1, "c")], "k int, val string")
    with pytest.raises(ValueError, match=r"multiple rows for key \{'k': None\}"):
        t.merge(dup, keys=["k"])
    assert not t.exists() and not os.path.exists(t._version_dir(0))


def test_merge_keeps_null_key_target_rows(spark, tmp_path):
    """An equi-join never matches a NULL key: the target's NULL-key row
    survives a MERGE whose source also carries a NULL key."""
    t = LakehouseTable(spark, str(tmp_path), "nulls")
    t.write(spark.createDataFrame([(None, "old"), (1, "a"), (2, "b")], "k int, val string"))
    t.merge(spark.createDataFrame([(None, "new"), (2, "b2"), (3, "c")], "k int, val string"), keys=["k"])
    got = sorted((str(r["k"]), r["val"]) for r in t.read().collect())
    assert got == [("1", "a"), ("2", "b2"), ("3", "c"), ("None", "new"), ("None", "old")]


# --- merge_batch_into_lake --------------------------------------------------

#: One batch touching two existing days.
BATCH_TWO_DAYS = """\
127.0.0.1 - - [10/Nov/2025:11:05:00 +0530] "GET /health HTTP/1.1" 500 10 "-" "curl/8.1.2"
127.0.0.1 - - [11/Nov/2025:12:30:00 +0530] "GET /health HTTP/1.1" 200 20 "-" "curl/8.1.2"
"""


def test_merge_batch_spanning_two_days_equals_full_recompute(spark, lake_env, tmp_path):
    from mini_log_lakehouse_spark.plans.pipeline import merge_batch_into_lake

    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    raw = tmp_path / "two_days.log"
    raw.write_text(BATCH_TWO_DAYS)
    merge_batch_into_lake(spark, parse_logs(spark, str(raw)), bronze, lake_root, batch_id="two")
    assert lake.latest_version() == 1
    full = build_fct_requests_hourly(build_stg_logs(read_bronze(spark, bronze)))
    assert _rows(lake.read()) == _rows(full)
    merged = {
        (str(r["date"]), r["hour"], r["endpoint"]): (r["requests"], r["errors"])
        for r in lake.read().collect()
    }
    # each day's grain gained the batch's one line on top of the fixture's
    assert merged[("2025-11-10", "11", "/health")] == (2, 1)
    assert merged[("2025-11-11", "12", "/health")] == (2, 1)


def test_merge_batch_without_parsed_rows_publishes_nothing(spark, lake_env, tmp_path):
    from mini_log_lakehouse_spark.plans.pipeline import merge_batch_into_lake

    bronze, lake_root, _ = lake_env
    lake = init_lake(spark, bronze, lake_root)
    raw = tmp_path / "garbage.log"
    raw.write_text("not a log line\n\n")
    merge_batch_into_lake(spark, parse_logs(spark, str(raw)), bronze, lake_root, batch_id="g")
    assert lake.latest_version() == 0


def test_batch_dates_unescapes_partition_names(tmp_path):
    from mini_log_lakehouse_spark.plans.pipeline import batch_dates

    batch = tmp_path / "ingest_batch=a%3Ab%2Fc"
    for d in ("date=2025-11-10", "date=__HIVE_DEFAULT_PARTITION__", "date=x%25y"):
        (batch / d).mkdir(parents=True)
    (tmp_path / "ingest_batch=other" / "date=2025-01-01").mkdir(parents=True)
    assert batch_dates(str(tmp_path), "a:b/c") == ["2025-11-10", None, "x%y"]
    assert batch_dates(str(tmp_path), "missing") == []
    assert batch_dates(str(tmp_path / "no_bronze"), "a:b/c") == []


def test_batch_dates_match_a_collect_of_the_written_batch(spark, tmp_path):
    """The directory names Spark writes round-trip to the values a
    ``distinct().collect()`` of the batch gives, NULL included."""
    from mini_log_lakehouse_spark.plans.pipeline import batch_dates

    rows = [("2025-11-10",), (None,), ("a b:c%d",)]
    batch = spark.createDataFrame(rows, "date string").select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in BRONZE_SCHEMA.fields[:-1]],
        "date",
    )
    bronze = str(tmp_path / "bronze")
    write_bronze(batch, bronze, mode="append", batch_id="odd id/1")
    want = sorted(
        (r["date"] for r in batch.select("date").distinct().collect()),
        key=lambda d: (d is not None, d),
    )
    got = sorted(batch_dates(bronze, "odd id/1"), key=lambda d: (d is not None, d))
    assert got == want


# --- job budgets --------------------------------------------------------------


def test_merge_batch_job_budget(spark, lake_env):
    """A MERGE batch is the bronze write plus the published plan's jobs:
    no schema probe, no touched-dates collect, no separate duplicate-key
    check."""
    from mini_log_lakehouse_spark.plans.pipeline import merge_batch_into_lake

    bronze, lake_root, batch2 = lake_env
    init_lake(spark, bronze, lake_root)
    batch = parse_logs(spark, batch2)
    lake, jobs = count_jobs(
        spark, lambda: merge_batch_into_lake(spark, batch, bronze, lake_root, batch_id="b2")
    )
    assert lake.latest_version() == 1
    assert jobs <= 5, jobs
