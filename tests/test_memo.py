"""session.memo / forget / scratch_dir / release_corpus_caches: the one
per-session memo every operator's corpus artifacts go through. The
policy checks run Spark-free against a stand-in session; one Spark test
pins that the entries which write directories write them under the
session's scratch root and that a release removes them."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace
from unittest import mock

import pytest
from pyspark.sql import DataFrame

from mini_log_lakehouse_spark import session


def _session(app_id: str):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId=app_id),
        catalog=SimpleNamespace(clearCache=lambda: None),
    )


@pytest.fixture
def fresh(monkeypatch, tmp_path):
    """An empty memo and scratch registry, with scratch roots under
    tmp_path — the live test session's entries stay untouched."""
    monkeypatch.setattr(session, "_MEMO", {})
    monkeypatch.setattr(session, "_SCRATCH", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def test_memo_builds_once_and_never_stores_none(fresh):
    s = _session("app-1")
    builds = []
    assert session.memo(s, ("k",), lambda: builds.append(1)) is None
    assert session.memo(s, ("k",), lambda: builds.append(1)) is None
    assert builds == [1, 1], "a None result must be rebuilt, not memoized"
    assert session.memo(s, ("k",), lambda: 42) == 42
    assert session.memo(s, ("k",), lambda: pytest.fail("memo hit must not build")) == 42


def test_new_session_insert_drops_old_entries_and_scratch_root(fresh):
    old, new = _session("app-old"), _session("app-new")
    df = mock.MagicMock(spec=DataFrame)
    session.memo(old, ("df",), lambda: df)
    session.memo(old, ("rows",), lambda: [1, 2])
    old_dir = session.scratch_dir(old, "export_")
    old_root = os.path.dirname(old_dir)
    assert os.path.isdir(old_dir)

    session.memo(new, ("rows",), lambda: [3])
    df.unpersist.assert_called_once()
    assert not os.path.exists(old_root)
    assert list(session._MEMO) == [("app-new", "rows")]
    assert session.memo(old, ("rows",), lambda: None) is None


def test_forget_drops_one_entry(fresh):
    s = _session("app-1")
    df = mock.MagicMock(spec=DataFrame)
    session.memo(s, ("a",), lambda: df)
    session.memo(s, ("b",), lambda: "kept")
    session.forget(s, ("a",))
    session.forget(s, ("never-stored",))
    df.unpersist.assert_called_once()
    assert session.memo(s, ("a",), lambda: None) is None
    assert session.memo(s, ("b",), lambda: None) == "kept"


def test_release_leaves_no_entry_and_no_scratch_root(fresh):
    s = _session("app-1")
    session.memo(s, ("a",), lambda: 1)
    d1, d2 = session.scratch_dir(s, "x_"), session.scratch_dir(s, "y_")
    assert d1 != d2 and os.path.dirname(d1) == os.path.dirname(d2)
    session.release_corpus_caches(s)
    assert not session._MEMO and not session._SCRATCH
    assert not os.path.exists(os.path.dirname(d1))


def test_entry_directories_live_under_the_scratch_root(spark, sf_dir):
    from mini_log_lakehouse_spark.operators.extensions import lakehouse_change_feed
    from mini_log_lakehouse_spark.sources.jsonl import documents_jsonl_roundtrip
    from mini_log_lakehouse_spark.streaming.ingest import streaming_update_hourly

    # each entry writes its directory when called; no result is needed
    for entry in (streaming_update_hourly, documents_jsonl_roundtrip, lakehouse_change_feed):
        entry(spark, sf_dir)
    root = session._SCRATCH[spark.sparkContext.applicationId]
    made = os.listdir(root)
    for prefix in ("weekly_replay_", "jsonl_export_", "mlls_cdc_"):
        assert any(d.startswith(prefix) for d in made), (prefix, made)
    session.release_corpus_caches(spark)
    assert not session._MEMO and not session._SCRATCH
    assert not os.path.exists(root)
