"""The bench's single printed JSON line must always fit a ~2000-char
stdout tail and stay parseable — an over-long line is cut at
the FRONT and the run's bench artifact is lost. summary_line builds one
fixed shape whose per-query maps hold only HEADLINE names, so its length
has a maximum: these tests check that maximum once (every number at 5
digits) and the shape on committed artifacts."""

from __future__ import annotations

import json
import os

import pytest

import bench
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LEG_KEYS = {"factor", "sf", "value", "ratio_total", "iso_ratio_total", "q"}
TOP_KEYS = {
    "metric", "value", "unit", "sf", "iters", "ratio_total", "iso_ratio_total",
    "baseline_total", "queries", "host", "detail",
}


def _leg(factor: int, names, t: float) -> dict:
    qs = {n: t for n in names}
    return {
        "factor": factor,
        "sf": t,
        "value": t,
        "queries": qs,
        "queries_cold": dict(qs),
        "baseline": dict(qs),
        "ratios": {n: t for n in qs},
        "ratio_total": t,
        "iso_ratio_total": t,
        "isolation": {n: {"ratio_isolated": t} for n in qs},
        "incremental": {"incremental_minhash_pairs": {"speedup": t}},
    }


def _payload(names, t: float = 1.2345) -> dict:
    qs = {n: t for n in names}
    return {
        "metric": "headline_query_median_total",
        "value": t,
        "unit": "sec",
        "queries": qs,
        "queries_cold": dict(qs),
        "sf": t,
        "baseline": dict(qs),
        "iters": 5,
        "ratios": {n: t for n in qs},
        "ratio_total": t,
        "iso_ratio_total": t,
        "host": {"cores": 4, "mem_gb": 15.6, "load1": 0.5},
        "scaled": _leg(10, names, t),
        "scaled_100": _leg(100, names, t),
        "scaled_300": _leg(300, names, t),
    }


def test_committed_artifact_fits_and_keeps_judged_fields():
    """Real payloads (the r11 run-5 artifact and the r16 detail file) give
    a line within budget with every HEADLINE median at the top, each
    leg's own medians in its ``q``, the host key and the judged ratios."""
    for artifact in ("BENCH_r11_run5.json", "BENCH_DETAIL_r16_opt.json"):
        with open(os.path.join(REPO, artifact)) as fh:
            payload = json.load(fh)
        line = bench.summary_line(payload)
        assert len(line) <= bench.LINE_BUDGET, artifact
        got = json.loads(line)
        assert set(got) == TOP_KEYS | {"scaled", "scaled_100", "scaled_300"}
        assert got["metric"] == "headline_query_median_total"
        assert got["ratio_total"] == payload["ratio_total"]
        assert list(got["queries"]) == list(bench.HEADLINE), artifact
        for name, t in got["queries"].items():
            assert t == round(payload["queries"][name], 2)
        for leg in ("scaled", "scaled_100", "scaled_300"):
            assert set(got[leg]) == LEG_KEYS, (artifact, leg)
            assert set(got[leg]["q"]) == set(payload[leg]["queries"]), (artifact, leg)
            assert got[leg]["ratio_total"] == payload[leg]["ratio_total"]
        assert set(got["scaled_300"]["q"]) == set(bench.HEADLINE_HEAVY)
        assert got["scaled_300"]["iso_ratio_total"] == payload["scaled_300"][
            "iso_ratio_total"
        ]


def test_worst_case_line_fits_budget():
    """Every leg present with every HEADLINE name, every number at 5
    digits, and names outside HEADLINE in the payload (they never ride
    the line); then the longest ``skipped`` marker in place of a leg."""
    big = 99999.99
    payload = _payload(list(bench.HEADLINE) + [f"extra_{i}" for i in range(50)], big)
    payload["iters"] = 99999
    payload["host"] = {"cores": 99999, "mem_gb": big, "load1": big}
    for leg in ("scaled", "scaled_100", "scaled_300"):
        payload[leg]["factor"] = 99999
    full = bench.summary_line(payload)
    assert len(full) <= bench.LINE_BUDGET, len(full)
    assert set(json.loads(full)["scaled"]["q"]) == set(bench.HEADLINE)
    marker = f"{2**64}/{2**64}"
    for leg in ("scaled", "scaled_100", "scaled_300"):
        payload[leg] = {"skipped": marker}
        line = bench.summary_line(payload)
        assert len(line) <= len(full)
        assert json.loads(line)[leg] == {"skipped": marker}


def test_tiny_payload_keeps_full_detail():
    """A partial run (two queries, one leg) still gets the full shape:
    every measured median rides the line, at 2 decimals."""
    payload = _payload(["errors_by_type", "ann_knn_join"], t=0.123456)
    del payload["scaled_100"], payload["scaled_300"], payload["iso_ratio_total"]
    got = json.loads(bench.summary_line(payload))
    assert set(got) == TOP_KEYS | {"scaled"}
    assert got["queries"] == {"errors_by_type": 0.12, "ann_knn_join": 0.12}
    assert got["scaled"]["q"] == got["queries"]
    assert got["iso_ratio_total"] is None
    assert got["host"] == payload["host"]


def test_skipped_leg_rides_the_line():
    """A leg the host could not hold is ``{"skipped": "<needed>/<free>"}``
    on the line too, beside the legs that ran."""
    payload = _payload(bench.HEADLINE)
    payload["scaled_300"] = {"skipped": "1500000000/1000"}
    got = json.loads(bench.summary_line(payload))
    assert got["scaled_300"] == {"skipped": "1500000000/1000"}
    assert got["scaled"]["ratio_total"] == 1.2345


def test_space_shortfall(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"x" * 1000)
    scaled = tmp_path / "not" / "yet" / "made"
    assert bench.space_shortfall(str(sf), str(scaled), 2) is None
    short = bench.space_shortfall(str(sf), str(scaled), 10**15)
    needed, free = map(int, short.split("/"))
    assert needed == 1000 * 10**15 and free < needed
    # a replica already materialized needs no space
    scaled.mkdir(parents=True)
    (scaled / "_SCALED_x1000000000000000").write_text("ok\n")
    assert bench.space_shortfall(str(sf), str(scaled), 10**15) is None


@pytest.mark.parametrize("cpus", ["0", ""])
def test_bench_duckdb_takes_spark_core_count(monkeypatch, cpus):
    """An unset core count (``0`` or empty) falls back to the host's
    cores for both engines; DuckDB must not get the raw string."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    out = bench.bench_duckdb(SF_DIR, ["errors_by_type"], iters=1)
    assert set(out) == {"errors_by_type"} and out["errors_by_type"] > 0
    assert bench.host()["cores"] == (os.cpu_count() or 8)
