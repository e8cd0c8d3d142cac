"""The bench's single printed JSON line must ALWAYS fit the driver's
~2000-char stdout tail and stay parseable — an over-long line truncates
at the FRONT and loses the round's bench artifact (it happened in round
3). compact_line is the pure shed function; these tests feed it real and
adversarially oversized payloads (VERDICT r11 ask 5: the last-resort
shed had never fired on a real artifact)."""

from __future__ import annotations

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _leg(factor: float, n_queries: int, name_len: int = 40) -> dict:
    qs = {f"query_{'x' * name_len}_{i}": 1.2345 + i for i in range(n_queries)}
    return {
        "factor": factor,
        "sf": 0.1 * factor,
        "value": sum(qs.values()),
        "queries": qs,
        "queries_cold": {k: v * 3 for k, v in qs.items()},
        "baseline": {k: v / 2 for k, v in qs.items()},
        "ratios": {k: 2.0 for k in qs},
        "ratio_total": 1.23,
        "iso_ratio_total": 1.11,
        "isolation": {
            k: {"ratio_isolated": 1.05, "spark": v, "duckdb": v / 2}
            for k, v in qs.items()
        },
    }


def _payload(n_queries: int, name_len: int = 40) -> dict:
    qs = {f"query_{'x' * name_len}_{i}": 0.5 + i for i in range(n_queries)}
    return {
        "metric": "headline_query_median_total",
        "value": sum(qs.values()),
        "unit": "sec",
        "queries": qs,
        "queries_cold": {k: v * 2 for k, v in qs.items()},
        "sf": 0.1,
        "baseline": {k: v / 3 for k, v in qs.items()},
        "iters": 5,
        "ratios": {k: 3.0 for k in qs},
        "ratio_total": 4.56,
        "scaled": _leg(10, n_queries, name_len),
        "scaled_100": _leg(100, n_queries, name_len),
        "scaled_300": _leg(300, n_queries, name_len),
    }


def test_committed_artifact_fits_and_keeps_judged_fields():
    """The real r11 run-5 payload (the largest committed artifact) must
    produce a within-budget line with every judged field intact."""
    with open(os.path.join(REPO, "BENCH_r11_run5.json")) as fh:
        payload = json.load(fh)
    line = bench.compact_line(payload)
    assert len(line) <= 1950
    got = json.loads(line)
    assert got["metric"] == "headline_query_median_total"
    assert "ratio_total" in got
    for leg in ("scaled", "scaled_100", "scaled_300"):
        if leg in payload:
            assert "ratio_total" in got[leg], leg
    assert got["scaled_300"]["iso_ratio_total"] == payload["scaled_300"][
        "iso_ratio_total"
    ]


def test_oversized_payload_sheds_to_valid_line():
    """60 long-named queries per leg (~4x the real suite) must trigger
    the shed path and still emit a parseable line that keeps
    ratio_total + iso_ratio_total per leg."""
    payload = _payload(60)
    assert len(json.dumps(bench._compact(payload))) > 1950  # shed must engage
    line = bench.compact_line(payload)
    assert len(line) <= 1950
    got = json.loads(line)
    assert got["ratio_total"] == 4.56
    for leg in ("scaled", "scaled_100", "scaled_300"):
        assert got[leg]["ratio_total"] == 1.23, leg
        assert got[leg]["iso_ratio_total"] == 1.11, leg


def test_pathological_payload_never_overflows():
    """Even when the minimal form itself overflows (hundreds of
    iso-flagged queries with absurd names), the line stays valid JSON
    within budget and keeps the top-level headline fields — shedding
    iso_ratios, then whole legs, is preferred over a corrupt line."""
    payload = _payload(400, name_len=120)
    line = bench.compact_line(payload)
    assert len(line) <= 1950
    got = json.loads(line)
    assert got["metric"] == "headline_query_median_total"
    assert got["ratio_total"] == 4.56
    assert got["value"] == round(payload["value"], 2)


def test_tiny_payload_keeps_full_detail():
    """Within budget nothing is shed: per-query dicts and last-leg
    ratios ride the line untouched."""
    payload = _payload(3, name_len=4)
    line = bench.compact_line(payload)
    assert len(line) <= 1950
    got = json.loads(line)
    assert len(got["queries"]) == 3
    assert "ratios" in got["scaled_300"]  # last leg keeps per-query ratios
    assert "queries" in got["scaled"]


def test_skipped_leg_rides_the_line():
    """A leg the host could not hold is ``{"skipped": "<needed>/<free>"}``;
    the line keeps that marker, in the full and in the shed form."""
    for n_queries, name_len in ((3, 4), (400, 120)):
        payload = _payload(n_queries, name_len)
        payload["scaled_300"] = {"skipped": "1500000000/1000"}
        got = json.loads(bench.compact_line(payload))
        assert got["scaled_300"] == {"skipped": "1500000000/1000"}
        assert got["scaled"]["ratio_total"] == 1.23


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
