"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests start Spark once per run (about half a minute each);
the generator and tracer tests need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, WORK, per_layer_units  # noqa: E402
from perfbench.tracer import Span, Tracer  # noqa: E402
from perfbench.workloads import Lakehouse  # noqa: E402

SMOKE_SCALE = "0.2"


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_generator_is_deterministic(tmp_path):
    a = gen.write_logs(str(tmp_path / "a"), 5, "2025-11-01", 2, 300)
    b = gen.write_logs(str(tmp_path / "b"), 5, "2025-11-01", 2, 300)
    c = gen.write_logs(str(tmp_path / "c"), 6, "2025-11-01", 2, 300)
    assert _files(a) == _files(b)
    assert _files(a)["2025-11-01.log"] != _files(c)["2025-11-01.log"]
    wa = gen.write_warehouse(str(tmp_path / "a"), 5, 0.001)
    wb = gen.write_warehouse(str(tmp_path / "b"), 5, 0.001)
    assert _files(wa) == _files(wb)


def test_generator_totals_match_its_lines(tmp_path):
    d = gen.write_logs(str(tmp_path), 3, "2025-11-01", 1, 500)
    totals = gen.load_totals(d)
    with open(os.path.join(d, "2025-11-01.log")) as fh:
        lines = fh.read().splitlines()
    requests = [ln for ln in lines if ln.startswith("10.")]
    errors = [ln for ln in requests if int(ln.split('" ')[1].split()[0]) >= 400]
    assert totals["days"]["2025-11-01"] == [len(requests), len(errors)] == [500, len(errors)]
    assert sum(v[0] for v in totals["grains"].values()) == 500
    assert len(lines) == 500 + int(500 * gen.BLANK_SHARE) + int(500 * gen.MALFORMED_SHARE)


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_times_and_remainder_sum_to_wall():
    clock = _Clock()
    tr = Tracer(clock=clock)
    with tr.span("pass"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 2.0
            with tr.span("b"):
                clock.t = 4.5
            clock.t = 5.0
        with tr.span("b"):
            clock.t = 7.0
        clock.t = 10.0
    st = tr.self_times(0)
    assert st == pytest.approx({"a": 1.5, "b": 4.5, "trace.unattributed": 4.0})
    assert sum(st.values()) == pytest.approx(10.0)


class _Groups:
    """Stand-in for ``SparkCounters``: one job per group, and the
    thread's group as a plain attribute."""

    def __init__(self):
        self.current = "outer"

    def enter(self, group):
        prev, self.current = self.current, group
        return prev

    def exit(self, group, prev):
        assert self.current == group
        self.current = prev
        return {"jobs": 1, "stages": 2, "tasks": 3}

    def close(self):
        pass


def test_each_span_counts_its_own_job_group_and_restores_the_previous():
    groups = _Groups()
    tr = Tracer(groups)
    with tr.span("pass"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("b"):
            pass
    assert groups.current == "outer"
    assert tr.inclusive_counts(0) == {"jobs": 4, "stages": 8, "tasks": 12}
    assert tr.inclusive_counts(1) == {"jobs": 2, "stages": 4, "tasks": 6}
    assert tr.count_totals("b") == {"jobs": 2, "stages": 4, "tasks": 6, "calls": 2}


def test_wrap_and_uninstall():
    class Box:
        def f(self, x):
            return x + 1

    original = Box.f
    tr = Tracer()
    tr.wrap(Box, "f", "box.f")
    assert Box.f is not original and Box().f(1) == 2
    tr.uninstall()
    assert Box.f is original
    assert [s.name for s in tr.spans] == ["box.f"]


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_units()
    assert spec["command"] == ["python3", "perfbench/run.py"]


def _run(workload: str, trace: int, seed: int = 1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", SMOKE_SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


WORKLOADS = ("lakehouse", "registry")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in spec[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
        if trace == 1:
            art = os.path.join(WORK, "results", f"{workload}-s1-t1.json")
            with open(art) as fh:
                spans = json.load(fh)["spans"]
            tr = Tracer()
            tr.spans = [Span(s["name"], s["start"], s["parent"], s["request_id"], s["end"])
                        for s in spans]
            wall = spans[0]["end"] - spans[0]["start"]
            assert sum(tr.self_times(0).values()) == pytest.approx(wall, rel=1e-9)


def test_corrupted_expected_total_lowers_ok_ratio():
    """A wrong expected day total must show as a failed check."""
    seed = 990_001
    wl = Lakehouse
    lines = max(int(wl.LINES_PER_DAY * float(SMOKE_SCALE)), 200)
    d = gen.write_logs(os.path.join(WORK, "inputs"), seed, "2025-11-01",
                       wl.BACKLOG_DAYS + wl.BATCHES, lines)
    path = os.path.join(d, "totals.json")
    with open(path) as fh:
        good = fh.read()
    totals = json.loads(good)
    totals["days"]["2025-11-09"][0] += 1  # the second batch's day
    try:
        with open(path, "w") as fh:
            json.dump(totals, fh)
        res = _run("lakehouse", 0, seed=seed)
    finally:
        with open(path, "w") as fh:
            fh.write(good)
    assert res["metrics"]["ok_ratio"]["value"] < 1.0
    assert res["failed"] >= 1 and not res["correct"]
