"""Structural pin of the bench leg measurement order (VERDICT r12 ask 2).

The r9/r10/r12 graded sf30 artifacts all showed the same contamination
signature: the comparable queries' in-suite medians ran 2× their
isolated values because a cache-bearing query (the MinHash pipeline)
had executed earlier in the leg — first via the settle pass, then via
cache residue a drop+GC did not recover. bench._bench_leg now makes
the safe order STRUCTURAL; this test pins it with stub queries that
record execution order, so a future refactor cannot silently reorder:

    1. every comparable execution (settle + timing) first,
    2. then the DuckDB baselines (same pre-dedup environment),
    3. only then the first execution of any COLD_ALSO query.
"""

from __future__ import annotations

import bench


class _Gc:
    @staticmethod
    def gc() -> None:
        pass


class _Jvm:
    System = _Gc


class _Sc:
    _jvm = _Jvm


class _StubSpark:
    sparkContext = _Sc


def test_comparables_and_baselines_run_before_any_cache_bearing_query(
    monkeypatch,
):
    calls: list[str] = []

    def make(name):
        class _Writer:
            def format(self, *_a):
                return self

            def mode(self, *_a):
                return self

            def save(self):
                # the cache-bearing timed action is the noop sink —
                # record it like an execution for the order pin
                calls.append(name)

        class _DF:
            def collect(self):
                calls.append(name)
                return []

            @property
            def write(self):
                return _Writer()

        return lambda spark, sf_dir: _DF()

    names = ("q_a", "q_b", "dedup_minhash_pairs")
    assert "dedup_minhash_pairs" in bench.COLD_ALSO
    monkeypatch.setattr(bench, "QUERIES", {n: make(n) for n in names})
    monkeypatch.setattr(
        bench,
        "bench_duckdb",
        lambda *a, **k: (calls.append("DUCKDB"), {"q_a": 0.1, "q_b": 0.1})[1],
    )
    monkeypatch.setattr(
        bench, "_drop_pipeline_caches", lambda spark: calls.append("DROP")
    )

    results, cold, baseline, out_rows, collect_once = bench._bench_leg(
        _StubSpark(), "/tmp/nonexistent", names, iters=1, warmup=1
    )
    # the legacy collect()-timed continuity number rides beside the
    # noop-timed median for every cache-bearing query
    assert set(collect_once) == {"dedup_minhash_pairs"}

    assert set(results) == set(names)
    assert "dedup_minhash_pairs" in cold
    # corpus-profile marker (VERDICT r13 ask 6): the cache-bearing
    # queries' output row counts ride the artifact
    assert out_rows == {"dedup_minhash_pairs": 0}
    duck_at = calls.index("DUCKDB")
    first_bearing = calls.index("dedup_minhash_pairs")
    last_comparable = max(
        i for i, c in enumerate(calls) if c in ("q_a", "q_b")
    )
    # comparables (settle + every timed iteration) strictly before the
    # baselines, baselines strictly before the first cache-bearing run
    assert last_comparable < duck_at < first_bearing, calls
    # the leg ends with a quiet-heap barrier (cache drop) after the
    # cache-bearing block, so whatever runs next starts clean
    assert "DROP" in calls[first_bearing:], calls
