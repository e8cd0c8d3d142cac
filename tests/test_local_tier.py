"""Spark-free checks of the local-tier block kernels: a strip of the
size block_map cuts (local_tier.strip_rows of the kernel's row bytes)
must keep its numpy temporaries within local_tier.LOCAL_STRIP_BYTES,
on payloads where every candidate pair survives (the worst case for
the rows a kernel emits)."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pytest

from mini_log_lakehouse_spark.operators import dedup, funnels, local_tier

BUDGET = 2 * 1024 * 1024


@pytest.fixture()
def small_strips(monkeypatch):
    monkeypatch.setattr(local_tier, "LOCAL_STRIP_BYTES", BUDGET)


def _peak(fn) -> int:
    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _dense_payload(n_nodes: int, seed: int):
    # half-dense random graph: many non-adjacent pairs share a neighbor
    rng = np.random.default_rng(seed)
    upper = np.triu(rng.random((n_nodes, n_nodes)) < 0.5, 1)
    a_mat = (upper | upper.T).astype(np.float32)
    return np.arange(100, 100 + n_nodes, dtype=np.int64), a_mat


def test_ngram_kernel_strip_within_budget(small_strips):
    n_reps, t_dim = 600, 500
    fps = np.array([f"{i:032x}" for i in range(n_reps)], dtype=object)
    b_mat = np.ones((n_reps, t_dim), dtype=np.float32)  # every pair J = 1
    sz = np.full(n_reps, t_dim, dtype=np.int64)
    payload = (fps, b_mat, sz, -1.0)
    rows = local_tier.strip_rows(dedup._ngram_row_bytes(n_reps, t_dim))
    assert 1 < rows < n_reps
    out = []
    peak = _peak(lambda: out.append(dedup._ngram_gemm_kernel(payload, np.arange(rows))))
    assert len(out[0][0]) == sum(n_reps - 1 - i for i in range(rows))
    assert peak <= BUDGET


@pytest.mark.parametrize("kernel", [funnels._triangle_kernel, funnels._lp_kernel])
def test_dense_graph_kernels_strip_within_budget(small_strips, kernel):
    payload = _dense_payload(800, seed=3)
    rows = local_tier.strip_rows(funnels._dense_row_bytes(800))
    assert 1 < rows < 800
    out = []
    peak = _peak(lambda: out.append(kernel(payload, np.arange(rows))))
    assert len(out[0][0]) > 0
    assert peak <= BUDGET


def test_cosine_fold_strips_within_budget(small_strips):
    n, d = 900, 16
    rng = np.random.default_rng(5)
    mat = rng.standard_normal((n, d))
    ids = np.arange(n, dtype=np.int64)
    assert local_tier.strip_rows(dedup._cosine_row_bytes(n)) < n
    emitted = []

    def drain():
        for a, _, _ in dedup._fold_pair_scores(ids, mat, -1.0):
            emitted.append(len(a))  # keep only the count: one strip live

    peak = _peak(drain)
    assert sum(emitted) == n * (n - 1) // 2  # threshold −1 keeps every pair
    assert len(emitted) > 1
    assert peak <= BUDGET
