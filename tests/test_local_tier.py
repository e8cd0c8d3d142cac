"""Spark-free checks of the numpy kernels.

Local-tier block kernels: a strip of the size block_map cuts
(local_tier.strip_rows of the kernel's row bytes) must keep its numpy
temporaries within local_tier.LOCAL_STRIP_BYTES, on payloads where
every candidate pair survives (the worst case for the rows a kernel
emits).

Vector kernels (functions/vector.vector_map): as_matrix's reading of
the Arrow list layout, and the similarity kernels on hand-built Arrow
batches against numpy references."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from mini_log_lakehouse_spark.functions.vector import as_matrix
from mini_log_lakehouse_spark.operators import dedup, funnels, local_tier, similarity

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


# --- vector kernels -----------------------------------------------------


def test_as_matrix_reads_embedding_chunks_as_float64():
    f32 = pa.list_(pa.float32())
    col = pa.chunked_array([pa.array([[1, 2], [3, 4]], f32), pa.array([[5, 6]], f32)])
    mat = as_matrix(col)
    assert mat.dtype == np.float64
    assert mat.tolist() == [[1, 2], [3, 4], [5, 6]]
    sliced = pa.array([[9.0], [1.0], [2.0]], pa.list_(pa.float64())).slice(1)
    assert as_matrix(sliced).tolist() == [[1.0], [2.0]]


def test_as_matrix_rejects_null_embedding():
    col = pa.array([[1, 2], [3, 4], None, None], pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="2 of 4 vectors are NULL"):
        as_matrix(col)


def test_as_matrix_rejects_ragged_embedding():
    col = pa.array([[1, 2, 3], [4], [5, 6]], pa.list_(pa.float32()))
    with pytest.raises(ValueError, match="2 of 3 vectors differ in length"):
        as_matrix(col)


def _topk(ids, mat, q_ids, q_mat, k, probed=None, cells=None):
    cols = {"vec_id": pa.array(ids, pa.int64())}
    if cells is not None:
        cols["cell"] = pa.array(cells, pa.int64())
    batch = pa.RecordBatch.from_pydict(cols)
    q_unit, q_zero = similarity._unit_rows(np.asarray(q_mat, dtype=np.float64))
    payload = (np.asarray(q_ids, dtype=np.int64), q_unit, q_zero, k, probed)
    out = similarity._topk_kernel(payload, batch, np.asarray(mat, dtype=np.float64))
    return list(zip(out["query_id"].tolist(), out["neighbor_id"].tolist(), out["cos_sim"].tolist()))


def _rng_matrix(n, d, seed):
    return np.random.default_rng(seed).standard_normal((n, d))


def test_topk_kernel_knn_query_never_returns_itself():
    mat = _rng_matrix(12, 5, seed=1)
    ids = np.arange(100, 112)
    rows = _topk(ids, mat, ids[:4], mat[:4], k=12)
    for q in ids[:4]:
        mine = [r for r in rows if r[0] == q]
        assert len(mine) == 12  # min(k, n) rows per query, the self-row masked
        assert [s for _, n, s in mine if n == q] == [-2.0]
        assert sum(s > -2.0 for _, _, s in mine) == 11


def test_topk_kernel_ivf_skips_unprobed_cells():
    mat = _rng_matrix(20, 4, seed=2)
    ids = np.arange(20)
    cells = ids % 4
    probed = np.zeros((4, 2), dtype=bool)
    probed[[0, 1], 0] = True  # query 0 probes cells 0 and 1
    probed[[2], 1] = True  # query 1 probes cell 2
    rows = _topk(ids, mat, [500, 501], _rng_matrix(2, 4, seed=3), k=8, probed=probed, cells=cells)
    for q, allowed in ((500, {0, 1}), (501, {2})):
        kept = [n for qid, n, s in rows if qid == q and s > -2.0]
        assert kept and {int(c) for c in cells[kept]} <= allowed
    assert len([1 for qid, _, s in rows if qid == 501 and s > -2.0]) == 5  # all of cell 2


def test_topk_kernel_zero_norm_rows_and_queries_score_minus_one():
    mat = np.array([[1.0, 0.0], [0.0, 0.0], [0.6, 0.8]])
    rows = _topk([1, 2, 3], mat, [7, 8], [[1.0, 0.0], [0.0, 0.0]], k=3)
    scores = {(q, n): s for q, n, s in rows}
    assert scores[(7, 2)] == -1.0  # zero-norm row
    assert scores[(7, 1)] == 1.0 and scores[(7, 3)] == 0.6
    assert [scores[(8, n)] for n in (1, 2, 3)] == [-1.0, -1.0, -1.0]  # zero-norm query


def test_topk_kernel_boundary_ties_keep_lowest_ids():
    mat = np.array([[1.0, 0.0]] * 6 + [[2.0, 0.0]])  # every row ties at 1.0
    ids = [50, 10, 40, 20, 60, 30, 5]
    rows = _topk(ids, mat, [99], [[3.0, 0.0]], k=3)
    assert sorted(n for _, n, _ in rows) == [5, 10, 20]


def test_kmeans_and_pq_kernels_match_bruteforce_distances():
    rng = np.random.default_rng(4)
    mat = rng.uniform(-1, 1, (30, 8))
    q = np.floor(mat * similarity.FIXED_POINT + 0.5).astype(np.int64)
    cents = q[rng.choice(30, 5, replace=False)]
    ref = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)  # (n, k) exact int64
    out = similarity._kmeans_kernel(cents, None, mat)
    assert out["dist_fixed"].tolist() == ref.min(axis=1).tolist()
    assert out["cluster"].tolist() == ref.argmin(axis=1).tolist()

    books = [q[rng.choice(30, 3, replace=False), s * 4 : (s + 1) * 4] for s in range(2)]
    out = similarity._pq_kernel(books, None, mat)
    err = np.zeros(30, dtype=np.int64)
    for s, cb in enumerate(books):
        d = ((q[:, None, s * 4 : (s + 1) * 4] - cb[None, :, :]) ** 2).sum(axis=2)
        assert out[f"code_{s}"].tolist() == d.argmin(axis=1).tolist()
        err += d.min(axis=1)
    assert out["recon_err_fixed"].tolist() == err.tolist()
