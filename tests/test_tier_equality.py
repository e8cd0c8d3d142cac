"""Tier-equivalence tests (VERDICT r15 ask 3): every tiered operator
must produce IDENTICAL output from each tier on the same input. Each
test monkeypatches the tier cap to force the non-default tier on a
fixture where both tiers are exercised, and asserts row-set equality
including values — so a regression in the at-scale tier (unreachable on
small fixtures by default) fails the suite instead of hiding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.operators import dedup, funnels, local_tier


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class _KernelSpy:
    """Wraps kernel ``module.name`` to tell which tier ran: calls in this
    process land in ``local`` (the driver strip), and the accumulator
    also counts the calls made in Python workers (worker strips or the
    grouped tier). Neither moves when the distributed tier runs."""

    def __init__(self, spark, monkeypatch, module, name):
        real = getattr(module, name)
        self.local = local = []
        self.acc = acc = spark.sparkContext.accumulator(0)

        def spy(*args):
            local.append(1)
            acc.add(1)
            return real(*args)

        monkeypatch.setattr(module, name, spy)

    def rows(self, build):
        """(sorted rows of ``build()``, the tier that produced them)."""
        self.local.clear()
        self.acc.value = 0
        rows = _rows(build())
        where = "driver" if self.local else "workers" if self.acc.value else "distributed"
        return rows, where


def _worker_strips(monkeypatch):
    # strip_rows == 1 < n: block_map takes the mapInArrow path
    monkeypatch.setattr(local_tier, "LOCAL_STRIP_BYTES", 1)


@pytest.fixture(scope="module")
def dense_graph(spark):
    # Near-clique on 14 nodes (wedge mass ≫ V², so _lp_candidates'
    # density estimate picks the dense tier) with a few edges removed so
    # link-prediction candidates are non-empty and triangles vary.
    nodes = list(range(1, 15))
    missing = {(1, 2), (3, 9), (5, 14), (7, 8), (2, 11)}
    edges = [
        (u, v)
        for i, u in enumerate(nodes)
        for v in nodes[i + 1 :]
        if (u, v) not in missing
    ]
    return spark.createDataFrame(edges, "u long, v long").localCheckpoint()


def test_triangle_tiers_identical(spark, dense_graph, monkeypatch):
    # default on this near-clique fixture: the dense GEMM tier (the
    # guard sanity check in the link-prediction test below proves
    # V² < wedge mass on the same graph), one strip on the driver
    spy = _KernelSpy(spark, monkeypatch, funnels, "_triangle_kernel")
    tri = lambda: funnels.triangle_counts(dense_graph)  # noqa: E731
    driver, where = spy.rows(tri)
    assert where == "driver"
    _worker_strips(monkeypatch)
    workers, where = spy.rows(tri)
    assert where == "workers"
    monkeypatch.setattr(local_tier, "DENSE_MAX_NODES", 0)
    bcast, where = spy.rows(tri)
    assert where == "distributed"
    monkeypatch.setattr(local_tier, "LOCAL_MAX_ROWS", -1)
    wedge, where = spy.rows(tri)
    assert driver == workers == bcast == wedge
    assert len(driver) > 0


def test_link_prediction_tiers_identical(spark, dense_graph, monkeypatch):
    spy = _KernelSpy(spark, monkeypatch, funnels, "_lp_kernel")
    lp = lambda: funnels.link_prediction(dense_graph)  # noqa: E731
    driver, where = spy.rows(lp)
    assert where == "driver"
    _worker_strips(monkeypatch)
    workers, where = spy.rows(lp)
    assert where == "workers"
    monkeypatch.setattr(local_tier, "LOCAL_MAX_ROWS", -1)
    wedge, where = spy.rows(lp)
    assert where == "distributed"
    assert driver == workers == wedge
    assert len(driver) > 0
    # guard sanity: the fixture really does take the dense tier by
    # default — its V² is below the wedge mass
    deg = {}
    for r in dense_graph.collect():
        deg[r["u"]] = deg.get(r["u"], 0) + 1
        deg[r["v"]] = deg.get(r["v"], 0) + 1
    wedge_mass = sum(d * (d - 1) for d in deg.values()) // 2
    assert len(deg) ** 2 < wedge_mass


def test_blocked_cosine_tiers_identical(spark, monkeypatch):
    rows = [
        (i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)], i % 3)
        for i in range(1, 31)
    ]
    rows.append((31, [0.0] * 8, 0))  # zero-norm row: the -1.0 branch
    rows.append((32, [0.0] * 8, 0))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    spy = _KernelSpy(spark, monkeypatch, dedup, "_fold_pair_scores")
    pairs = lambda: dedup.embedding_cosine_pairs(e, threshold=-1.0)  # noqa: E731
    # largest block: label 0, 12 rows × 8 dims = 96 cells
    monkeypatch.setattr(local_tier, "LOCAL_MAX_CELLS", 96)
    gemm, where = spy.rows(pairs)
    assert where == "workers"  # one grouped task per block
    # 12 rows are under a 95-cell cap read as rows, but 96 cells are over
    # it: the block must not ride into one task
    monkeypatch.setattr(local_tier, "LOCAL_MAX_CELLS", 95)
    join, where = spy.rows(pairs)
    assert where == "distributed"
    assert gemm == join  # includes cos_sim values, bit-for-bit after round
    assert len(gemm) > 0


def test_connected_components_tiers_identical(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    local = _rows(dedup.connected_components(edges))
    monkeypatch.setattr(local_tier, "LOCAL_MAX_ROWS", -1)
    dist = _rows(dedup.connected_components(edges))
    assert local == dist
    assert len(local) == 9


def test_connected_components_distributed_tier_raises_on_deep_graph(
    spark, monkeypatch
):
    # the deep-graph guard must hold on BOTH tiers (the local tier's
    # raise is covered by test_llm_ops.py's existing deep-graph test)
    monkeypatch.setattr(local_tier, "LOCAL_MAX_ROWS", -1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=3)


def test_ngram_jaccard_tiers_identical(spark, monkeypatch):
    base = "the quick brown fox jumps over the lazy dog by the river bank"
    texts = [
        base,
        base,  # exact-duplicate class of three
        base,
        base.replace("river", "rivers"),
        base.replace("quick", "slow"),
        base.replace("lazy", "sleepy"),
        "an unrelated line about parquet column pruning",
        "an unrelated line about parquet column pruning!",
        "abc",  # shorter than shingle_n: one shingle, its own class
        "abc",
        "",
        None,  # NULL texts never pair
        None,
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    spy = _KernelSpy(spark, monkeypatch, dedup, "_ngram_gemm_kernel")
    # budget None: the guard has its own test; this one pins the rows
    pairs = lambda: dedup.ngram_jaccard_pairs(docs, candidate_budget=None)  # noqa: E731
    driver, where = spy.rows(pairs)
    assert where == "driver"
    _worker_strips(monkeypatch)
    workers, where = spy.rows(pairs)
    assert where == "workers"
    monkeypatch.setattr(local_tier, "LOCAL_MAX_ROWS", -1)
    join, where = spy.rows(pairs)
    assert where == "distributed"
    assert driver == workers == join
    ids = {(a, b) for a, b, _ in driver}
    assert {(0, 1), (0, 2), (1, 2), (0, 3), (8, 9)} <= ids
    assert not any(11 in p or 12 in p for p in ids)


def test_sssp_early_fixpoint_matches_full_unroll(spark):
    # diameter-2 star+path: converges long before rounds=8, so the
    # early-exit path runs; distances must equal the full unroll's
    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 1), (3, 2, 1), (2, 4, 2)], "u long, v long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "user_id long")
    got = {
        r["user_id"]: r["dist"]
        for r in funnels.sssp_weighted(edges, seeds, rounds=8).collect()
    }
    assert got == {1: 0, 2: 2, 3: 1, 4: 4}


def test_sssp_still_raises_when_rounds_insufficient(spark):
    # a 6-edge path needs 6 relaxation rounds; rounds=3 must still fail
    # loudly through the explicit probe (the early-exit cannot mask it)
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(1, 7)], "u long, v long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(AssertionError, match="did not converge"):
        funnels.sssp_weighted(edges, seeds, rounds=3)
