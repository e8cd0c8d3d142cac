"""Where local-tier Python work runs, and how often.

A ``local_tier.block_map`` whose index range fits one strip runs its
kernel on the driver: no broadcast and no Python task. A multi-strip
range and the grouped cosine tier run on Python workers, once per
action: a final sort's range sampler reads their checkpoint instead of
running the Python stage a second time. The kernels below are nested
functions, so they travel to the workers by value, and an accumulator
counts the indices or vectors they see across every task."""

from __future__ import annotations

from mini_log_lakehouse_spark.operators import dedup, local_tier

SCHEMA = "a long, b long"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_one_strip_runs_on_the_driver(spark):
    calls = []

    def kernel(scale, idx):
        calls.append(len(idx))  # lands in this process only
        return idx * scale, idx

    local_tier._SLOTS.pop("pin", None)
    df = local_tier.block_map(spark, "pin", kernel, 3, 10, SCHEMA, 8)
    rows = df.orderBy("b").collect()
    assert calls == [10]
    assert "pin" not in local_tier._SLOTS
    assert "MapInArrow" not in _plan(df)
    assert [tuple(r) for r in rows] == [(3 * i, i) for i in range(10)]


def test_multi_strip_runs_once_under_a_final_sort(spark, monkeypatch):
    monkeypatch.setattr(local_tier, "LOCAL_STRIP_BYTES", 16)  # 2-row strips
    seen = spark.sparkContext.accumulator(0)

    def kernel(scale, idx):
        seen.add(len(idx))
        return idx * scale, idx

    df = local_tier.block_map(spark, "pin", kernel, 3, 10, SCHEMA, 8)
    assert "pin" in local_tier._SLOTS
    rows = df.orderBy("b").collect()
    assert seen.value == 10  # each index once: the sampler did not re-run it
    assert [tuple(r) for r in rows] == [(3 * i, i) for i in range(10)]


def test_grouped_cosine_runs_once_under_a_final_sort(spark, monkeypatch):
    seen = spark.sparkContext.accumulator(0)
    real = dedup._fold_pair_scores

    def fold(ids, mat, threshold):
        seen.add(len(ids))
        return real(ids, mat, threshold)

    monkeypatch.setattr(dedup, "_fold_pair_scores", fold)
    e = spark.createDataFrame(
        [(i, [float(i % 4), 1.0, float(i % 3)], i % 2) for i in range(1, 13)],
        "vec_id long, embedding array<float>, label int",
    )
    # the pairs end in orderBy(label, id_a, id_b)
    rows = dedup.embedding_cosine_pairs(e, threshold=-1.0).collect()
    assert seen.value == 12  # each vector once: the sampler did not re-run it
    assert len(rows) == 2 * 15  # two blocks of 6, every pair kept
