"""Salting must change the physical layout, never the result."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_log_lakehouse_spark.functions.skew import salted_join
from mini_log_lakehouse_spark.operators.skew import DEFAULT_SALTS, salted_hot_key_agg


def _skewed(spark, n=5000):
    # ~80% of rows share key 0 — the hot-tenant shape.
    return spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 5 < 4, F.lit(0))
        .otherwise(F.col("id") % 97)
        .alias("k"),
        (F.col("id") * 7 % 101).alias("v"),
    )


def test_salted_join_equals_plain_join(spark):
    left = _skewed(spark)
    right = left.groupBy("k").agg(F.sum("v").alias("kv"))
    plain = left.join(right, "k").select("row_id", "k", "kv")
    salted = salted_join(left, right, "k", salt=DEFAULT_SALTS).select("row_id", "k", "kv")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    left = _skewed(spark)
    right = left.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    salted = salted_join(left, right, "k", salt=8)
    # before dropping _salt the hot key must occupy every salt sub-key;
    # reconstruct the salt the same way the operator does.
    l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    )
    n_subkeys = l.filter(F.col("k") == 0).select("_salt").distinct().count()
    assert n_subkeys == 8, f"hot key only reached {n_subkeys}/8 salt sub-keys"
    assert salted.count() == left.count()


def test_salted_join_rejects_small_side_preserving_forms(spark):
    """The join must refuse outer forms, which would emit unmatched
    small-side rows once per salt replica, and a salt below 1."""
    import pytest

    left = _skewed(spark, n=100)
    right = left.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="big-side-preserving"):
            salted_join(left, right, "k", how=how)
    with pytest.raises(ValueError, match="salt must be >= 1"):
        salted_join(left, right, "k", salt=0)


def test_salted_hot_key_agg_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = df.groupBy("k").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n")
    )
    salted = salted_hot_key_agg(
        df,
        "k",
        aggs=[
            (F.sum("v"), F.sum, "sv"),
            (F.count(F.lit(1)), F.sum, "n"),
        ],
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
