"""A repeated query shape compiles once per session.

Spark keeps generated Java classes in an LRU cache
(``spark.sql.codegen.cache.maxEntries``). Sessions from ``get_spark``
size it to ``session.CODEGEN_CACHE_ENTRIES``. At Spark's default of 100,
a working set of more than 100 classes evicts each class before its
shape runs again, so every repeat recompiles it. Each projection below
inlines a distinct integer literal and so compiles to a distinct class.
``queryExecution().toRdd()`` plans and compiles a frame without running
a job."""

from __future__ import annotations

from pyspark.sql import functions as F

from mini_log_lakehouse_spark import session

SHAPES = 110  # more than Spark's default cache of 100


def _compile_all(spark) -> None:
    # Fresh frames each pass: toRdd is memoized on its QueryExecution.
    for i in range(SHAPES):
        frame = spark.range(1).select((F.col("id") + F.lit(i)).alias("v"))
        frame._jdf.queryExecution().toRdd()


def test_repeated_shapes_do_not_recompile(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    _compile_all(spark)
    before = compiles.getCount()
    _compile_all(spark)
    assert compiles.getCount() == before
