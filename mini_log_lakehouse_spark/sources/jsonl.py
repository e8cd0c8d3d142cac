"""JSONL (newline-delimited JSON) source/sink for document corpora.

JSONL is the interchange format of LLM data pipelines — crawl dumps,
HF-style datasets, and annotation tools all speak it — so the engine
needs a first-class path from/to it, not just parquet. Design rules for
the 100 TB case:

- **Explicit schema on read, always.** Schema inference scans the data
  once before the real job; on a large corpus that doubles the read. The
  documents schema is pinned here (DOCUMENTS_JSONL_SCHEMA) and callers
  pass their own for other shapes.
- **Partitioned, compressed writes.** One directory per partition column
  value (Hive layout — readers prune), gzip per file (JSON's ~10×
  text redundancy makes compression non-optional at scale; gzip is the
  interchange default despite being non-splittable, because JSONL files
  are many and individually modest — parallelism comes from file count,
  not intra-file splits).
- JSONL is the *ingest/export* tier: pipelines convert to parquet (or a
  lakehouse table, plans/lakehouse.py) at the silver layer and do their
  analytics there. The roundtrip query below exists to prove the
  conversion is lossless, not to recommend querying JSONL directly.

Reference parity: the reference pipeline has no JSON surface (its ingest
is the nginx log regex, etl/ingest_logs.py:21-38); this is part of the
beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_log_lakehouse_spark.sources.registry import load_table

DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def write_jsonl(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    compression: str = "gzip",
) -> None:
    """Write a DataFrame as (optionally Hive-partitioned) compressed
    JSONL. Overwrites the target — JSONL exports are snapshots, not
    incrementally-maintained tables."""
    w = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read JSONL with an explicit schema (never inference — see module
    docstring). Corrupt lines surface as all-null rows under the default
    PERMISSIVE mode; callers that need a hard gate use mode=FAILFAST via
    their own reader options."""
    return spark.read.schema(schema).json(path)


def _exported_documents(spark: SparkSession, sf_dir: str) -> str:
    """One JSONL export per (session, sf_dir), under the session's
    scratch root — the export is deterministic from the corpus, so a
    session never needs two copies."""
    from mini_log_lakehouse_spark.session import memo, scratch_dir

    def build() -> str:
        path = os.path.join(scratch_dir(spark, "jsonl_export_"), "documents")
        # partition by lang: the Hive layout readers prune on (and the
        # partition column round-trips through the directory name)
        write_jsonl(load_table(spark, sf_dir, "documents"), path, partition_by=("lang",))
        return path

    return memo(spark, ("jsonl.export", sf_dir), build)


def documents_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: export documents to lang-partitioned gzip JSONL,
    read it back with the pinned schema, and aggregate per (lang,
    source) — doc counts, char totals, and the distinct-fingerprint
    count, which only matches the parquet-side oracle if every text
    byte survived the JSON encode/decode roundtrip (escapes, unicode,
    embedded quotes and all)."""
    path = _exported_documents(spark, sf_dir)
    back = read_jsonl(spark, path, DOCUMENTS_JSONL_SCHEMA)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        )
        .orderBy("lang", "source")
    )


ORACLES: dict[str, str] = {
    "documents_jsonl_roundtrip": """
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT md5(text)) AS n_distinct_texts
        FROM documents
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
}

QUERIES = {
    "documents_jsonl_roundtrip": documents_jsonl_roundtrip,
}
