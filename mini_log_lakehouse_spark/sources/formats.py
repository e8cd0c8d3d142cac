"""ORC and CSV interchange for document corpora — the remaining two
formats a lakehouse ingest tier meets in practice (JSONL lives in
sources/jsonl.py, parquet is the native tier everywhere else).

- **ORC** is the other splittable columnar format (Hive lineage); Spark
  ships a native vectorized reader/writer, so supporting it is a format
  flag, not an engine change. Same rules as parquet at 100 TB: explicit
  schema, partition pruning, predicate pushdown all apply.
- **CSV** is the hostile one: commas, quotes and NEWLINES inside fields
  are legal once quoted (RFC 4180), and a reader that splits on raw
  newlines silently shreds rows. The roundtrip entry below DECORATES
  every text with all three hazards by a deterministic law before the
  export, so the quote/escape machinery is load-bearing for the hash
  gate, not incidentally unexercised (the synthetic corpus alone
  contains none of them). Reading quoted-newline CSV requires
  ``multiLine`` — which makes a file non-splittable, the documented
  reason CSV stays an ingest tier (convert to parquet/ORC at silver),
  with parallelism from file count.

Reference parity: the reference has no ORC/CSV surface (nginx-regex
ingest only, reference etl/ingest_logs.py:21-38); this is part of the
beyond-reference interchange surface next to JSONL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mini_log_lakehouse_spark.sources.registry import load_table

#: Explicit read schemas — never inference (it costs an extra full scan
#: and, for CSV, quietly types everything it can't parse as string).
DOCUMENTS_ORC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

DOCUMENTS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("csv_text", T.StringType()),
    ]
)

#: RFC 4180 dialect: quotes escaped by doubling (escape = quote), not
#: by backslash (Spark's historical default — foreign to every other
#: CSV tool). Pinned once, used by writer and reader.
_CSV_OPTS = {"header": "true", "quote": '"', "escape": '"'}


def write_orc(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Write a DataFrame as (optionally Hive-partitioned) ORC with the
    default zlib compression. Overwrites the target — interchange
    exports are snapshots."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read ORC with an explicit schema (see module docstring)."""
    return spark.read.schema(schema).orc(path)


def write_csv(df: DataFrame, path: str) -> None:
    """Write a DataFrame as RFC 4180 CSV (header, quote-doubling
    escapes, gzip). Quoted fields may span lines — see module
    docstring for why that pins the read path to multiLine."""
    (
        df.write.mode("overwrite")
        .options(**_CSV_OPTS)
        .option("compression", "gzip")
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read RFC 4180 CSV with an explicit schema. ``multiLine`` is
    mandatory for quoted embedded newlines; without it a reader splits
    records mid-field and the roundtrip gate below catches it."""
    return (
        spark.read.schema(schema)
        .options(**_CSV_OPTS)
        .option("multiLine", "true")
        .csv(path)
    )


def _export(spark: SparkSession, sf_dir: str, fmt: str, write) -> str:
    """One materialized export per (session, sf_dir, format), under the
    session's scratch root."""
    from mini_log_lakehouse_spark.session import memo, scratch_dir

    def build() -> str:
        path = os.path.join(scratch_dir(spark, f"{fmt}_export_"), "documents")
        write(path)
        return path

    return memo(spark, ("formats.export", sf_dir, fmt), build)


def documents_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: export documents to source-partitioned ORC, read
    it back with the pinned schema, and aggregate per (source, lang) —
    counts, char totals, distinct text fingerprints and the doc_id
    checksum only match the parquet-side oracle if every row and byte
    survived the columnar roundtrip (partition column included, which
    round-trips through the directory name)."""
    d = load_table(spark, sf_dir, "documents")
    path = _export(
        spark, sf_dir, "orc",
        lambda p: write_orc(d, p, partition_by=("source",)),
    )
    back = read_orc(spark, path, DOCUMENTS_ORC_SCHEMA)
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
        .orderBy("source", "lang")
    )


def _csv_decorate(d: DataFrame) -> DataFrame:
    """Embed all three CSV hazards in every text by a deterministic
    law the oracle replays: a leading double quote, a comma+NEWLINE
    splice, and a quoted trailer. If the writer's quoting or the
    reader's multiLine/escape handling drops a single byte, the
    fingerprints diverge."""
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.concat(
            F.lit('"'), F.col("text"), F.lit(',\n'),
            F.col("lang"), F.lit('"end'),
        ).alias("csv_text"),
    )


def documents_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: decorate every document with embedded quote /
    comma / newline hazards, export to RFC 4180 gzip CSV, read it back
    (multiLine + quote-doubling), and aggregate per (lang, source).
    The distinct-fingerprint and char-total columns match the oracle —
    which applies the SAME decoration law to the parquet directly —
    only if the full quote-escape-newline machinery round-tripped
    every byte."""
    d = load_table(spark, sf_dir, "documents")
    path = _export(
        spark, sf_dir, "csv",
        lambda p: write_csv(_csv_decorate(d), p),
    )
    back = read_csv(spark, path, DOCUMENTS_CSV_SCHEMA)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("csv_text")).cast("long").alias("total_chars"),
            F.countDistinct(F.md5("csv_text")).alias("n_distinct_texts"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
        .orderBy("lang", "source")
    )


ORACLES: dict[str, str] = {
    "documents_orc_roundtrip": """
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT md5(text)) AS n_distinct_texts,
               CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
        FROM documents
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    # replays the decoration law on the parquet: '"' text ',' NEWLINE
    # lang '"end' — chr(10) is the embedded newline the CSV quoting
    # must carry through.
    "documents_csv_roundtrip": """
        WITH dec AS (
            SELECT doc_id, lang, source,
                   '"' || text || ',' || chr(10) || lang || '"end'
                       AS csv_text
            FROM documents
        )
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(length(csv_text)) AS BIGINT) AS total_chars,
               COUNT(DISTINCT md5(csv_text)) AS n_distinct_texts,
               CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
        FROM dec
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
}

QUERIES = {
    "documents_orc_roundtrip": documents_orc_roundtrip,
    "documents_csv_roundtrip": documents_csv_roundtrip,
}
