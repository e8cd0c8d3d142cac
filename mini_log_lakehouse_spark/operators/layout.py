"""Data-layout-aware queries: Z-order clustering + zonemap skipping as
a driver-checkable surface.

The reference keeps its whole warehouse in one DuckDB file and scans it
(no layout dimension exists there); at 100 TB layout IS the query
optimizer's biggest lever — a table clustered so min/max file stats
match the workload's predicates turns full scans into reads of a few
files. ``plans/lakehouse.py`` provides the mechanism
(``compact(zorder_by=...)`` + ``read_pruned``); this module exercises it
end-to-end on the ``events`` table and exposes the result as a driver
query whose oracle is the PLAIN filter on the raw table — pruning must
be invisible in the answer, visible only in bytes read (asserted by
``tests/test_layout.py``, which also checks that the Z-layout prunes on
BOTH keys while a lexicographic layout prunes only the leading one).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable
from mini_log_lakehouse_spark.sources.registry import load_table

#: Predicate rectangle for the driver query — interior ranges on both
#: Z-order keys so the zonemap prunes on each dimension independently.
USER_LO, USER_HI = 10, 40
VALUE_LO, VALUE_HI = 20.0, 60.0

#: Files the clustered snapshot is rewritten into. 16 files over two
#: 8-bit-bucketed keys keeps each file a compact Z-range at every tested
#: corpus size; a real table would target file SIZE (~128 MB-1 GB).
N_FILES = 16

_ZROOT = os.environ.get("SPARK_GRAFT_ZORDER_DIR", "/tmp/mini_log_lakehouse_zorder")

def _corpus_fingerprint(sf_dir: str) -> str:
    """Identity of the source data, not just its path: the on-disk
    clustered artifact outlives sessions, so keying it by path alone
    would silently serve a STALE snapshot if the corpus at that path is
    ever regenerated. (name, size, mtime_ns) of the source parquet is
    the cheap content proxy — any rewrite changes it."""
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    raw = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    return hashlib.md5(raw.encode()).hexdigest()[:12]


def zordered_events(spark: SparkSession, sf_dir: str) -> LakehouseTable:
    """The events table as a managed snapshot Z-ordered on
    (user_id, value) — built once per corpus, reused afterwards (the
    lakehouse write-amortization story: cluster at ingest/OPTIMIZE time,
    skip at query time). The handle is memoized per (session, sf_dir);
    the on-disk artifact under _ZROOT is write-once per corpus CONTENT
    and outlives sessions (see _corpus_fingerprint)."""
    from mini_log_lakehouse_spark.session import memo

    def build() -> LakehouseTable:
        root = os.path.join(_ZROOT, _corpus_fingerprint(sf_dir))
        tbl = LakehouseTable(spark, root, "events_z")
        if not tbl.exists():
            tbl.write(load_table(spark, sf_dir, "events"))
            tbl.compact(target_partitions=N_FILES, zorder_by=["user_id", "value"])
        return tbl

    return memo(spark, ("layout.zorder", sf_dir), build)


def events_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: a two-dimensional range predicate served from the
    Z-ordered snapshot through zonemap file skipping. The oracle runs
    the identical predicate on the raw table — layout must never change
    an answer."""
    tbl = zordered_events(spark, sf_dir)
    df = tbl.read_pruned(
        {"user_id": (USER_LO, USER_HI), "value": (VALUE_LO, VALUE_HI)}
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


ORACLES: dict[str, str] = {
    "events_zorder_pruned": f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events
        WHERE user_id BETWEEN {USER_LO} AND {USER_HI}
          AND value BETWEEN {VALUE_LO} AND {VALUE_HI}
        GROUP BY event_type
        ORDER BY event_type
    """,
}

QUERIES = {
    "events_zorder_pruned": events_zorder_pruned,
}
