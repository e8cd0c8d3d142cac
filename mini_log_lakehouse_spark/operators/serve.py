"""Serving-layer queries (SURVEY.md §3 EP3): the reference's FastAPI /
Streamlit queries as parameterized DataFrame functions.

The HTTP/UI layer is presentation, not engine — what we rebuild is each
query's plan. All of these read the pre-aggregated fact table (the
reference's one architectural optimization: serve from the cube, not the
raw logs), so they are filter -> small re-aggregation -> sort. The lake's
fact snapshots are not partitioned, so the ``date`` equality filter is a
row filter on the scan (parquet min/max stats can still skip row groups),
not partition pruning.

A panel's result is bounded by its grouping key — dates, the 24 hours,
the endpoints — so it is sorted inside one partition
(``_sorted_small``) rather than with a global range sort, whose
sampling job and extra shuffle double the jobs per request.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ServeError(Exception):
    """The serving error contract (reference serve/api.py HTTPException):
    ``status`` carries the HTTP code the API layer would return."""

    def __init__(self, status: int, detail: str):
        super().__init__(detail)
        self.status = status
        self.detail = detail


def validate_date(date: str) -> str:
    """400-on-bad-date (reference serve/api.py:27-29,56-59): strict
    YYYY-MM-DD, returned canonicalized."""
    from datetime import datetime

    try:
        return str(datetime.strptime(date, "%Y-%m-%d").date())
    except (TypeError, ValueError):
        raise ServeError(400, "date must be YYYY-MM-DD") from None


def clamp_limit(limit: int, lo: int = 1, hi: int = 100) -> int:
    """Limit bounds (reference serve/api.py:53 ``ge=1, le=100``)."""
    try:
        return max(lo, min(int(limit), hi))
    except (TypeError, ValueError):
        raise ServeError(400, f"limit must be an integer in [{lo}, {hi}]") from None


def health(spark, warehouse_probe: str = "fct_requests_hourly") -> dict:
    """/health (reference serve/api.py:19-21) + 500-on-missing-warehouse
    (serve/api.py:15): probe that the fact table is resolvable in the
    session catalog (view or managed table), without running a job."""
    # tableExists resolves managed tables AND temp views — no need for a
    # full catalog enumeration on a hot endpoint.
    if not spark.catalog.tableExists(warehouse_probe):
        raise ServeError(500, f"warehouse table not found: {warehouse_probe}")
    return {"status": "ok", "table": warehouse_probe}


def _sorted_small(df: DataFrame, *cols) -> DataFrame:
    """``orderBy`` for a result bounded by its key: one partition, sorted
    in place — one job after the aggregation's shuffle, not three."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def errors_by_endpoint(fct: DataFrame, date: str) -> DataFrame:
    """reference serve/api.py:33-41: per-endpoint error/request totals for a day."""
    date = validate_date(date)
    out = (
        fct.filter(F.col("date") == F.to_date(F.lit(date)))
        .groupBy("endpoint")
        .agg(
            F.sum("errors").cast("long").alias("errors"),
            F.sum("requests").cast("long").alias("requests"),
        )
    )
    return _sorted_small(out, F.desc("errors"), F.desc("requests"))


def top_endpoints(fct: DataFrame, date: str, limit: int = 10) -> DataFrame:
    """reference serve/api.py:63-72: top-K endpoints by requests for a day.

    orderBy + limit plans as TakeOrderedAndProject — no global sort.
    """
    date = validate_date(date)
    limit = clamp_limit(limit)  # reference serve/api.py:53 bounds
    return (
        fct.filter(F.col("date") == F.to_date(F.lit(date)))
        .groupBy("endpoint")
        .agg(
            F.sum("requests").cast("long").alias("requests"),
            F.sum("errors").cast("long").alias("errors"),
        )
        .orderBy(F.desc("requests"), F.desc("errors"))
        .limit(limit)
    )


def available_dates(fct: DataFrame) -> DataFrame:
    """reference serve/app.py:23: SELECT DISTINCT date ... ORDER BY 1."""
    return _sorted_small(fct.select("date").distinct(), "date")


def hourly_breakdown(fct: DataFrame, date: str) -> DataFrame:
    """reference serve/app.py:29-37: full fact slice for a day."""
    date = validate_date(date)
    return (
        fct.filter(F.col("date") == F.to_date(F.lit(date)))
        .select("date", "hour", "endpoint", "requests", "errors", "p95_bytes")
        .orderBy("hour", "endpoint")
    )


def kpi_totals(fct: DataFrame, date: str) -> DataFrame:
    """reference serve/app.py:63-65: grand totals + zero-guarded error rate."""
    date = validate_date(date)
    agg = (
        fct.filter(F.col("date") == F.to_date(F.lit(date)))
        .agg(
            F.sum("requests").cast("long").alias("total_requests"),
            F.sum("errors").cast("long").alias("total_errors"),
        )
    )
    return agg.select(
        "total_requests",
        "total_errors",
        F.when(
            F.col("total_requests") > 0,
            F.round(F.col("total_errors") * 100.0 / F.col("total_requests"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("error_rate_pct"),
    )


def hourly_trend(fct: DataFrame, date: str) -> DataFrame:
    """reference serve/app.py:77-83: per-hour request/error totals."""
    date = validate_date(date)
    out = (
        fct.filter(F.col("date") == F.to_date(F.lit(date)))
        .groupBy("hour")
        .agg(
            F.sum("requests").cast("long").alias("requests"),
            F.sum("errors").cast("long").alias("errors"),
        )
    )
    return _sorted_small(out, "hour")
