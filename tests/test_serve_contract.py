"""Serving error contract (reference serve/api.py): 400 on malformed
date, limit clamped to [1, 100], /health ok vs 500 when the warehouse
table is missing."""

from __future__ import annotations

import pytest

from mini_log_lakehouse_spark.operators.serve import (
    ServeError,
    clamp_limit,
    health,
    top_endpoints,
    validate_date,
)


def test_validate_date_accepts_and_canonicalizes():
    assert validate_date("2025-11-10") == "2025-11-10"


@pytest.mark.parametrize("bad", ["2025/11/10", "10-11-2025", "2025-13-01", "nope", "", None])
def test_validate_date_400(bad):
    with pytest.raises(ServeError) as e:
        validate_date(bad)
    assert e.value.status == 400


def test_clamp_limit_bounds():
    assert clamp_limit(10) == 10
    assert clamp_limit(0) == 1
    assert clamp_limit(10_000) == 100
    with pytest.raises(ServeError) as e:
        clamp_limit("ten")
    assert e.value.status == 400


def test_bad_date_rejected_before_any_job(spark):
    # the DataFrame-building function itself raises — no Spark job runs
    with pytest.raises(ServeError) as e:
        top_endpoints(spark.range(0), "not-a-date")
    assert e.value.status == 400


def test_health_contract(spark):
    spark.range(1).createOrReplaceTempView("fct_requests_hourly")
    try:
        assert health(spark)["status"] == "ok"
    finally:
        spark.catalog.dropTempView("fct_requests_hourly")
    with pytest.raises(ServeError) as e:
        health(spark, warehouse_probe="definitely_missing_table")
    assert e.value.status == 500


@pytest.fixture()
def scattered_fct(spark):
    """A fact slice spread over 4 partitions in no particular order."""
    import datetime

    d1, d2, d3 = (datetime.date(2025, 11, d) for d in (10, 11, 12))
    rows = [
        (d2, "23", "/b", 5, 1, 0.0),
        (d1, "09", "/a", 1, 0, 0.0),
        (d2, "01", "/c", 7, 1, 0.0),
        (d3, "12", "/a", 2, 2, 0.0),
        (d2, "10", "/a", 3, 2, 0.0),
        (d2, "01", "/d", 4, 2, 0.0),
        (d2, "10", "/e", 9, 0, 0.0),
        (d2, "05", "/f", 1, 1, 0.0),
    ]
    schema = "date date, hour string, endpoint string, requests long, errors long, p95_bytes double"
    return spark.createDataFrame(rows, schema).repartition(4)


def test_serve_orders_hold_across_partitions(scattered_fct):
    from mini_log_lakehouse_spark.operators import serve

    dates = [str(r["date"]) for r in serve.available_dates(scattered_fct).collect()]
    assert dates == ["2025-11-10", "2025-11-11", "2025-11-12"]
    trend = [tuple(r) for r in serve.hourly_trend(scattered_fct, "2025-11-11").collect()]
    assert trend == [("01", 11, 3), ("05", 1, 1), ("10", 12, 2), ("23", 5, 1)]
    errs = [tuple(r) for r in serve.errors_by_endpoint(scattered_fct, "2025-11-11").collect()]
    assert errs == [
        ("/d", 2, 4), ("/a", 2, 3), ("/c", 1, 7), ("/b", 1, 5), ("/f", 1, 1), ("/e", 0, 9)
    ]


@pytest.fixture(scope="module")
def fixture_lake(spark, tmp_path_factory):
    from mini_log_lakehouse_spark.plans.pipeline import init_lake
    from mini_log_lakehouse_spark.sources.logs import parse_logs, write_bronze

    root = tmp_path_factory.mktemp("serve_lake")
    bronze = str(root / "bronze")
    write_bronze(parse_logs(spark, "tests/fixtures/nginx_access.log"), bronze)
    return init_lake(spark, bronze, str(root / "lake"))


@pytest.mark.parametrize(
    "kind", ["available_dates", "kpi_totals", "hourly_trend", "top_endpoints", "errors_by_endpoint"]
)
def test_serve_request_job_budget(spark, fixture_lake, kind):
    """One dashboard request — resolve the snapshot, run one panel — is
    at most 2 Spark jobs (the aggregation's shuffle and the result)."""
    from mini_log_lakehouse_spark.operators import serve
    from tests.job_count import count_jobs

    fn = getattr(serve, kind)

    def request():
        fct = fixture_lake.read()
        df = fn(fct) if kind == "available_dates" else fn(fct, "2025-11-10")
        return df.collect()

    rows, jobs = count_jobs(spark, request)
    assert rows
    assert jobs <= 2, jobs
