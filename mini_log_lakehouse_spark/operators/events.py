"""Log-surface queries phrased over the ``events`` testdata table.

``events`` plays the reference's log table (FIXTURES.md §B role mapping):
``ts`` -> hour bucketing, ``event_type == 'error'`` -> is_error,
``props`` -> JSON extraction. Each function is the Spark half of a
(queries(), oracle_sql()) pair; the DuckDB oracle SQL lives alongside in
``ORACLES`` so parity is auditable in one place.

Determinism rules (driver hash-compares values against DuckDB):
- double aggregates are summed through ``decimal(38,10)`` — exact and
  associative, so shuffle/AQE ordering can't change the result — then
  rounded; per-row IEEE arithmetic is bit-identical across engines.
- every computed column is aliased identically on both sides.

Scale notes: all groupings here have bounded cardinality (days × hours ×
types), so partial aggregation collapses each 100 TB scan to a tiny
shuffle; the one-day queries filter *before* grouping so row pruning
happens at the scan (ts is a sortable parquet column — min/max row-group
stats skip non-matching files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark import session
from mini_log_lakehouse_spark.sources.registry import load_events_range, load_table, warm_mode

#: Fixed parameters for the parameterized serving queries (events span
#: 2024-01-01..2024-01-30; TESTDATA.md).
DAY = "2024-01-15"
TOP_K = 3

def _serving_fct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-layer result memoization (reference serve/app.py:12-28
    ``st.cache_resource``/``st.cache_data``): in warm-cache mode the
    hourly fact is materialized once per (session, sf_dir) and every
    serving query re-aggregates its ~3k rows instead of the raw events.
    Cold mode (the driver's correctness gate) keeps the scan-with-pushdown
    plans — at 100 TB a *single* cold query should prune at the scan, but
    a *dashboard* should serve hundreds of requests from one materialized
    fact; both shapes live here, switched exactly like the table cache."""

    def build() -> DataFrame:
        # The fact is tiny (days × hours × types, ~3k rows at any scale) —
        # hold it in ONE partition so every serving re-aggregate is a
        # single task instead of a 32-way shuffle of near-empty blocks.
        df = fct_events_hourly.__wrapped__(spark, sf_dir).coalesce(1).persist()
        df.count()  # materialize eagerly so first serve isn't penalized
        return df

    return session.memo(spark, ("events.fct", sf_dir), build)


def _from_serving_fct(cold_fn):
    """Decorator: route through the memoized fact in serving mode, the
    pushdown-first cold plan otherwise. The warm rewrite of each query is
    defined in _WARM_REWRITES below; results are value-identical (the
    fact's grain is (date, hour, event_type), a partition of the events,
    so re-summing its counts equals counting the raw rows)."""
    import functools

    @functools.wraps(cold_fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args, **kwargs):
        rewrite = _WARM_REWRITES.get(cold_fn.__name__)
        if rewrite is not None and warm_mode() and not args and not kwargs:
            return rewrite(_serving_fct(spark, sf_dir))
        return cold_fn(spark, sf_dir, *args, **kwargs)

    return wrapper

def _is_error() -> F.Column:
    return F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0))


def _day_bounds_ns(day: str = DAY) -> tuple[int, int]:
    """Half-open [start, end) of one UTC day in epoch nanoseconds."""
    from datetime import date, datetime, timezone

    d = datetime.combine(date.fromisoformat(day), datetime.min.time(), timezone.utc)
    start = int(d.timestamp()) * 1_000_000_000
    return start, start + 86_400 * 1_000_000_000


def stg_events_one_day(spark: SparkSession, sf_dir: str, day: str = DAY) -> DataFrame:
    """stg_events restricted to one day, with the day expressed as a RAW
    ts range at the scan (PushedFilters row-group pruning) — a predicate
    on the derived to_date(ts) column cannot push, which at 100 TB is the
    difference between reading one day and reading everything."""
    lo, hi = _day_bounds_ns(day)
    ev = load_events_range(spark, sf_dir, lo, hi)
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("date"),
        F.date_format("ts", "HH").alias("hour"),
        _is_error().alias("is_error"),
    )


def _dec_sum(col: F.Column) -> F.Column:
    """Exact associative sum of a double expression (see module docstring).
    decimal(19,10) elements: same 10-digit quantization as the oracle's
    (38,10) cast, but long-backed (no per-value BigDecimal) — see
    relational._money_sum for the measurement."""
    return F.sum(col.cast("decimal(19,10)")).cast("double")


def stg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P6/F3/F4/F10: staging projection + derived columns
    (stg_logs shape, reference stg_logs.sql:7-16)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("date"),
        F.date_format("ts", "HH").alias("hour"),
        _is_error().alias("is_error"),
    )


@_from_serving_fct
def fct_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4: the hourly fact (reference fct_requests_hourly.sql:1-12) —
    grain (date, hour, event_type); exact interpolated p95."""
    return (
        stg_events(spark, sf_dir)
        .groupBy("date", "hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.sum("is_error").cast("long").alias("errors"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
        )
    )


@_from_serving_fct
def errors_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+A6+O1 (reference serve/api.py:33-41): one day, per-type totals."""
    return (
        stg_events_one_day(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.sum("is_error").cast("long").alias("errors"),
            F.count(F.lit(1)).alias("requests"),
        )
        .orderBy(F.desc("errors"), F.desc("requests"), "event_type")
    )


@_from_serving_fct
def top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 top-K (reference serve/api.py:63-72); deterministic tiebreak."""
    return (
        stg_events_one_day(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.sum("is_error").cast("long").alias("errors"),
        )
        .orderBy(F.desc("requests"), F.desc("errors"), "event_type")
        .limit(TOP_K)
    )


@_from_serving_fct
def available_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 distinct + O2 sort (reference serve/app.py:23)."""
    return (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("date"))
        .distinct()
        .orderBy("date")
    )


@_from_serving_fct
def kpi_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8 (reference serve/app.py:63-65): totals + zero-guarded rate."""
    agg = (
        stg_events_one_day(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.sum("is_error").cast("long").alias("total_errors"),
        )
    )
    return agg.select(
        "total_events",
        "total_errors",
        F.when(
            F.col("total_events") > 0,
            F.round(F.col("total_errors") * 100.0 / F.col("total_events"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("error_rate_pct"),
    )


@_from_serving_fct
def hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/O2 (reference serve/app.py:77-83): per-hour totals for one day."""
    return (
        stg_events_one_day(spark, sf_dir)
        .groupBy("hour")
        .agg(
            F.count(F.lit(1)).alias("requests"),
            F.sum("is_error").cast("long").alias("errors"),
        )
        .orderBy("hour")
    )


def dim_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (reference dim_endpoint.sql:1): distinct single column."""
    return load_table(spark, sf_dir, "events").select("event_type").distinct()


def props_k_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (driver testdata extension, FIXTURES.md §B):
    get_json_object on the ``props`` string column, grouped histogram."""
    return (
        load_table(spark, sf_dir, "events")
        # try_cast, matching the oracle's TRY_CAST: a non-numeric k
        # ('{"k": "abc"}') must bucket under NULL, not raise
        # CAST_INVALID_INPUT under ANSI mode
        .select(F.get_json_object("props", "$.k").try_cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k")
    )


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path via Spark 4 VARIANT: ``props`` is parsed
    ONCE into the shredded binary encoding (parse_json), then fields
    are extracted with try_variant_get — the modern replacement for
    repeated get_json_object string re-parsing (one parse per row
    instead of one per extraction, and the binary form pushes into
    columnar readers when stored). Per event_type: events, rows with a
    ``k`` field, and exact integer stats of ``k``.

    try_parse_json returns NULL for malformed documents and
    try_variant_get returns NULL for missing paths/type mismatches —
    together the tolerant-extraction contract the reference's regex
    parser establishes for malformed rows (ingest_logs.py:34-43): a
    dirty row yields NULL stats, never a failed query."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


def value_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 + decimal-exact double sums: per-type value statistics."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(_dec_sum(F.col("value")), 6).alias("sum_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def _day_filter(fct: DataFrame) -> DataFrame:
    return fct.filter(F.col("date") == F.lit(DAY).cast("date"))


def _sorted1(df: DataFrame, *cols) -> DataFrame:
    """Global sort for bounded-tiny serving results: one partition +
    in-partition sort skips orderBy's range-partitioning exchange (and
    its sampling job). Only valid because every serving output is at most
    days × hours × types rows."""
    return df.coalesce(1).sortWithinPartitions(*cols)


#: Warm-mode rewrites over the memoized fact. Each is value-identical to
#: its cold twin: the fact partitions the events by (date, hour,
#: event_type), so summing its requests/errors equals counting/summing
#: the raw rows; column names, types (long casts) and orderings match the
#: oracle exactly.
_WARM_REWRITES = {
    "fct_events_hourly": lambda fct: fct,
    "errors_by_type": lambda fct: (
        _day_filter(fct)
        .groupBy("event_type")
        .agg(
            F.sum("errors").cast("long").alias("errors"),
            F.sum("requests").cast("long").alias("requests"),
        )
        .transform(lambda df: _sorted1(df, F.desc("errors"), F.desc("requests"), "event_type"))
    ),
    "top_event_types": lambda fct: (
        _day_filter(fct)
        .groupBy("event_type")
        .agg(
            F.sum("requests").cast("long").alias("requests"),
            F.sum("errors").cast("long").alias("errors"),
        )
        .transform(lambda df: _sorted1(df, F.desc("requests"), F.desc("errors"), "event_type"))
        .limit(TOP_K)
    ),
    "available_days": lambda fct: _sorted1(fct.select("date").distinct(), "date"),
    "kpi_totals": lambda fct: (
        _day_filter(fct)
        .agg(
            # coalesce-to-0 mirrors the cold path's COUNT(*) on an empty day
            F.coalesce(F.sum("requests"), F.lit(0)).cast("long").alias("total_events"),
            F.sum("errors").cast("long").alias("total_errors"),
        )
        .select(
            "total_events",
            "total_errors",
            F.when(
                F.col("total_events") > 0,
                F.round(F.col("total_errors") * 100.0 / F.col("total_events"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("error_rate_pct"),
        )
    ),
    "hourly_trend": lambda fct: (
        _day_filter(fct)
        .groupBy("hour")
        .agg(
            F.sum("requests").cast("long").alias("requests"),
            F.sum("errors").cast("long").alias("errors"),
        )
        .transform(lambda df: _sorted1(df, "hour"))
    ),
}


#: DuckDB oracle twins. The driver registers raw parquet as views, so the
#: oracle must cast events.ts (TIMESTAMP_NS) to TIMESTAMP itself — that is
#: exactly the µs truncation our loader applies.
_STG_SQL = """
    SELECT event_id,
           CAST(ts AS TIMESTAMP) AS ts,
           user_id,
           event_type,
           value,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
           strftime(CAST(ts AS TIMESTAMP), '%H') AS hour,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_error
    FROM events
"""

ORACLES: dict[str, str] = {
    "stg_events": _STG_SQL,
    "fct_events_hourly": f"""
        SELECT date, hour, event_type,
               COUNT(*) AS requests,
               CAST(SUM(is_error) AS BIGINT) AS errors,
               ROUND(quantile_cont(value, 0.95), 6) AS p95_value
        FROM ({_STG_SQL}) stg
        GROUP BY 1, 2, 3
    """,
    "errors_by_type": f"""
        SELECT event_type,
               CAST(SUM(is_error) AS BIGINT) AS errors,
               COUNT(*) AS requests
        FROM ({_STG_SQL}) stg
        WHERE date = DATE '{DAY}'
        GROUP BY 1
        ORDER BY errors DESC, requests DESC, event_type
    """,
    "top_event_types": f"""
        SELECT event_type,
               COUNT(*) AS requests,
               CAST(SUM(is_error) AS BIGINT) AS errors
        FROM ({_STG_SQL}) stg
        WHERE date = DATE '{DAY}'
        GROUP BY 1
        ORDER BY requests DESC, errors DESC, event_type
        LIMIT {TOP_K}
    """,
    "available_days": """
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date
        FROM events ORDER BY 1
    """,
    "kpi_totals": f"""
        WITH agg AS (
            SELECT COUNT(*) AS total_events,
                   CAST(SUM(is_error) AS BIGINT) AS total_errors
            FROM ({_STG_SQL}) stg
            WHERE date = DATE '{DAY}'
        )
        SELECT total_events, total_errors,
               CASE WHEN total_events > 0
                    THEN ROUND(total_errors * 100.0 / total_events, 6)
                    ELSE 0.0 END AS error_rate_pct
        FROM agg
    """,
    "hourly_trend": f"""
        SELECT hour,
               COUNT(*) AS requests,
               CAST(SUM(is_error) AS BIGINT) AS errors
        FROM ({_STG_SQL}) stg
        WHERE date = DATE '{DAY}'
        GROUP BY 1
        ORDER BY hour
    """,
    "dim_event_type": "SELECT DISTINCT event_type FROM events",
    "props_k_histogram": """
        -- json_valid guard: Spark's get_json_object is tolerant (NULL on
        -- malformed/empty JSON) while DuckDB's bare json_extract_string
        -- ERRORS on it — found by the props-adversary probe. The
        -- integer-literal regex mirrors Spark's try_cast(string AS INT)
        -- semantics EXACTLY (ADVICE r12): Spark accepts only an
        -- optionally-signed digit string (after trim) and rejects
        -- '3.5'/'3.0' to NULL, while DuckDB's bare TRY_CAST would round
        -- '3.5' to 4 — so the oracle admits only integer literals
        -- before casting (overflow past INT32 then NULLs identically
        -- in both engines' TRY_CAST/try_cast).
        -- Trim class (ADVICE r13): Spark's cast trims via
        -- UTF8String.trimAll, which strips exactly the SINGLE-BYTE
        -- chars where Java isWhitespace||isISOControl holds — i.e.
        -- [\\x00-\\x20\\x7F] — so '\\t42'/'\\x0042' parse to 42 while
        -- multi-byte whitespace/controls (U+00A0, U+2000, U+0085)
        -- do NOT get trimmed and cast to NULL (probed empirically on
        -- Spark 4.1). DuckDB's bare trim() strips only ASCII spaces,
        -- so the oracle trims the exact class with regexp_replace.
        SELECT TRY_CAST(CASE WHEN json_valid(props)
                             AND regexp_matches(
                                 regexp_replace(
                                     json_extract_string(props, '$.k'),
                                     '^[\\x00-\\x20\\x7F]+|[\\x00-\\x20\\x7F]+$',
                                     '', 'g'),
                                 '^[+-]?[0-9]+$')
                             THEN regexp_replace(
                                     json_extract_string(props, '$.k'),
                                     '^[\\x00-\\x20\\x7F]+|[\\x00-\\x20\\x7F]+$',
                                     '', 'g')
                        END AS INT) AS k,
               COUNT(*) AS n
        FROM events
        GROUP BY 1
        ORDER BY k
    """,
    "props_variant_stats": """
        -- tolerant-extraction parity with Spark's try_parse_json /
        -- try_variant_get: malformed JSON or a non-numeric k yields
        -- NULL, never an error (json_valid guard + TRY_CAST). Parity
        -- holds because this corpus only ever has integer k: on a
        -- dirty corpus the engines' cast rules diverge (k=3.5 or
        -- k=true -> Spark variant-casts to 3/1, DuckDB TRY_CAST(..AS
        -- INT) from the extracted string -> NULL), so porting this
        -- oracle to a new corpus requires mirroring Spark's numeric/
        -- boolean coercion explicitly
        WITH kv AS (
            SELECT event_type,
                   CASE WHEN json_valid(props)
                        THEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
                   END AS k
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(COUNT(k) AS BIGINT) AS n_with_k,
               CAST(MIN(k) AS BIGINT) AS min_k,
               CAST(MAX(k) AS BIGINT) AS max_k,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM kv
        GROUP BY 1
        ORDER BY event_type
    """,
    "value_stats_by_type": """
        SELECT event_type,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 6) AS sum_value,
               ROUND(MIN(value), 6) AS min_value,
               ROUND(MAX(value), 6) AS max_value,
               COUNT(*) AS n
        FROM events
        GROUP BY 1
        ORDER BY event_type
    """,
}

QUERIES = {
    "stg_events": stg_events,
    "fct_events_hourly": fct_events_hourly,
    "errors_by_type": errors_by_type,
    "top_event_types": top_event_types,
    "available_days": available_days,
    "kpi_totals": kpi_totals,
    "hourly_trend": hourly_trend,
    "dim_event_type": dim_event_type,
    "props_k_histogram": props_k_histogram,
    "props_variant_stats": props_variant_stats,
    "value_stats_by_type": value_stats_by_type,
}
