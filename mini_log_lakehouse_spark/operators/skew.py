"""Skew-mitigated joins and aggregations via key salting.

The 100 TB skew story has three tiers, in order of preference:

1. **Broadcast** the small side — no shuffle, no skew (dims here do
   this; see relational.py). Salting a broadcastable join is pointless.
2. **AQE skew-join** (`spark.sql.adaptive.skewJoin`, on in session.py)
   splits oversized shuffle partitions at runtime — handles most
   big-big joins with no code change.
3. **Explicit salting** — this module — for the cases AQE cannot fix:
   a shuffle HASH AGGREGATION with a hot group key (AQE skew handling
   applies to joins, not partial→final aggs whose hot key hashes to one
   reducer), and joins where a deterministic layout is required (AQE's
   split factor varies with observed sizes run to run).

Salting shape: the fact side appends ``salt = pmod(hash(row-unique),
S)``, the small-but-hot side replicates ×S (explode over a literal salt
array), and the join key becomes (key, salt) — the hot key's rows now
spread over S reducers. S is a constant: salting costs S× replication
of the small side, so it composes with — never replaces — broadcast
elimination; use it when the replicated side is too big to broadcast
whole but each key's payload is small.

Reference parity: the reference has no distributed execution at all
(single-process Pandas/DuckDB — skew is irrelevant there); this module
exists for the 100 TB target the north star names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.functions.skew import salted_join
from mini_log_lakehouse_spark.sources.registry import load_table

#: Default salt fan-out: enough to spread one hot key over every core of
#: a 32-way local run or a few executors of a real cluster; raising it
#: costs linear replication of the salted-right side.
DEFAULT_SALTS = 16


def salted_hot_key_agg(
    df: DataFrame,
    key: str,
    aggs: list,
    salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-stage aggregation for a hot group key: first aggregate at
    (key, salt) grain — the hot key's rows spread over ``salts``
    reducers — then merge the per-salt partials at key grain (a few
    rows per key). ``aggs`` must be mergeable (sum/count/min/max
    expressions as (partial_expr, merge_fn, name) triples).

    Spark's partial aggregation already does map-side combine, which
    covers MOST hot-key aggs; this explicit form is for the case where
    per-key state is too wide for the partial-agg hash map (e.g.
    collecting large per-key structures) and the single final reducer
    for the hot key becomes the straggler."""
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(salts))
    )
    partial = salted.groupBy(key, "_salt").agg(
        *[expr.alias(f"_p_{name}") for expr, _, name in aggs]
    )
    return partial.groupBy(key).agg(
        *[merge(F.col(f"_p_{name}")).alias(name) for _, merge, name in aggs]
    )


def events_hot_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: a deliberately skewed join, salted.

    Events are bucketed so ~70% of rows share bucket 0 (a synthetic hot
    key with the same shape as a real hot tenant/session); the bucket
    dimension (per-bucket event-type counts at dim grain) joins back via
    functions/skew.salted_join with DEFAULT_SALTS salts, then rolls up —
    the oracle restates the identical join relationally, proving the
    salt changed the layout and not the semantics."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        (
            F.when(F.col("user_id") % 10 < 7, F.lit(0)).otherwise(
                (F.col("user_id") % 10).cast("long")
            )
        ).alias("bucket"),
    )
    dim = ev.groupBy(F.col("bucket").alias("b")).agg(
        F.count_distinct("user_id").alias("bucket_users")
    ).withColumnRenamed("b", "bucket")
    joined = salted_join(ev, dim, "bucket", salt=DEFAULT_SALTS)
    return (
        joined.groupBy("bucket", "bucket_users")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.count_distinct("event_type").alias("types"),
        )
        .select("bucket", "bucket_users", "events", "types")
        .orderBy("bucket")
    )


ORACLES: dict[str, str] = {
    "events_hot_bucket_join": """
        WITH ev AS (
            SELECT event_id, user_id, event_type,
                   CASE WHEN user_id % 10 < 7 THEN 0
                        ELSE CAST(user_id % 10 AS BIGINT) END AS bucket
            FROM events
        ), dim AS (
            SELECT bucket, COUNT(DISTINCT user_id) AS bucket_users
            FROM ev GROUP BY 1
        )
        SELECT ev.bucket, dim.bucket_users,
               COUNT(*) AS events,
               COUNT(DISTINCT ev.event_type) AS types
        FROM ev JOIN dim ON ev.bucket = dim.bucket
        GROUP BY 1, 2
        ORDER BY 1
    """,
}

QUERIES = {
    "events_hot_bucket_join": events_hot_bucket_join,
}
