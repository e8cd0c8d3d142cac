"""Coverage extensions beyond the reference surface (SURVEY.md §2.4/§2.7
"not present" notes): CUBE grouping sets, exact + approximate distinct
aggregation, UNION ALL, and a scalar-function battery — each an
oracle-checkable pair.

approx_count_distinct is the genuinely scale-relevant one: at 100 TB the
exact COUNT(DISTINCT user_id) shuffles every distinct value; the HLL++
sketch is mergeable map-side state of a few KB. The HLL estimate is
deterministic for fixed data but not shared with DuckDB, so the approx
query reports the estimate alongside the exact count and the oracle
checks only the exact column... rows-only for the sketch itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.sources.registry import load_table


#: Deterministic split point for the change-feed demo: v0 aggregates
#: events strictly before this day, the MERGE source aggregates the full
#: range — so every event type active in both halves yields an update
#: pair and a type first seen late yields an insert.
CDC_CUTOFF = "2024-01-16"


def lakehouse_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed, driver-verified end-to-end: build a lakehouse
    fact (per-event-type counters) at v0 from the first half-month of
    events, MERGE the full-range recompute as v1, and return
    ``change_feed(1, keys=[event_type])`` — the insert /
    update_preimage / update_postimage rows an incremental downstream
    would consume. Both versions are deterministic functions of the
    corpus, so the whole CDC surface (snapshot diff included) is
    restatable relationally by the DuckDB oracle.

    The ``value`` measure rides as exact integer cents
    (floor(x·100 + 0.5), the money-sum discipline) so the update
    detection never compares order-dependent double sums. The table
    build is deterministic from the corpus, so its lake root is memoized
    per (session, sf_dir) under the session's scratch root."""
    from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable
    from mini_log_lakehouse_spark.session import memo, scratch_dir

    def fact(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )

    def build() -> str:
        ev = load_table(spark, sf_dir, "events")
        root = scratch_dir(spark, "mlls_cdc_")
        t = LakehouseTable(spark, root, "events_cdc")
        t.write(fact(ev.filter(F.col("ts") < F.lit(CDC_CUTOFF))))   # v0
        t.merge(fact(ev), keys=["event_type"])                       # v1
        return root

    root = memo(spark, ("extensions.cdc_lake", sf_dir), build)
    feed = LakehouseTable(spark, root, "events_cdc").change_feed(
        1, keys=["event_type"]
    )
    return feed.orderBy("event_type", "_change_type")


#: Misra–Gries counter capacity per task. With ≤ CAPACITY distinct keys
#: per task the sketch never decrements and the counts are EXACT (the
#: regime at driver/test scale, which is what the oracle checks); beyond
#: it the summary degrades gracefully to the classic guarantee — every
#: key with true frequency > n_task/CAPACITY survives, counts
#: underestimate by ≤ n_task/CAPACITY — while task memory stays at
#: O(CAPACITY) regardless of the key domain (the point of the sketch:
#: a 100 TB user_id domain never fits a hash aggregate's map).
HEAVY_HITTER_CAPACITY = 65536

HEAVY_HITTER_TOP = 10


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K heavy hitters by **mergeable Misra–Gries sketch**: each task
    folds its partition of ``user_id`` values into a bounded
    O(CAPACITY) counter map (Arrow-vectorized — per batch a numpy
    unique/count, then one dict merge + one decrement step, never a
    per-row Python loop), emits the surviving (key, lower-bound count)
    rows, and the per-task summaries merge RELATIONALLY: summing lower
    bounds per key is itself the standard MG merge (Agarwal et al.,
    "Mergeable Summaries", PODS'12), so the combine is a plain groupBy —
    partial-aggregated, shuffle of ≤ tasks×CAPACITY narrow rows — and
    the final top-K is a TakeOrderedAndProject.

    This is the bounded-state alternative to the exact
    groupBy-count-topK (events.top_event_types) for key domains that
    outgrow executor memory. At driver scale (≤150k distinct users per
    task, under CAPACITY) the sketch is provably exact, which is what
    the DuckDB oracle checks; the approximation regime is documented at
    HEAVY_HITTER_CAPACITY."""
    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    out_schema = "user_id long, mg_count long"

    def sketch(batches):
        import numpy as np

        counts: dict[int, int] = {}
        for batch in batches:
            ids = batch.column("user_id").to_numpy(zero_copy_only=False)
            keys, cnts = np.unique(ids, return_counts=True)
            for k, c in zip(keys.tolist(), cnts.tolist()):
                counts[k] = counts.get(k, 0) + c
            if len(counts) > HEAVY_HITTER_CAPACITY:
                # MG batch decrement: subtract the (CAPACITY+1)-th
                # largest count from everyone, drop the non-positive —
                # ≤ CAPACITY survivors, error bound grows by that pivot.
                vals = np.fromiter(counts.values(), dtype=np.int64)
                pivot = np.partition(vals, -HEAVY_HITTER_CAPACITY - 1)[
                    -HEAVY_HITTER_CAPACITY - 1
                ]
                counts = {
                    k: c - int(pivot) for k, c in counts.items() if c > pivot
                }
        yield pa.RecordBatch.from_pydict(
            {
                "user_id": pa.array(list(counts.keys()), pa.int64()),
                "mg_count": pa.array(list(counts.values()), pa.int64()),
            }
        )

    summaries = ev.select("user_id").mapInArrow(sketch, out_schema)
    return (
        summaries.groupBy("user_id")
        .agg(F.sum("mg_count").alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(HEAVY_HITTER_TOP)
    )


#: Count-min sketch geometry: DEPTH independent hash rows × WIDTH
#: counters. Width 32 against ~150 distinct users forces visible
#: collisions at test scale (the point: the estimate is an upper bound,
#: not exact); at 100 TB you'd size WIDTH = ⌈e/ε⌉ for target error ε·N
#: and DEPTH = ⌈ln 1/δ⌉ — the sketch stays a few KB regardless of data.
CMS_DEPTH = 4
CMS_WIDTH = 32


def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-frequency estimation by **count-min sketch** (Cormode &
    Muthukrishnan 2005): CMS_DEPTH salted md5 hash rows × CMS_WIDTH
    counters, estimate = min over rows of the hashed counter — always
    ≥ the true count. Reports estimate vs exact per user so the
    overcount is visible (and the ≥ invariant is oracle-checked, since
    both engines derive identical md5 buckets).

    Scale shape: the sketch build is a map-only explode to DEPTH
    narrow (row, col) increments + a groupBy whose partial aggregation
    collapses each task to ≤ DEPTH×WIDTH cells before the exchange —
    the counters ARE the mergeable summary, merged by addition exactly
    as per-executor sketches would be. The built sketch (128 rows) then
    broadcasts to answer every point query without touching the corpus
    again. Complements the Misra–Gries sketch (events_heavy_hitters:
    top-K identity) — CMS answers arbitrary point queries."""
    from mini_log_lakehouse_spark.operators.sampling import _hash_bucket

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    rc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _hash_bucket(F.col("user_id"), f"cms{r}:", CMS_WIDTH).alias(
                        "col"
                    ),
                )
                for r in range(CMS_DEPTH)
            ]
        )
    )
    cells = (
        ev.select(rc.alias("rc"))
        .select("rc.r", "rc.col")
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = exact.select("user_id", "exact_count", rc.alias("rc")).select(
        "user_id", "exact_count", "rc.r", "rc.col"
    )
    return (
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy("user_id")
    )


def daily_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per group (COUNT(DISTINCT ...))."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("date"))
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.count(F.lit(1)).alias("events"),
        )
        .orderBy("date")
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch vs exact, corpus-wide. Not a driver entry (sketch
    estimates are engine-private and can never hash-match — VERDICT r10
    ask 2); tests assert the relative error bound, and the hash-gated
    driver surface is approx_distinct_quality_report."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )


#: HLL++ acceptance bound as a multiple of the configured rsd: the
#: estimate's error is ~Gaussian with standard deviation rsd, so 3×rsd
#: is a >99.7% envelope — comfortably above the worst error measured on
#: the fixed testdata (1.4% at sf0.1 for rsd=0.02) while still tight
#: enough that a broken sketch (or a silently changed rsd) trips it.
HLL_BOUND_X_RSD = 3
HLL_RSD = 0.02


def approx_distinct_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the HLL++ sketch (VERDICT r8 ask 5, the
    ann_recall_report pattern): per day, the exact COUNT(DISTINCT) and
    whether the approx_count_distinct estimate lands within
    HLL_BOUND_X_RSD × rsd of it. The estimate itself is engine-specific
    (which is why approx_distinct_users is not a driver entry at all), but
    the BOUND CHECK is deterministic on fixed data — the oracle
    restates the exact side relationally and asserts ``TRUE`` for every
    group, so a sketch that drifts outside its error contract turns a
    hash-green driver row red. Scale: one pass, map-side partial HLL
    registers merge per group — the same plan as the rows-only entry."""
    ev = load_table(spark, sf_dir, "events")
    per_day = ev.groupBy(F.to_date("ts").alias("date")).agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("_approx"),
    )
    return per_day.select(
        "date",
        "exact_users",
        hll_within_bound(F.col("_approx"), F.col("exact_users")).alias(
            "within_bound"
        ),
    ).orderBy("date")


def hll_within_bound(approx_col, exact_col):
    """|estimate − exact| ≤ exact × (HLL_BOUND_X_RSD × rsd) — shared by
    the driver entry and the test that proves the flag actually flips
    on an out-of-envelope estimate."""
    return F.abs(approx_col - exact_col) <= exact_col * F.lit(
        HLL_BOUND_X_RSD * HLL_RSD
    )


#: approx_percentile accuracy parameter: the sketch guarantees the
#: returned value's exact rank is within n/accuracy of the requested
#: rank (Greenwald–Khanna bound, the contract Spark documents).
APPROX_PCT_ACCURACY = 1000


def approx_percentile_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the approx_percentile sketch (the
    approx_distinct_quality_report pattern, completing the sketch-gate
    family: HLL bounded, KMV exact-gated, CMS ≥-checked, Misra–Gries
    exact-at-scale, percentiles HERE): per l_returnflag group, the
    p50/p95 approx_percentile of l_extendedprice must sit at an exact
    rank within the documented Greenwald–Khanna envelope
    (n/APPROX_PCT_ACCURACY, +1 for ties/rounding).

    The approx VALUE is engine-specific, so — like the HLL gate — the
    report exposes only deterministic columns: group, row count, and
    the two bound flags the oracle asserts TRUE. The rank check is the
    two-sided form robust to duplicate values: count(< v) must not
    exceed the upper rank bound and count(≤ v) must reach the lower
    one, both in pure integer arithmetic (p·n scaled by 20 to stay
    integral for p = 0.95).

    Scale shape: the sketch is a mergeable bounded summary (map-side
    partial aggregation, a few KB per group however big the corpus);
    the rank audit joins the 3-row sketch output back as a broadcast
    and re-scans once — a production pipeline would drop the audit and
    keep the single sketch pass."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.percentile_approx(
            "l_extendedprice", [0.5, 0.95], APPROX_PCT_ACCURACY
        ).alias("_aps"),
    )
    probe = li.join(
        F.broadcast(sk), "l_returnflag"
    )  # sketch output is group-grain — tiny
    return (
        probe.groupBy(F.col("l_returnflag").alias("returnflag"), "n_rows")
        .agg(
            rank_within_bound(
                F.col("l_extendedprice"), F.col("_aps")[0], 1, 2,
                F.col("n_rows"), APPROX_PCT_ACCURACY,
            ).alias("within_p50"),
            rank_within_bound(
                F.col("l_extendedprice"), F.col("_aps")[1], 19, 20,
                F.col("n_rows"), APPROX_PCT_ACCURACY,
            ).alias("within_p95"),
        )
        .select("returnflag", "n_rows", "within_p50", "within_p95")
        .orderBy("returnflag")
    )


def rank_within_bound(value_col, v, p_num: int, p_den: int, n_col, accuracy: int):
    """Aggregate boolean: does value ``v`` sit at an exact rank within
    n/accuracy (+1 for ties) of the p_num/p_den quantile of
    ``value_col``? Two-sided and duplicate-robust: count(< v) must not
    exceed the upper rank bound, count(≤ v) must reach the lower one.
    Shared by the driver entry and the test that proves the flag
    actually flips for an out-of-envelope value."""
    eps = n_col / F.lit(accuracy) + F.lit(1)
    target = n_col * F.lit(p_num) / F.lit(p_den)
    lt = F.sum((value_col < v).cast("long"))
    le = F.sum((value_col <= v).cast("long"))
    return (lt <= target + eps) & (le >= target - eps)


#: KMV sketch size: relative standard error ≈ 1/sqrt(k−2) = 4.4% at 512.
KMV_K = 512
#: 48-bit hash space (12 md5 hex digits) — matches sampling._hash_bucket.
KMV_SPACE = 1 << 48
#: Acceptance envelope in basis points: 3σ = 3/sqrt(510) = 13.29% (the
#: worst group on the fixed corpus measures 10.2% at sf0.01). Integer
#: basis-point compare keeps the check float-free on both engines.
KMV_BOUND_BP = 1329


def kmv_distinct_orders(li: DataFrame, k: int = KMV_K) -> DataFrame:
    """Distinct-count estimation by **K-minimum-values** (bottom-k /
    theta sketch; Bar-Yossef et al. RANDOM'02, Beyer et al. SIGMOD'07):
    per (l_returnflag, ship_year) group, hash every l_orderkey to a
    uniform 48-bit value, keep the k smallest DISTINCT hashes, and
    estimate D ≈ (k−1) / normalized k-th minimum. Groups holding fewer
    than k distinct keys keep them all and the sketch is EXACT.

    Unlike HLL++ (engine-private registers — approx_distinct_users is
    rows-only for that reason), the KMV sketch state is just k order
    statistics of a hash both engines compute identically (the md5
    idiom of sampling._hash_bucket), and the estimator is integer
    arithmetic (truncating DIV) — so the ESTIMATE itself hash-gates,
    not merely a bound check. ``within_bound`` additionally asserts the
    3σ error envelope so a silently broken estimator flips a column
    the eye would catch even in a rows-only reading.

    Scale shape: the distinct() partial-aggregates (group, hash) pairs
    map-side; the per-group k-smallest ranking window runs under
    Spark's WindowGroupLimit, which maintains bounded top-k state BELOW
    the exchange — i.e. each task ships at most k hashes per group,
    exactly the mergeable bottom-k sketch union. The estimate is a
    group-grain scalar expression; the corpus is scanned twice (sketch
    + exact audit column) only because the report compares against
    truth — a production pipeline would drop the exact side and scan
    once."""
    keyed = li.select(
        F.col("l_returnflag").alias("returnflag"),
        F.year("l_shipdate").cast("long").alias("ship_year"),
        _hash48(F.col("l_orderkey")).alias("hv"),
    ).distinct()
    from pyspark.sql.window import Window as W

    w = W.partitionBy("returnflag", "ship_year").orderBy("hv")
    sk = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("returnflag", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("hk"),
        )
    )
    exact = li.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(F.countDistinct("l_orderkey").alias("exact_orders"))
    est = F.when(F.col("n_kept") < k, F.col("n_kept")).otherwise(
        F.expr(f"CAST(({k - 1} * {KMV_SPACE}) DIV hk AS BIGINT)")
    )
    return (
        exact.join(sk, ["returnflag", "ship_year"])
        .withColumn("kmv_estimate", est.cast("long"))
        .select(
            "returnflag",
            "ship_year",
            "exact_orders",
            "kmv_estimate",
            (
                F.abs(F.col("kmv_estimate") - F.col("exact_orders")) * 10000
                <= F.col("exact_orders") * KMV_BOUND_BP
            ).alias("within_bound"),
        )
        .orderBy("returnflag", "ship_year")
    )


def _hash48(col, salt: str = "kmv:"):
    """Uniform 48-bit integer hash shared with the DuckDB oracle (the
    sampling._hash_bucket idiom with the modulus left at the full hash
    space)."""
    from mini_log_lakehouse_spark.operators.sampling import _hash_bucket

    return _hash_bucket(col, salt, KMV_SPACE)


#: Intersection-estimate envelope: relative σ ≈ sqrt(1/c) for c ≈ 390
#: sampled common hashes (~5.1%) plus the union term in quadrature →
#: ~3σ ≈ 20%. Observed worst on the fixed corpus: 3.7%.
KMV_INTER_BOUND_BP = 2000


def kmv_set_report(orders: DataFrame, k: int = KMV_K) -> DataFrame:
    """**Theta-sketch set algebra on KMV sketches** (Dasgupta et al.,
    "Theta Sketch Framework", and the KMV estimators of Beyer et al.
    SIGMOD'07): estimate |A∪B| and |A∩B| for two customer key sets
    (A = customers with URGENT orders, B = with HIGH orders) from their
    bottom-k sketches ALONE — union = bottom-k of the merged sketch
    hashes (valid because the k smallest of A∪B are contained in
    sketchA ∪ sketchB), intersection = (common hashes below the union's
    θ) · |A∪B|est / k. Exact counts ride along as the audit columns.

    Every step is deterministic integer arithmetic on the shared md5
    hash, so — like lineitem_kmv_distinct_orders — the ESTIMATES
    themselves hash-gate against the relational restatement, which no
    engine-private sketch (HLL, DataSketches) can offer.

    Scale shape: one corpus pass builds both sketches (distinct
    partial-agg + per-label bottom-k under WindowGroupLimit, ≤ k rows
    per label shipped); ALL set algebra then runs on ≤ 2k sketch rows
    — the union ranking's single partition is model-sized by
    construction, never corpus-sized. The exact audit columns cost one
    more pass a production pipeline would drop."""
    from pyspark.sql.window import Window as W

    scoped = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    keys = scoped.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("s"),
        _hash48(F.col("o_custkey"), "kmvset:").alias("hv"),
    ).distinct()
    sk = (
        keys.withColumn(
            "rn", F.row_number().over(W.partitionBy("s").orderBy("hv"))
        )
        .filter(F.col("rn") <= k)
        .select("s", "hv")
    )
    un = (
        sk.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(W.orderBy("hv")))
        .filter(F.col("rn") <= k)
    )
    theta = un.agg(
        F.count(F.lit(1)).alias("n_u"), F.max("hv").alias("uk")
    )
    common = (
        sk.filter(F.col("s") == "a")
        .select("hv")
        .join(sk.filter(F.col("s") == "b").select("hv"), "hv")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("hv") <= F.col("uk"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = scoped.agg(
        F.countDistinct("o_custkey").alias("exact_union"),
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
        ).alias("exact_b"),
    ).withColumn(
        "exact_inter",
        (F.col("exact_a") + F.col("exact_b") - F.col("exact_union")).cast(
            "long"
        ),
    )
    est_u = F.when(F.col("n_u") < k, F.col("n_u")).otherwise(
        F.expr(f"CAST(({k - 1} * {KMV_SPACE}) DIV uk AS BIGINT)")
    )
    row = (
        exact.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(common))
        .withColumn("kmv_union", est_u.cast("long"))
        .withColumn(
            "kmv_inter",
            F.when(F.col("n_u") < k, F.col("c"))
            .otherwise(F.expr(f"CAST(c * kmv_union DIV {k} AS BIGINT)"))
            .cast("long"),
        )
    )
    return row.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "kmv_union",
        (
            F.abs(F.col("kmv_union") - F.col("exact_union")) * 10000
            <= F.col("exact_union") * KMV_BOUND_BP
        ).alias("union_within"),
        "exact_inter",
        "kmv_inter",
        (
            F.abs(F.col("kmv_inter") - F.col("exact_inter")) * 10000
            <= F.col("exact_inter") * KMV_INTER_BOUND_BP
        ).alias("inter_within"),
    )


def orders_kmv_set_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry — see kmv_set_report."""
    return kmv_set_report(load_table(spark, sf_dir, "orders"))


def kmv_set_oracle_sql(k: int = KMV_K) -> str:
    """Relational restatement of the sketch set algebra."""
    return f"""
        WITH keys AS (
            SELECT DISTINCT
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS s,
                   ((('0x' || substr(md5('kmvset:' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT) % {KMV_SPACE}) AS hv
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        ), sk AS (
            SELECT s, hv FROM (
                SELECT s, hv, ROW_NUMBER() OVER (PARTITION BY s ORDER BY hv) AS rn
                FROM keys
            ) WHERE rn <= {k}
        ), un AS (
            SELECT hv FROM (
                SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
                FROM (SELECT DISTINCT hv FROM sk)
            ) WHERE rn <= {k}
        ), theta AS (
            SELECT COUNT(*) AS n_u, MAX(hv) AS uk FROM un
        ), common AS (
            SELECT COUNT(*) AS c
            FROM (SELECT hv FROM sk WHERE s = 'a'
                  INTERSECT
                  SELECT hv FROM sk WHERE s = 'b') i, theta t
            WHERE i.hv <= t.uk
        ), exact AS (
            SELECT COUNT(DISTINCT o_custkey) AS exact_union,
                   COUNT(DISTINCT o_custkey)
                       FILTER (WHERE o_orderpriority = '1-URGENT') AS exact_a,
                   COUNT(DISTINCT o_custkey)
                       FILTER (WHERE o_orderpriority = '2-HIGH') AS exact_b
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        ), est AS (
            SELECT e.exact_a, e.exact_b, e.exact_union,
                   e.exact_a + e.exact_b - e.exact_union AS exact_inter,
                   CAST(CASE WHEN t.n_u < {k} THEN t.n_u
                        ELSE ({k - 1} * {KMV_SPACE}) // t.uk END AS BIGINT)
                       AS kmv_union,
                   t.n_u, c.c
            FROM exact e, theta t, common c
        )
        SELECT CAST(exact_a AS BIGINT) AS exact_a,
               CAST(exact_b AS BIGINT) AS exact_b,
               CAST(exact_union AS BIGINT) AS exact_union,
               kmv_union,
               (ABS(kmv_union - exact_union) * 10000
                <= exact_union * {KMV_BOUND_BP}) AS union_within,
               CAST(exact_inter AS BIGINT) AS exact_inter,
               CAST(CASE WHEN n_u < {k} THEN c
                    ELSE c * kmv_union // {k} END AS BIGINT) AS kmv_inter,
               (ABS(CAST(CASE WHEN n_u < {k} THEN c
                         ELSE c * kmv_union // {k} END AS BIGINT)
                    - exact_inter) * 10000
                <= exact_inter * {KMV_INTER_BOUND_BP}) AS inter_within
        FROM est
    """


def lineitem_kmv_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for the KMV sketch — see kmv_distinct_orders."""
    return kmv_distinct_orders(load_table(spark, sf_dir, "lineitem"))


def kmv_oracle_sql(k: int = KMV_K) -> str:
    """Relational restatement of the KMV sketch (parameterized so tests
    can gate small-k regimes the fixed corpus doesn't reach)."""
    return f"""
        WITH hv AS (
            SELECT DISTINCT l_returnflag AS returnflag,
                   CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
                   ((('0x' || substr(md5('kmv:' || CAST(l_orderkey AS VARCHAR)), 1, 12))::BIGINT) % {KMV_SPACE}) AS hv
            FROM lineitem
        ), ranked AS (
            SELECT returnflag, ship_year, hv,
                   ROW_NUMBER() OVER (PARTITION BY returnflag, ship_year ORDER BY hv) AS rn
            FROM hv
        ), sk AS (
            SELECT returnflag, ship_year, COUNT(*) AS n_kept,
                   MAX(CASE WHEN rn = {k} THEN hv END) AS hk
            FROM ranked WHERE rn <= {k} GROUP BY 1, 2
        ), exact AS (
            SELECT l_returnflag AS returnflag,
                   CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
                   COUNT(DISTINCT l_orderkey) AS exact_orders
            FROM lineitem GROUP BY 1, 2
        )
        SELECT returnflag, ship_year, exact_orders, kmv_estimate,
               (ABS(kmv_estimate - exact_orders) * 10000
                <= exact_orders * {KMV_BOUND_BP}) AS within_bound
        FROM (
            SELECT e.returnflag, e.ship_year, e.exact_orders,
                   CAST(CASE WHEN s.n_kept < {k} THEN s.n_kept
                        ELSE ({k - 1} * {KMV_SPACE}) // s.hk END AS BIGINT)
                       AS kmv_estimate
            FROM exact e JOIN sk s USING (returnflag, ship_year)
        )
        ORDER BY returnflag, ship_year
    """


def orders_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of the two keys)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("orders"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def setop_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) + re-aggregation."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.unionAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nationkey")
    )


def scalar_function_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F10-style scalar surface over documents: substring_index, case
    manipulation, padding, concat, conditional — one row per doc."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.substring("text", 1, 12).alias("prefix12"),
        F.substring_index("source", "c", 1).alias("source_head"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("doc_key"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.when(F.col("n_chars") >= 300, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("size_class"),
        F.length(F.trim("text")).cast("long").alias("trimmed_len"),
    ).orderBy("doc_id")


def events_hour_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (crosstab): event counts per type × 6 four-hour buckets.

    The pivot value list is FIXED (h00..h20) — an open-ended pivot needs
    a distinct-scan planning pass, which at 100 TB is a full extra job;
    declaring the domain keeps it one aggregation."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.date_format("ts", "HH").cast("int") / 4) * 4).cast("int")
    buckets = [0, 4, 8, 12, 16, 20]
    return (
        ev.select("event_type", bucket.alias("h"))
        .groupBy("event_type")
        .pivot("h", buckets)
        .agg(F.count(F.lit(1)))
        .select(
            "event_type",
            *[F.coalesce(F.col(str(b)), F.lit(0)).alias(f"h{b:02d}") for b in buckets],
        )
        .orderBy("event_type")
    )


def events_hour_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide crosstab of events_hour_pivot back to
    tidy (event_type, hour_bucket, n) rows via DataFrame.unpivot — the
    round trip proves PIVOT/UNPIVOT are inverses up to the declared
    value domain. Map-only over the (tiny) wide table; the cost is the
    pivot that produced it."""
    wide = events_hour_pivot(spark, sf_dir)
    # values=None melts every non-id column — the bucket domain stays
    # defined ONCE, in the pivot
    return (
        wide.unpivot(
            ids=["event_type"],
            values=None,
            variableColumnName="hour_bucket",
            valueColumnName="n",
        )
        .orderBy("event_type", "hour_bucket")
    )


def grouping_sets_status_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure ROLLUP nor CUBE): totals by
    (status), by (priority), and grand total — one pass, three grains."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS orders
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


def user_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregate (max_by): each user's latest event type — one
    aggregation pass, no self-join/window (the classic "latest row per
    key" anti-pattern killer at scale). Deterministic via the (ts,
    event_id) tiebreak struct."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("event_type", F.struct("ts", "event_id")).alias("last_event_type"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("events"),
        )
        .orderBy("user_id")
    )


#: Columns profiled by events_column_profile; the integer ones also get
#: min/max (other types' extrema are left NULL — cross-engine string
#: formatting of doubles/timestamps is not canonical, and a profiler
#: must never invent a lossy canonical form just to fill a cell).
PROFILE_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
PROFILE_INT_COLS = ("event_id", "user_id")


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the dbt-docs / Great-Expectations "describe"
    shape): per column — row count, non-null count, exact distinct
    count, and min/max for the integer columns. ONE aggregate pass
    computes every column's stats, then a generated explode unpivots
    the single row into per-column rows.

    Scale note: the exact multi-column COUNT(DISTINCT) plans as an
    Expand (one replicated stream per distinct column) — acceptable for
    a profiling job you run per ingest batch; a continuous profiler
    swaps in approx_count_distinct and the Expand disappears. That
    trade is the HLL dial documented at approx_distinct_users."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in PROFILE_COLS:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
    for c in PROFILE_INT_COLS:
        aggs.append(F.min(c).cast("long").alias(f"_min_{c}"))
        aggs.append(F.max(c).cast("long").alias(f"_max_{c}"))
    one = ev.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("_rows").cast("long").alias("n_rows"),
            F.col(f"_nn_{c}").cast("long").alias("n_nonnull"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            (
                F.col(f"_min_{c}")
                if c in PROFILE_INT_COLS
                else F.lit(None).cast("long")
            ).alias("min_long"),
            (
                F.col(f"_max_{c}")
                if c in PROFILE_INT_COLS
                else F.lit(None).cast("long")
            ).alias("max_long"),
        )
        for c in PROFILE_COLS
    ]
    return (
        one.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.*")
        .orderBy("column_name")
    )


def orders_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function battery on one per-priority value ranking:
    rank/dense_rank, the distribution functions (percent_rank,
    cume_dist — both exact rationals of rank and partition size, so one
    IEEE division lands the identical double in both engines), NTILE,
    and the frame-value functions first/nth/last over the full-frame
    window. Top-5 rows per priority via the literal rank predicate
    (WindowGroupLimit pushes it below the exchange — same discipline as
    top3_customers_per_nation)."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = o.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first("o_orderkey").over(wf).cast("long").alias("top_key"),
        F.nth_value("o_orderkey", 3).over(wf).cast("long").alias("third_key"),
        F.last("o_orderkey").over(wf).cast("long").alias("bottom_key"),
    )
    return (
        ranked.filter(F.col("rk") <= 5)
        .orderBy("o_orderpriority", "rk")
    )


def user_hourly_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap filling (the warehouse "dense calendar" op): an
    hourly spine spanning the corpus's [min, max] event hours, left-
    joined with one user's hourly activity, absent hours zero-filled
    and flagged. The probe user is the corpus's MIN(user_id) — a
    deterministic pick whose ~57 active hours against a ~720-slot spine
    make the gaps real.

    Shape at 100 TB: the spine is generated (sequence + explode from a
    1-row bound aggregate — rows = hours, thousands, never data-sized);
    the activity side is an already-aggregated (hour, count) table, so
    the join is spine × hour-grain, both tiny relative to the corpus.
    Gap filling never touches event grain."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
        F.min("user_id").alias("probe_user"),
    )
    spine = bounds.select(
        "probe_user",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    activity = (
        ev.join(F.broadcast(bounds.select("probe_user")),
                ev.user_id == F.col("probe_user"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        spine.join(activity, "hour", "left")
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().cast("int").alias("is_gap"),
        )
        .orderBy("hour")
    )


def _cms_bucket_sql(r: int) -> str:
    from mini_log_lakehouse_spark.operators.sampling import _sql_bucket

    return _sql_bucket("user_id", f"cms{r}:", CMS_WIDTH)


_CMS_INCR = " UNION ALL ".join(
    f"SELECT {r} AS r, {_cms_bucket_sql(r)} AS col "
    "FROM events WHERE user_id IS NOT NULL"
    for r in range(CMS_DEPTH)
)
_CMS_PROBES = " UNION ALL ".join(
    f"SELECT user_id, exact_count, {r} AS r, {_cms_bucket_sql(r)} AS col FROM exact"
    for r in range(CMS_DEPTH)
)

def _profile_expr(c: str) -> str:
    # ts needs the defensive CAST every events oracle uses: a
    # TIMESTAMP(NANOS) flavor would otherwise count ns-distinct values
    # while Spark counts the µs-normalized ones
    return f"CAST({c} AS TIMESTAMP)" if c == "ts" else c


_PROFILE_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS column_name,
               COUNT(*) AS n_rows,
               CAST(COUNT({_profile_expr(c)}) AS BIGINT) AS n_nonnull,
               COUNT(DISTINCT {_profile_expr(c)}) AS n_distinct,
               {f"CAST(MIN({c}) AS BIGINT)" if c in PROFILE_INT_COLS else "CAST(NULL AS BIGINT)"} AS min_long,
               {f"CAST(MAX({c}) AS BIGINT)" if c in PROFILE_INT_COLS else "CAST(NULL AS BIGINT)"} AS max_long
        FROM events"""
    for c in PROFILE_COLS
)

ORACLES: dict[str, str] = {
    "events_column_profile": f"SELECT * FROM ({_PROFILE_SQL}) ORDER BY column_name",
    # The estimate column never appears (engine-specific); the ORACLE
    # asserts the CONTRACT: exact counts relationally, and TRUE for
    # every group's bound check — a sketch outside its error envelope
    # makes the Spark side emit false and the driver row go red.
    "approx_distinct_quality_report": """
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_bound
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    "lineitem_kmv_distinct_orders": kmv_oracle_sql(),
    "orders_kmv_set_report": kmv_set_oracle_sql(),
    "approx_percentile_quality_report": """
        SELECT l_returnflag AS returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               TRUE AS within_p50,
               TRUE AS within_p95
        FROM lineitem
        GROUP BY 1
        ORDER BY 1
    """,
    "orders_window_battery": """
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               rk, drk, pct_rank, cume_dist, quartile,
               top_key, third_key, bottom_key
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   CAST(RANK() OVER w AS BIGINT) AS rk,
                   CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
                   PERCENT_RANK() OVER w AS pct_rank,
                   CUME_DIST() OVER w AS cume_dist,
                   CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
                   CAST(FIRST_VALUE(o_orderkey) OVER wf AS BIGINT) AS top_key,
                   CAST(NTH_VALUE(o_orderkey, 3) OVER wf AS BIGINT) AS third_key,
                   CAST(LAST_VALUE(o_orderkey) OVER wf AS BIGINT) AS bottom_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey ASC),
                   wf AS (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING)
        )
        WHERE rk <= 5
        ORDER BY o_orderpriority, rk
    """,
    "user_hourly_gapfilled": """
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS h0,
                   date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS h1,
                   MIN(user_id) AS probe_user
            FROM events
        ), spine AS (
            SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ), activity AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
                   COUNT(*) AS n
            FROM events
            WHERE user_id = (SELECT probe_user FROM bounds)
            GROUP BY 1
        )
        SELECT s.hour,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
               CAST(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
        FROM spine s LEFT JOIN activity a USING (hour)
        ORDER BY s.hour
    """,
    "events_cms_user_counts": f"""
        WITH cells AS (
            SELECT r, col, COUNT(*) AS cnt
            FROM ({_CMS_INCR})
            GROUP BY 1, 2
        ), exact AS (
            SELECT user_id, COUNT(*) AS exact_count
            FROM events WHERE user_id IS NOT NULL GROUP BY 1
        ), probes AS ({_CMS_PROBES})
        SELECT p.user_id,
               p.exact_count,
               MIN(c.cnt) AS cms_estimate,
               MIN(c.cnt) - p.exact_count AS overcount
        FROM probes p JOIN cells c ON p.r = c.r AND p.col = c.col
        GROUP BY 1, 2
        ORDER BY 1
    """,
    # The CDC semantics restated relationally: v0 = first-half fact,
    # v1 source = full-range fact; MERGE yields updates where any
    # measure differs, inserts for keys absent at v0 (deletes are
    # impossible — MERGE only upserts).
    "lakehouse_change_feed": f"""
        WITH v0 AS (
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events WHERE ts < TIMESTAMP '{CDC_CUTOFF}'
            GROUP BY 1
        ),
        v1 AS (
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events
            GROUP BY 1
        ),
        feed AS (
            SELECT v1.event_type, v1.n_events, v1.value_cents,
                   'insert' AS _change_type
            FROM v1 LEFT JOIN v0 USING (event_type)
            WHERE v0.event_type IS NULL
            UNION ALL
            SELECT v0.event_type, v0.n_events, v0.value_cents, 'update_preimage'
            FROM v0 JOIN v1 USING (event_type)
            WHERE v0.n_events != v1.n_events
               OR v0.value_cents IS DISTINCT FROM v1.value_cents
            UNION ALL
            SELECT v1.event_type, v1.n_events, v1.value_cents, 'update_postimage'
            FROM v0 JOIN v1 USING (event_type)
            WHERE v0.n_events != v1.n_events
               OR v0.value_cents IS DISTINCT FROM v1.value_cents
        )
        SELECT event_type, n_events, value_cents, _change_type,
               CAST(1 AS BIGINT) AS _commit_version
        FROM feed
        ORDER BY event_type, _change_type
    """,
    # Exact in the ≤CAPACITY-distinct-keys regime the driver tests run
    # in (see events_heavy_hitters): the sketch provably equals the
    # exact grouped count there, so the oracle states the exact query.
    "events_heavy_hitters": f"""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY 1
        ORDER BY n_events DESC, user_id
        LIMIT {HEAVY_HITTER_TOP}
    """,
    "daily_distinct_users": """
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
               COUNT(DISTINCT user_id) AS distinct_users,
               COUNT(*) AS events
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    "orders_cube_status_priority": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS orders
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """,
    "setop_union_all_counts": """
        SELECT nationkey, COUNT(*) AS n FROM (
            SELECT c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT s_nationkey FROM supplier
        )
        GROUP BY 1
        ORDER BY 1
    """,
    "events_hour_unpivot": """
        WITH b AS (
            SELECT event_type,
                   CAST(FLOOR(CAST(strftime(CAST(ts AS TIMESTAMP), '%H') AS INT) / 4) * 4 AS INT) AS h
            FROM events
        ), counts AS (
            SELECT event_type, h, COUNT(*) AS n FROM b GROUP BY 1, 2
        ), grid AS (
            SELECT t.event_type, v.h
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (VALUES (0), (4), (8), (12), (16), (20)) v(h)
        )
        SELECT g.event_type,
               'h' || lpad(CAST(g.h AS VARCHAR), 2, '0') AS hour_bucket,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        FROM grid g
        LEFT JOIN counts c ON c.event_type = g.event_type AND c.h = g.h
        ORDER BY 1, 2
    """,
    "events_hour_pivot": """
        WITH b AS (
            SELECT event_type,
                   CAST(FLOOR(CAST(strftime(CAST(ts AS TIMESTAMP), '%H') AS INT) / 4) * 4 AS INT) AS h
            FROM events
        )
        SELECT event_type,
               COUNT(*) FILTER (WHERE h = 0)  AS h00,
               COUNT(*) FILTER (WHERE h = 4)  AS h04,
               COUNT(*) FILTER (WHERE h = 8)  AS h08,
               COUNT(*) FILTER (WHERE h = 12) AS h12,
               COUNT(*) FILTER (WHERE h = 16) AS h16,
               COUNT(*) FILTER (WHERE h = 20) AS h20
        FROM b
        GROUP BY 1
        ORDER BY 1
    """,
    "grouping_sets_status_day": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """,
    # max_by with a (ts, event_id) tiebreak struct has no DuckDB arg_max
    # twin (arg_max takes scalar ordering only) — the oracle derives the
    # same row via a window, same deterministic (ts DESC, event_id DESC).
    "user_last_event": """
        WITH e AS (
            SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events
        ),
        agg AS (
            SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS events
            FROM e GROUP BY 1
        ),
        last AS (
            SELECT user_id, event_type AS last_event_type FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM e
            ) WHERE rn = 1
        )
        SELECT a.user_id, l.last_event_type, a.last_ts, a.events
        FROM agg a JOIN last l USING (user_id)
        ORDER BY user_id
    """,
    "scalar_function_battery": """
        SELECT doc_id,
               upper(lang) AS lang_upper,
               substring(text, 1, 12) AS prefix12,
               split_part(source, 'c', 1) AS source_head,
               lpad(CAST(doc_id AS VARCHAR), 6, '0') AS doc_key,
               concat_ws('|', lang, source) AS lang_source,
               CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS size_class,
               CAST(length(trim(text)) AS BIGINT) AS trimmed_len
        FROM documents
        ORDER BY doc_id
    """,
}

QUERIES = {
    "events_cms_user_counts": events_cms_user_counts,
    "events_column_profile": events_column_profile,
    "events_hour_unpivot": events_hour_unpivot,
    "orders_window_battery": orders_window_battery,
    "user_hourly_gapfilled": user_hourly_gapfilled,
    "lakehouse_change_feed": lakehouse_change_feed,
    "events_heavy_hitters": events_heavy_hitters,
    "daily_distinct_users": daily_distinct_users,
    # approx_distinct_users is deliberately NOT a driver entry (VERDICT
    # r10 ask 2): Spark's HLL++ registers are engine-private, so the raw
    # estimate can never hash-match DuckDB and would re-emit a red
    # rows-only row every rotation. The function stays (callers get the
    # sketch), its error envelope stays behaviorally tested
    # (tests/test_extensions.py::test_approx_distinct_within_rsd), and
    # its driver-facing gate is approx_distinct_quality_report below —
    # hash-green because it exposes only deterministic columns.
    "approx_distinct_quality_report": approx_distinct_quality_report,
    "lineitem_kmv_distinct_orders": lineitem_kmv_distinct_orders,
    "orders_kmv_set_report": orders_kmv_set_report,
    "approx_percentile_quality_report": approx_percentile_quality_report,
    "orders_cube_status_priority": orders_cube_status_priority,
    "setop_union_all_counts": setop_union_all_counts,
    "scalar_function_battery": scalar_function_battery,
    "events_hour_pivot": events_hour_pivot,
    "grouping_sets_status_day": grouping_sets_status_day,
    "user_last_event": user_last_event,
}
