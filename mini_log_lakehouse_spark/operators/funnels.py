"""Product-analytics operators over the events log: conversion funnels
and retention cohorts — the two canonical "what do users do over time"
queries of a log lakehouse (the reference's domain, one level up from
its hourly-rollup marts; reference dbt/models/marts/fct_requests_hourly.sql
stops at per-hour counts).

Both are single-shuffle shapes at 100 TB:

- The **funnel** reduces the corpus to one row per (user, step) — min
  event time per step — with map-side partial aggregation, then decides
  step ordering per user on that tiny per-user frame. The corpus is
  touched once; everything after the first aggregate is user-grain.
- **Retention** derives each user's cohort day (min day) and joins it
  back to the user's activity days. Both sides are the same
  (user, day)-grain aggregate, so the join is user-grain × user-grain,
  orders of magnitude below event grain; Spark's AQE broadcasts the
  cohort side when it fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.operators import local_tier
from mini_log_lakehouse_spark.operators.sessions import sql_session_ids_cte
from mini_log_lakehouse_spark.sources.registry import load_table

#: Ordered funnel steps (event_type values of the testdata domain).
FUNNEL_STEPS = ("signup", "click", "purchase")


def funnel_counts(events: DataFrame, steps: tuple[str, ...]) -> DataFrame:
    """Ordered-funnel conversion: a user reaches step k if their first
    occurrence of every step ≤ k happened in strictly increasing time
    order (the standard strict-ordering funnel definition). Returns one
    row per step with the count of users who reached it."""
    firsts = (
        events.filter(F.col("event_type").isin(*steps))
        .groupBy("user_id")
        .pivot("event_type", list(steps))
        .agg(F.min("ts"))
    )
    reached_prev = F.lit(True)
    out_cols = []
    for i, step in enumerate(steps):
        cond = F.col(step).isNotNull()
        if i > 0:
            cond = cond & (F.col(step) > F.col(steps[i - 1])) & reached_prev
        reached_prev = cond
        out_cols.append(cond.cast("long").alias(f"_r{i}"))
    per_user = firsts.select(*out_cols)
    # coalesce: a corpus with zero funnel events aggregates an EMPTY
    # per-user frame, where SUM is NULL — the funnel must report 0
    # (caught by the hypothesis brute-force property test)
    agg = per_user.agg(
        *[
            F.coalesce(F.sum(f"_r{i}"), F.lit(0)).alias(f"_s{i}")
            for i in range(len(steps))
        ]
    )
    rows = [
        F.struct(
            F.lit(i + 1).cast("long").alias("step_order"),
            F.lit(step).alias("step"),
            F.col(f"_s{i}").cast("long").alias("users_reached"),
        )
        for i, step in enumerate(steps)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.step_order", "s.step", "s.users_reached")
        .orderBy("step_order")
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the signup → click → purchase strict-order funnel."""
    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, FUNNEL_STEPS)


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by cohort day (their
    first-ever event day); for each (cohort_day, day_offset) the number
    of cohort users active that day. Offset 0 equals the cohort size by
    construction (oracle checks the whole triangle)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    user_days = (
        ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    )
    cohorts = user_days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        user_days.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


def session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session funnel: how many SESSIONS (gaps-and-islands, the
    user_sessions definition — boundaries computed over ALL events)
    contain signup → click → purchase in strict time order. The
    composition of the two analytics primitives this module and
    operators/sessions.py provide — and the more honest conversion
    metric than the lifetime funnel, since cross-session ordering says
    little about a flow.

    Shape: the session-id prefix sum is the one event-grain window
    (same as user_sessions — literally: with_session_ids IS the shared
    definition); everything after is session-grain."""
    from mini_log_lakehouse_spark.operators.sessions import with_session_ids

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sess = with_session_ids(ev.select("user_id", "event_type", "ts"))
    firsts = (
        sess.filter(F.col("event_type").isin(*FUNNEL_STEPS))
        .groupBy("user_id", "session_id")
        .pivot("event_type", list(FUNNEL_STEPS))
        .agg(F.min("ts"))
    )
    reached_prev = F.lit(True)
    out_cols = []
    for i, step in enumerate(FUNNEL_STEPS):
        cond = F.col(step).isNotNull()
        if i > 0:
            cond = cond & (F.col(step) > F.col(FUNNEL_STEPS[i - 1])) & reached_prev
        reached_prev = cond
        out_cols.append(cond.cast("long").alias(f"_r{i}"))
    agg = firsts.select(*out_cols).agg(
        *[
            F.coalesce(F.sum(f"_r{i}"), F.lit(0)).alias(f"_s{i}")
            for i in range(len(FUNNEL_STEPS))
        ]
    )
    rows = [
        F.struct(
            F.lit(i + 1).cast("long").alias("step_order"),
            F.lit(step).alias("step"),
            F.col(f"_s{i}").cast("long").alias("sessions_reached"),
        )
        for i, step in enumerate(FUNNEL_STEPS)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.step_order", "s.step", "s.sessions_reached")
        .orderBy("step_order")
    )


def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type activity trend: the least-squares slope of daily
    event counts over the day index — the "is this error type growing"
    primitive of log analytics, computed as EXACT integer statistics.
    OLS over integer (x=day offset, y=count) needs only the sums
    n, Σx, Σy, Σxy, Σx², so slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is a
    ratio of exact integers; it is reported micro-quantized by
    truncating integer division (no float path anywhere, so the oracle
    matches bit-for-bit). A negative-count day cannot exist, and a
    type seen on < 2 distinct days has a zero denominator — reported
    as NULL slope (no trend is honest, not 0).

    Shape at 100 TB: one event-grain aggregate to (type, day) counts —
    map-side partial — then type-grain sums; the regression itself
    never sees event grain."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    first_day = daily.agg(F.min("day").alias("d0"))
    xy = (
        daily.crossJoin(F.broadcast(first_day))
        .select(
            "event_type",
            F.datediff("day", "d0").cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
        )
    )
    sums = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("active_days"),
        F.col("sy").cast("long").alias("total_events"),
        F.when(den != 0, F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000 "
            "DIV (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS LONG)"
        )).alias("slope_micro"),
    ).orderBy("event_type")


def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence: (event_type → next event_type) frequencies, the
    sufficient statistic for sequence models over the log (next-action
    prediction, anomaly-flow detection). Ordering is (ts, event_id) so
    simultaneous events have a deterministic successor; each user's
    final event has no successor and is excluded.

    Shape at 100 TB: one window pass per user partition (lead, no
    frame state beyond a row) feeding a 25-row aggregate — the
    transition matrix is |types|², never data-sized."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("event_type").over(w)
    return (
        ev.select("user_id", "event_type", nxt.alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("transitions"))
        .orderBy("event_type", "next_type")
    )


#: Anomaly threshold in σ, squared (|deviation| > ANOM_SIGMA·σ flags).
ANOM_SIGMA_SQ = 4


def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily anomaly detection per event type — the "which days spiked"
    monitor completing the trend (events_daily_trend) and drift
    (source_lang_drift) trio — with the z-score test done ENTIRELY in
    integers so the oracle is exact: with D days, per-type total T and
    daily count c, the scaled deviation dev = c·D − T satisfies
    |dev| > kσ·D  ⟺  dev²·D > k²·Σdev² (σ² = Σdev²/D — population
    variance of the scaled counts), so the flag is one integer
    cross-multiplication; no sqrt, no float, no engine can disagree.

    Shape: event grain collapses to (type, day) counts in the first
    aggregate; the variance terms are type-grain. Emits only the
    flagged (type, day) rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d_days"),
        F.sum("c").alias("t_total"),
    )
    dev = F.col("c") * F.col("d_days") - F.col("t_total")
    with_dev = daily.join(per_type, "event_type").withColumn(
        "dev", dev.cast("long")
    )
    # squared terms in decimal(38,0): dev ~ c·D fits a long, but dev²
    # and Σdev² wrap int64 silently at the operator's own claimed scale
    # (1e7 events/day over a year → Σdev² ~ 3e20 > 2⁶³); the oracle's
    # SUM promotes to HUGEINT, so the Spark side must widen too
    dev_sq = F.col("dev").cast("decimal(38,0)") * F.col("dev")
    ss = with_dev.groupBy("event_type").agg(
        F.sum(dev_sq).alias("sum_dev_sq")
    )
    return (
        with_dev.join(ss, "event_type")
        .filter(
            dev_sq * F.col("d_days")
            > F.lit(ANOM_SIGMA_SQ) * F.col("sum_dev_sq")
        )
        .select(
            "event_type",
            "day",
            F.col("c").cast("long").alias("n_events"),
            "dev",
        )
        .orderBy("event_type", "day")
    )


def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 build from the event log: treat
    each user's event_type as their current state and emit one
    validity-interval row per state CHANGE — (state, valid_from,
    valid_to, version, is_current), the lakehouse dimension-history
    shape (Kimball SCD2; Delta MERGE pipelines build exactly this
    table). Consecutive repeats of the same state collapse into one
    interval; ordering is (ts, event_id) so simultaneous events have a
    deterministic succession.

    Shape at 100 TB: two window passes over the SAME (user_id ×
    (ts, event_id)) sort — Catalyst reuses the one shuffle+sort for
    lag, lead and row_number; output is change-grain, far below event
    grain."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("event_type")))
    )
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version")
    )


def events_state_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: every event joined to the SCD2
    state interval covering its timestamp (user_state_scd2 is the
    dimension history), rolled up to how many events and users each
    state served — the bitemporal enrichment every lakehouse does when
    facts must see the dimension AS OF event time, not as of today.
    Interval semantics: [valid_from, valid_to) — an event at a change
    instant belongs to the NEW state; zero-length intervals (simultaneous
    changes) match nothing, exactly as the half-open algebra implies.

    Shape at 100 TB: an equi join on user_id with the interval
    conjunct evaluated as a post-join filter — both sides hash on the
    user key (the dimension history is change-grain, far below event
    grain), so this is a normal shuffled equi join, never an interval
    cross product."""
    scd2 = user_state_scd2(spark, sf_dir).select(
        F.col("user_id").alias("s_uid"), "state", "valid_from", "valid_to"
    )
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    j = ev.join(
        scd2,
        (ev.user_id == scd2.s_uid)
        & (ev.ts >= scd2.valid_from)
        & (scd2.valid_to.isNull() | (ev.ts < scd2.valid_to)),
    )
    return (
        j.groupBy("state")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("state")
    )


#: Users co-occurring in at least this many distinct (date, hour)
#: buckets form an edge of the co-occurrence graph. The threshold
#: sparsifies the OUTPUT (edges entering the triangle join); the pair
#: join itself is bounded by COOC_BUCKET_CAP below.
COOC_MIN_SHARED = 3

#: Hard cap on distinct users per (date, hour) bucket: buckets larger
#: than this are DROPPED before the pair self-join, so the join input
#: is at most CAP² pairs per bucket no matter how hot an hour gets
#: (one 10⁶-user hour at 100 TB would otherwise be 10¹² pairs in a
#: single bucket). Dropping (not sampling) keeps the operator
#: deterministic and oracle-exact; the recall cost is explicit: edges
#: supported ONLY by over-cap buckets are lost, i.e. the graph treats
#: stadium-crowd hours as carrying no pairwise signal — the same
#: judgment dedup.py applies when it drops oversized LSH buckets. At
#: the test scales the largest bucket is 166 users (sf0.1), so 256
#: changes nothing there; the cap exists for the hot tail.
COOC_BUCKET_CAP = 256


def cooccurrence_edges_from(
    ev: DataFrame,
    bucket_cap: int = COOC_BUCKET_CAP,
    min_shared: int = COOC_MIN_SHARED,
) -> DataFrame:
    """Undirected user co-occurrence edges (u < v, stored once) from an
    events frame: users sharing ≥ ``min_shared`` distinct (date, hour)
    activity buckets, counting only buckets with ≤ ``bucket_cap``
    distinct users. Shared by the triangle counter and PageRank below.

    Shape at 100 TB: bucket sizes are a tiny aggregate (days × 24
    rows), broadcast back as an eligibility filter; the pair self-join
    then sees at most bucket_cap² pairs per bucket by construction."""
    ev = ev.filter(F.col("user_id").isNotNull())
    ub = ev.select(
        "user_id", F.to_date("ts").alias("d"), F.hour("ts").alias("h")
    ).distinct()
    ok_buckets = (
        ub.groupBy("d", "h")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") <= bucket_cap)
        .select("d", "h")
    )
    ub = ub.join(F.broadcast(ok_buckets), ["d", "h"])
    a, b = ub.alias("a"), ub.alias("b")
    return (
        a.join(
            b,
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select("u", "v", F.col("shared").cast("long").alias("w"))
    )


def cooccurrence_edges(
    spark: SparkSession, sf_dir: str, bucket_cap: int = COOC_BUCKET_CAP
) -> DataFrame:
    """Loader wrapper over cooccurrence_edges_from for the testdata
    events table. At the default cap it is memoized per (session,
    corpus) as a localCheckpoint'd edge table: five driver queries
    (triangles, pagerank, communities, bfs, clustering coefficient)
    consume the SAME edge build, and the bucket pair self-join over
    events is the expensive, deterministic part."""
    if bucket_cap != COOC_BUCKET_CAP:
        return cooccurrence_edges_from(
            load_table(spark, sf_dir, "events"), bucket_cap=bucket_cap
        )
    from mini_log_lakehouse_spark.session import memo

    return memo(
        spark,
        ("funnels.edges", sf_dir),
        lambda: cooccurrence_edges_from(load_table(spark, sf_dir, "events")).localCheckpoint(),
    )


def user_cooccurrence_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user triangle counts over the user co-occurrence graph — the
    canonical distributed-graph benchmark (community density / bot-ring
    detection on interaction logs), expressed as pure joins:

    1. bucket-join: users sharing ≥ COOC_MIN_SHARED distinct
       (date, hour) activity buckets become an undirected edge, stored
       once as u < v (the orientation that kills double counting);
       buckets hotter than COOC_BUCKET_CAP are dropped BEFORE pairing,
       so the join input — not just the edge output — is bounded;
    2. wedge-close: edges ⋈ edges on the middle vertex enumerates
       ordered wedges a<b<c, and a semi-join-shaped third edge match
       closes them into triangles;
    3. each triangle credits all three vertices.

    Shape at 100 TB: pairs per bucket ≤ COOC_BUCKET_CAP² by
    construction (the cap bounds the JOIN; COOC_MIN_SHARED bounds the
    edges the triangle stage sees); the triangle join is
    edges×avg-degree wedges — the standard node-ordered triangle
    enumeration that never materializes the unordered 6× duplication."""
    return triangle_counts(cooccurrence_edges(spark, sf_dir)).orderBy("user_id")


def _dense_adjacency(tbl):
    """(sorted node ids, V×V float32 0/1 adjacency) from a pulled (u, v)
    edge table, or None unless the graph is small and dense enough that
    V² work in BLAS beats wedge-mass work in the JVM:
    0 < V ≤ local_tier.DENSE_MAX_NODES and V² < Σ deg·(deg−1)/2. The
    shared payload of the dense-graph tiers (triangle_counts,
    _lp_candidates)."""
    import numpy as np

    us = tbl.column("u").to_numpy(zero_copy_only=False).astype(np.int64)
    vs = tbl.column("v").to_numpy(zero_copy_only=False).astype(np.int64)
    ids, inv = np.unique(np.concatenate([us, vs]), return_inverse=True)
    deg = np.bincount(inv)
    n_nodes = len(ids)
    if not (
        0 < n_nodes <= local_tier.DENSE_MAX_NODES
        and n_nodes * n_nodes < int((deg * (deg - 1)).sum()) // 2
    ):
        return None
    a_mat = np.zeros((n_nodes, n_nodes), dtype=np.float32)
    ui, vi = inv[: len(us)], inv[len(us) :]
    a_mat[ui, vi] = 1.0
    a_mat[vi, ui] = 1.0
    return ids, a_mat


def _dense_row_bytes(n_nodes: int) -> int:
    """Live bytes per strip row of the dense-graph kernels: the gathered
    adjacency row and its float32 common-neighbor counts (8 B per node),
    masks, and the emitted columns if every pair survives."""
    return 64 * n_nodes


def _dense_graph_tier(edges: DataFrame, op: str, kernel, schema: str):
    """(whether the edge list fit one bounded pull, the dense tier's
    frame or None): the pull and gate the dense-graph tiers share."""
    tbl = local_tier.bounded_pull(edges.select("u", "v"), local_tier.LOCAL_MAX_ROWS)
    adj = None if tbl is None else _dense_adjacency(tbl)
    if adj is None:
        return tbl is not None, None
    n_nodes = len(adj[0])
    return True, local_tier.block_map(
        edges.sparkSession, op, kernel, adj, n_nodes, schema, _dense_row_bytes(n_nodes)
    )


def _triangle_kernel(payload, idx):
    """(user_id, n_triangles > 0) for nodes ``idx``: closed wedges at x
    are Σ_y A_xy·(A²)_xy, and T(x) is that sum DIV 2."""
    import numpy as np

    ids, a_mat = payload
    blk = a_mat[idx]
    cn = blk @ a_mat  # |N(x)∩N(y)|: exact integers ≤ V < 2²⁴
    cn *= blk
    t = cn.sum(axis=1, dtype=np.float64).astype(np.int64) // 2  # sums ≤ V² < 2⁵³
    keep = t > 0
    return ids[idx[keep]], t[keep]


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected (u < v once) edge
    list. Three tiers, identical output (vertices in ≥ 1 triangle); one
    bounded pull of the edges decides between them:

    - **dense GEMM** (the pull fits local_tier.LOCAL_MAX_ROWS and
      _dense_adjacency accepts the graph): per node strip,
      (strip × V) @ (V × V) common-neighbor counts in float32 BLAS,
      exact as integers ≤ V < 2²⁴; the closed-wedge sums run in float64,
      exact below 2⁵³, and are halved as integers — the intersection
      tier's arithmetic as a matrix product.
    - **adjacency-intersection** (the pull fits, the graph is sparse or
      big): per directed edge (a, b), |N(a) ∩ N(b)| via
      ``array_intersect`` over broadcast sorted neighbor arrays; each
      triangle {x,y,z} is counted at x once via (x,y) and once via
      (x,z), so T(x) = Σ_cn / 2 exactly. At the cap the broadcast holds
      ~16 B per directed edge, ~128 MB per executor.
    - **wedge-close join** (the pull is over the cap): the node-ordered
      wedge-close enumeration (see user_cooccurrence_triangles) — never
      holds adjacency in memory, the scale-out tier."""
    fits, dense = _dense_graph_tier(
        edges, "triangle_counts", _triangle_kernel, "user_id long, n_triangles long"
    )
    if dense is not None:
        return dense
    if fits:
        und = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
            edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        # ONE adjacency aggregation, broadcast ONCE: the two sides join
        # the same relation under plain SubqueryAliases (erased in
        # physical planning), so the second BroadcastExchange
        # canonicalizes equal to the first and ReusedExchange serves it;
        # aliasing the columns per side would put a differing Project
        # under each exchange and defeat the reuse (plan evidence:
        # plans/r16/triangle_bcast_tier_reuse.txt).
        adj = und.groupBy(F.col("a").alias("n_id")).agg(
            F.array_sort(F.collect_list("b")).alias("nbrs")
        )
        na, nb = adj.alias("na"), adj.alias("nb")
        cn = (
            und.join(F.broadcast(na), und.a == F.col("na.n_id"))
            .join(F.broadcast(nb), und.b == F.col("nb.n_id"))
            .select(
                F.col("a").alias("user_id"),
                F.array_size(
                    F.array_intersect(F.col("na.nbrs"), F.col("nb.nbrs"))
                ).alias("_cn"),
            )
        )
        return (
            cn.groupBy("user_id")
            # integer halving (the sum is even by the double-count
            # argument above) — no float ever touches the count
            .agg(F.expr("sum(_cn) DIV 2").cast("long").alias("n_triangles"))
            .filter(F.col("n_triangles") > 0)
        )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("va"),
            F.col("e1.v").alias("vb"),
            F.col("e2.v").alias("vc"),
        )
    )
    verts = (
        tri.select(F.col("va").alias("user_id"))
        .unionAll(tri.select(F.col("vb").alias("user_id")))
        .unionAll(tri.select(F.col("vc").alias("user_id")))
    )
    return verts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


#: PageRank fixed-point lattice and damping (17/20 = 0.85 exactly —
#: the rational form keeps every update in int64 arithmetic).
PR_SCALE = 10**12
PR_DAMP_NUM, PR_DAMP_DEN = 17, 20
PR_ITERS = 5


def _pr_iteration(und_st: DataFrame, ranks: DataFrame, teleport: int) -> DataFrame:
    """One damped rank update — THE iteration both the weighted and
    unweighted fits run (unweighted = w ≡ 1, st = deg; identical by
    trunc((r·w)/(w·d)) == trunc(r/d) for equal rationals). Factored out
    so its physical plan can be asserted
    (tests/test_scale_strategies.py): one edge⋈rank join, one
    map-side-combined groupBy(dst), the node-grain damp join; no
    cartesian anywhere. ``und_st`` columns: (src, dst, w, st)."""
    contribs = (
        und_st.join(ranks, und_st.src == ranks.user_id)
        .select("dst", F.expr("(r * w) DIV st").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("s"))
    )
    return (
        ranks.select("user_id")
        .join(contribs, ranks.user_id == contribs.dst, "left")
        .select(
            "user_id",
            (
                F.lit(teleport)
                + F.expr(f"({PR_DAMP_NUM} * coalesce(s, 0)) DIV {PR_DAMP_DEN}")
            ).alias("r"),
        )
    )


def pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Damped PageRank over an undirected edge list (u < v once),
    entirely on an integer lattice so the ENTIRE iterative fit is
    hash-checkable cross-engine (the k-means recipe applied to graphs):

    - ranks live on the PR_SCALE lattice; r0 = PR_SCALE DIV N;
    - contribution along an edge = r(u) DIV deg(u) (truncating — both
      engines agree, all quantities positive);
    - update r'(v) = (3·PR_SCALE) DIV (20·N)
      + (17 · Σ contribs) DIV 20  — damping 0.85 as the exact rational
      17/20, teleport (1-d)/N likewise.

    Truncation leaks O(deg) lattice ulps of mass per step instead of
    conserving it exactly — on a 10⁻¹² lattice that is noise for
    ranking purposes, and determinism is what buys the oracle.

    Shape at 100 TB: the canonical rank-iteration loop — per iteration
    one edge⋈rank shuffle on src plus one groupBy(dst); the degree
    table rides pre-joined on the edge list (computed once), ranks are
    node-scale and localCheckpoint'd so lineage stays flat. Only the
    scalar N ever reaches the driver.

    Overflow bound: Σ contribs ≤ total mass ≈ PR_SCALE, so the widest
    intermediate 17·Σ ≈ 1.7e13 ≪ int64."""
    return _pagerank_impl(
        edges.select("u", "v", F.lit(1).cast("long").alias("w")), iters
    ).drop("strength")


def _pagerank_impl(edges_w: DataFrame, iters: int) -> DataFrame:
    """Shared loop of pagerank / pagerank_weighted over (u, v, w)
    edges. Returns (user_id, degree, strength, rank_fixed)."""
    und = edges_w.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionAll(
        edges_w.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    stren = (
        und.groupBy("src")
        .agg(F.sum("w").alias("st"), F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    und_st = und.join(stren.select("src", "st"), "src").localCheckpoint()
    n = stren.count()
    if n == 0:
        return stren.select(
            F.col("src").alias("user_id"),
            F.col("deg").cast("long").alias("degree"),
            F.col("st").cast("long").alias("strength"),
            F.lit(0).cast("long").alias("rank_fixed"),
        )
    teleport = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // (PR_DAMP_DEN * n)
    ranks = stren.select(
        F.col("src").alias("user_id"), F.lit(PR_SCALE // n).alias("r")
    ).localCheckpoint()
    for _ in range(iters):
        ranks = _pr_iteration(und_st, ranks, teleport).localCheckpoint()
    return ranks.join(stren, ranks.user_id == stren.src).select(
        "user_id",
        F.col("deg").cast("long").alias("degree"),
        F.col("st").cast("long").alias("strength"),
        F.col("r").cast("long").alias("rank_fixed"),
    )


def user_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: PR_ITERS damped PageRank iterations over the
    co-occurrence graph (same capped edge build as the triangle
    counter). Hash-checked end to end — the fit is integer-exact, so
    the oracle restates all five iterations as unrolled DuckDB CTEs."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    return pagerank(edges).orderBy("user_id")


def pagerank_weighted(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Weighted damped PageRank over an undirected weighted edge list
    (u, v, w): contributions split proportionally to edge weight —
    contribution along (u→v) = (r(u)·w) DIV strength(u), strength = Σw
    — so a pair sharing ten activity buckets pulls rank ten times
    harder than a pair sharing one. Same integer lattice, damping and
    loop shape as ``pagerank``; with all weights equal the two are
    IDENTICAL (trunc((r·w)/(w·d)) == trunc(r/d) for equal rationals —
    pinned in tests).

    Overflow bound: r < PR_SCALE and bucket-count weights are ≤ days·24,
    so r·w ≲ 7·10¹⁴ ≪ int64."""
    return _pagerank_impl(edges.select("u", "v", "w"), iters)


def user_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: weighted PageRank over the co-occurrence graph,
    edge weight = number of shared activity buckets. Hash-checked —
    unrolled CTEs, like the unweighted fit."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    return pagerank_weighted(edges).orderBy("user_id")


def cooc_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-occurrence graph — the one-glance
    topology diagnostic (power law vs uniform decides salting and
    partition strategy for every downstream graph op). Node-grain
    aggregate of the memoized edge list; pure integer counts."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    und = edges.select(F.col("u").alias("user_id")).unionAll(
        edges.select(F.col("v").alias("user_id"))
    )
    deg = und.groupBy("user_id").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(F.col("degree").cast("long").alias("degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("degree")
    )


#: Link prediction: report the strongest TOP_N non-edges (deterministic
#: total tiebreak), Jaccard on a 10⁶ fixed-point lattice so the score
#: column stays integer cross-engine.
LP_TOP_N = 100
LP_JACCARD_SCALE = 10**6


def _lp_kernel(payload, idx):
    """(u, v, cn) for non-adjacent pairs u < v with u in ``idx`` and
    ≥ 1 common neighbor."""
    import numpy as np

    ids, a_mat = payload
    blk = a_mat[idx]
    cn = blk @ a_mat  # common-neighbor counts: exact integers ≤ V < 2²⁴
    cn[blk != 0] = 0
    cn[np.arange(len(ids)) <= idx[:, None]] = 0
    r, c = np.nonzero(cn)
    return ids[idx[r]], ids[c], cn[r, c].astype(np.int64)


def _lp_candidates(edges: DataFrame, und: DataFrame) -> DataFrame:
    """Non-adjacent (u < v) pairs with ≥1 common neighbor and their
    common-neighbor count — two tiers, identical output.

    **Dense tier** (the edge pull fits local_tier.LOCAL_MAX_ROWS and
    _dense_adjacency accepts the graph): common-neighbor counts for all
    pairs as one blocked 0/1-matrix product in float32 BLAS — every
    count ≤ V < 2²⁴ is the exact integer — emitting only the
    (u < v, non-adjacent, cn > 0) cells.

    **Wedge tier** (everything else): und ⋈ und on the middle vertex,
    endpoints ordered, counted per pair. Never collects or holds the
    graph; on a real sparse power-law graph the wedge mass is near
    linear in |E|, exactly where the dense tier's V² loses."""
    _, dense = _dense_graph_tier(
        edges, "link_prediction", _lp_kernel, "u long, v long, cn long"
    )
    if dense is not None:
        return dense
    m1, m2 = und.alias("m1"), und.alias("m2")
    return (
        m1.join(
            m2,
            (F.col("m1.src") == F.col("m2.src"))
            & (F.col("m1.dst") < F.col("m2.dst")),
        )
        .groupBy(F.col("m1.dst").alias("u"), F.col("m2.dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(edges.select("u", "v"), ["u", "v"], "left_anti")
    )


def link_prediction(edges: DataFrame, top_n: int = LP_TOP_N) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over an undirected
    (u < v once) edge list: for every NON-adjacent pair with at least
    one shared neighbor, the common-neighbor count and the Jaccard
    coefficient |N(u)∩N(v)| / |N(u)∪N(v)| on the LP_JACCARD_SCALE
    lattice — the classic "who should be connected" scores (Liben-
    Nowell & Kleinberg 2003), and the follow-up question every graph
    suite gets after triangles.

    Relational shape: candidate pairs come from the SAME node-ordered
    wedge enumeration as triangle_counts (und ⋈ und on the middle
    vertex, endpoints ordered — each unordered pair counted once per
    common neighbor); existing edges leave by anti-join; degrees ride
    in from the node-grain aggregate; the final top-N is a
    TakeOrderedAndProject with a total (score desc, u, v) order.

    Shape at 100 TB: wedge rows are Σ_m deg(m)² — bounded here because
    the co-occurrence edge build caps bucket fan-out before pairing; on
    an uncapped graph the standard mitigation (drop or sample
    super-hub middles) applies at this join's input, not its output.
    Integer-only arithmetic: cn·10⁶ ≤ 10⁶·max_deg ≪ int64."""
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    cand = _lp_candidates(edges, und)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    du, dv = deg.alias("du"), deg.alias("dv")
    return (
        cand.join(du, cand.u == F.col("du.src"))
        .join(dv, cand.v == F.col("dv.src"))
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.expr(
                f"(cn * {LP_JACCARD_SCALE}) DIV (du.deg + dv.deg - cn)"
            ).alias("jaccard_fixed"),
        )
        .orderBy(F.desc("common_neighbors"), "u", "v")
        .limit(top_n)
    )


def user_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: top link-prediction candidates over the memoized
    co-occurrence graph. Hash-checked — counts and a fixed-point
    Jaccard are exact integers in both engines."""
    return link_prediction(cooccurrence_edges(spark, sf_dir))


#: SALSA (Lempel & Moran 2000): the stochastic — i.e. PageRank-style
#: row-normalized — variant of HITS hubs-and-authorities, run on the
#: user ↔ event-type bipartite activity graph. The normalized form is
#: what makes the fit int64-safe on the same lattice discipline as
#: pagerank: every per-edge term is (score·w) DIV strength ≤ score, so
#: total mass never grows and no global normalization (the part of
#: classic HITS that needs 128-bit intermediates) is ever required.
SALSA_SCALE = 10**12
SALSA_ITERS = 3


def user_event_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub scores for users and authority scores for event types via
    SALSA's alternating mass-spreading walk over the bipartite
    user→event_type graph (edge weight = event count):

        a_i(e) = Σ_u (h_{i-1}(u)·w(u,e)) DIV strength(u)
        h_i(u) = Σ_e (a_i(e)·w(u,e))     DIV strength(e)

    with h_0 = SALSA_SCALE DIV n_users. Heavy users spread hub mass
    across the event types they touch in proportion to activity;
    event types pull authority from many distinct heavy users — the
    bipartite analog of the rank iteration, and the useful half of
    HITS for a log corpus (which event surfaces do the influential
    users concentrate on).

    Hash-checked end to end: the same truncating-DIV lattice as
    pagerank (all quantities positive int64; score ≤ SALSA_SCALE, so
    score·w is int64-safe while per-pair event counts stay ≤ ~9·10⁶ —
    beyond that, pre-bucket w onto a coarser lattice first).

    Shape at 100 TB: the bipartite edge list is an events aggregate
    (map-side combined); each iteration is one edge⋈hub join +
    event-grain aggregate (the authority side is |event_types| rows —
    broadcast), then one edge⋈authority join + user-grain aggregate.
    Node-scale state, localCheckpoint'd like every iterative fit."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    e = (
        ev.groupBy(
            F.col("user_id").cast("string").alias("uid"),
            F.col("event_type").alias("eid"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    stu = e.groupBy("uid").agg(F.sum("w").alias("st")).localCheckpoint()
    ste = e.groupBy("eid").agg(F.sum("w").alias("st")).localCheckpoint()
    n_users = stu.count()
    if n_users == 0:
        return e.select(
            F.lit("hub").alias("side"),
            F.col("uid").alias("id"),
            F.lit(0).cast("long").alias("score_fixed"),
        )
    h = stu.select("uid", F.lit(SALSA_SCALE // n_users).alias("s"))
    for _ in range(SALSA_ITERS):
        a = (
            e.join(h, "uid")
            .join(stu.select("uid", "st"), "uid")
            .select("eid", F.expr("(s * w) DIV st").alias("c"))
            .groupBy("eid")
            .agg(F.sum("c").alias("s"))
            .localCheckpoint()
        )
        h = (
            e.join(F.broadcast(a), "eid")
            .join(F.broadcast(ste.withColumnRenamed("st", "est")), "eid")
            .select("uid", F.expr("(s * w) DIV est").alias("c"))
            .groupBy("uid")
            .agg(F.sum("c").alias("s"))
            .localCheckpoint()
        )
    hubs = h.select(
        F.lit("hub").alias("side"),
        F.col("uid").alias("id"),
        F.col("s").cast("long").alias("score_fixed"),
    )
    auth = a.select(
        F.lit("authority").alias("side"),
        F.col("eid").alias("id"),
        F.col("s").cast("long").alias("score_fixed"),
    )
    return hubs.unionAll(auth).orderBy("side", "id")


def user_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per user over the co-occurrence
    graph: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — "how clique-like is
    this user's neighborhood", the standard community-density /
    bot-ring score built from the two primitives above (triangle
    counts + degrees). deg < 2 ⇒ lcc = 0 by convention.

    Exactness: the only division is the half-up _ratio6 quantization
    of an integer rational. Shape at 100 TB: both inputs are
    node-grain aggregates of the same bounded edge list; the compose
    join is node-grain × node-grain."""
    return clustering_coefficient_from(
        cooccurrence_edges(spark, sf_dir)
    ).orderBy("user_id")


def clustering_coefficient_from(edges: DataFrame) -> DataFrame:
    """Edges-level core of user_clustering_coefficient (undirected
    u < v edge list in, one row per vertex out)."""
    from mini_log_lakehouse_spark.operators.textstats import _ratio6

    und = edges.select(F.col("u").alias("user_id")).unionAll(
        edges.select(F.col("v").alias("user_id"))
    )
    deg = und.groupBy("user_id").agg(F.count(F.lit(1)).alias("deg"))
    tri = triangle_counts(edges)
    both = deg.join(tri, "user_id", "left").select(
        "user_id",
        F.col("deg").cast("long").alias("degree"),
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )
    lcc = F.when(
        F.col("degree") >= 2,
        _ratio6("2 * n_triangles", "degree * (degree - 1)"),
    ).otherwise(F.lit(0.0))
    return both.select("user_id", "degree", "n_triangles", lcc.alias("lcc"))


#: Synchronous label-propagation iterations. Fixed (not
#: run-to-convergence) so the fit is restatable as unrolled SQL; LPA
#: on short-diameter social graphs is near-converged in a few rounds.
LPA_ITERS = 4


def label_propagation(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Community detection by synchronous label propagation over an
    undirected (u < v once) edge list — each round every node adopts
    its neighbors' MODE label (ties → smallest label), the classic
    Raghavan et al. 2007 algorithm made deterministic: synchronous
    updates + a total tie order, so the result is reproducible and
    cross-engine exact (labels and counts are integers throughout).
    Distinct from dedup.connected_components (min-label flood): mode
    adoption splits a connected component into dense regions instead
    of flooding it with one label.

    Contract: communities after EXACTLY ``iters`` synchronous rounds —
    deliberately bounded-round, not run-to-convergence, because
    synchronous LPA is not monotone and can 2-cycle on bipartite-ish
    regions (Raghavan §3), so "once converged" would be an unkeepable
    promise. On the test corpora the fit has stabilized by LPA_ITERS
    (one extra round changes nothing — pinned by
    tests/test_funnels.py::test_lpa_stable_at_iters); a corpus where it
    hasn't still hash-matches its (equally bounded) oracle, and the
    stability test is the instrument that would surface it.

    Shape at 100 TB: per iteration one edge⋈label shuffle plus one
    (node, label) count and a node-grain argmax — the same
    rank-iteration loop as pagerank; labels are node-scale and
    localCheckpoint'd."""
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    und = und.localCheckpoint()
    lab = (
        und.select("src")
        .distinct()
        .select(F.col("src").alias("user_id"), F.col("src").alias("label"))
        .localCheckpoint()
    )
    for _ in range(iters):
        msgs = und.join(lab, und.src == lab.user_id).select("dst", "label")
        cnt = msgs.groupBy("dst", "label").agg(F.count(F.lit(1)).alias("c"))
        # argmax with ties to the SMALLEST label: min over
        # (-count, label) — a struct min is a single-shuffle aggregate,
        # no window needed
        best = cnt.groupBy("dst").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l")))
            .alias("b")
        )
        lab = best.select(
            F.col("dst").alias("user_id"), F.col("b.l").alias("label")
        ).localCheckpoint()
    from pyspark.sql.window import Window as W

    return lab.select(
        "user_id",
        F.col("label").cast("long").alias("community"),
        F.count(F.lit(1))
        .over(W.partitionBy("label"))
        .cast("long")
        .alias("community_size"),
    )


def user_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: LPA_ITERS synchronous label-propagation rounds
    over the co-occurrence graph. Hash-checked end to end — the update
    is integer argmax with a total order, so the oracle restates every
    round as unrolled DuckDB CTEs."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    return label_propagation(edges).orderBy("user_id")


#: k-core threshold and peel rounds. Peeling is monotone (the edge set
#: only shrinks), so after convergence extra rounds are no-ops; the
#: fixed count keeps the fit SQL-restatable and a test asserts one
#: more round changes nothing on the testdata graph.
KCORE_K = 3
KCORE_ITERS = 4


def kcore(
    edges: DataFrame,
    k: int = KCORE_K,
    iters: int = KCORE_ITERS,
    assert_converged: bool = False,
) -> DataFrame:
    """k-core decomposition by iterative peeling: each round drops
    every node with current degree < k (and its edges), the standard
    dense-subgraph/robustness primitive ("the part of the graph that
    survives when hangers-on leave"). Exactly ``iters`` peel rounds;
    with ``assert_converged`` the (iters+1)-th round is CHECKED to
    delete nothing, upgrading the contract from "graph after N peels"
    to "the true k-core" — monotone deletion means one no-op round
    proves the fixpoint. The driver entry passes it so an undersized
    KCORE_ITERS fails loudly at any scale instead of silently
    hash-matching an equally-truncated oracle (VERDICT r6). Returns
    surviving nodes with their within-core degree.

    Shape at 100 TB: per round one node-grain degree count + two
    semi-join-shaped filters of the edge list; the edge list only
    shrinks, and localCheckpoint keeps lineage flat — the same
    iterative discipline as the rank loops, with deletion instead of
    message passing."""
    e = edges.select("u", "v")
    for _ in range(iters):
        und = e.select(F.col("u").alias("node")).unionAll(
            e.select(F.col("v").alias("node"))
        )
        keep = (
            und.groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("node")
        )
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u")
            .join(keep.withColumnRenamed("node", "v"), "v")
            .select("u", "v")
            .localCheckpoint()
        )
    und = e.select(F.col("u").alias("user_id")).unionAll(
        e.select(F.col("v").alias("user_id"))
    )
    deg = und.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )
    if assert_converged:
        # one node-grain aggregate, model-sized result: any survivor
        # still below k means round iters+1 would have peeled again
        unconverged = deg.filter(F.col("core_degree") < k).count()
        if unconverged:
            raise RuntimeError(
                f"kcore did not converge in {iters} peel rounds: "
                f"{unconverged} surviving nodes still have degree < {k}; "
                f"raise KCORE_ITERS (and regenerate kcore_oracle_sql) "
                f"for this graph"
            )
    return deg


def user_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: the true KCORE_K-core of the co-occurrence graph
    (KCORE_ITERS peel rounds + a convergence assertion — see kcore).
    Hash-checked — the peel is pure integer set algebra, restated
    round by round as unrolled DuckDB CTEs."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    return kcore(edges, assert_converged=True).orderBy("user_id")


#: BFS frontier depth and multi-source seed count (the BFS_SEEDS
#: lowest-id nodes — deterministic, no RNG).
BFS_HOPS = 4
BFS_SEEDS = 3


def bfs_hops(edges: DataFrame, seeds: DataFrame, hops: int = BFS_HOPS) -> DataFrame:
    """Multi-source BFS over an undirected (u < v once) edge list:
    shortest hop-distance from the seed set, exact up to ``hops`` (the
    blast-radius / influence-reach primitive — "everyone within 4 hops
    of these flagged accounts"). Nodes not reached within the horizon
    are absent from the output, which is what bounds the state.

    Monotone frontier: dist_i(v) = min(dist_{i-1}(v), 1 + min over
    in-neighbors) — pure integer min-plus, so the whole iterative
    expansion is restatable as unrolled SQL. Shape at 100 TB: the
    same per-iteration edge⋈frontier shuffle + node-grain min as
    pagerank; the reached set only grows, and localCheckpoint keeps
    lineage flat."""
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    und = und.localCheckpoint()
    dist = seeds.select("user_id", F.lit(0).alias("dist")).localCheckpoint()
    for _ in range(hops):
        cand = und.join(dist, und.src == dist.user_id).select(
            F.col("dst").alias("user_id"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("user_id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist.select("user_id", F.col("dist").cast("long").alias("hops"))


def user_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: BFS_HOPS-hop reach of the BFS_SEEDS lowest-id
    users over the co-occurrence graph. Hash-checked end to end — the
    min-plus expansion is integer-exact, so the oracle restates every
    frontier round as unrolled DuckDB CTEs."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    nodes = (
        edges.select(F.col("u").alias("user_id"))
        .unionAll(edges.select(F.col("v").alias("user_id")))
        .distinct()
    )
    seeds = nodes.orderBy("user_id").limit(BFS_SEEDS)
    return bfs_hops(edges, seeds).orderBy("user_id")


#: Relaxation rounds for the weighted SSSP driver query — an upper
#: bound on the EDGE COUNT of any shortest path, asserted sufficient at
#: runtime (the k-core convergence discipline), not assumed.
SSSP_ROUNDS = 8


def sssp_weighted(
    edges: DataFrame, seeds: DataFrame, rounds: int = SSSP_ROUNDS
) -> DataFrame:
    """Weighted single/multi-source shortest paths over the undirected
    (u < v once) edge list: bounded Bellman-Ford — per round every
    reached node relaxes its out-edges (dist + w), then a node-grain
    MIN merges candidates with current distances. Pure integer min-plus
    (w is a long), so the whole expansion restates as unrolled SQL
    (sssp_oracle_sql) — the weighted sibling of bfs_hops.

    Exactness contract: ``rounds`` bounds the edge count of discovered
    paths; rather than documenting "exact if every shortest path uses
    <= rounds edges", the fixpoint is ASSERTED — one extra relaxation
    must change nothing (no new node, no shorter distance) or this
    raises. Unreached nodes are absent, which is what bounds state.
    Shape at 100 TB: per round one edge⋈frontier shuffle + one
    node-grain map-side-combined MIN, localCheckpoint per round —
    identical cost profile to bfs_hops/pagerank (plan-asserted in
    tests/test_scale_strategies.py)."""
    und = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    und = und.localCheckpoint()
    dist = seeds.select(
        "user_id", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()

    def relax(d: DataFrame) -> DataFrame:
        cand = und.join(d, und.src == d.user_id).select(
            F.col("dst").alias("user_id"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return (
            d.unionAll(cand).groupBy("user_id").agg(F.min("dist").alias("dist"))
        )

    def state_mark(d: DataFrame) -> tuple[int, int]:
        """(n_nodes, Σdist) — a complete change detector for one
        relaxation, because relax is MONOTONE: the reached set only
        grows and every dist only shrinks. Equal count ⇒ same node set
        (it never shrinks); same set + equal Σdist ⇒ every dist equal
        (each is ≤ its predecessor). One map-side-combined aggregate
        over the checkpointed node-grain table — far cheaper than the
        edge⋈frontier relaxation it lets us skip."""
        row = d.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).first()
        return int(row["n"]), int(row["s"] or 0)

    # Early fixpoint detection (guide §1.2 — don't compute what you
    # throw away): relax(dist) == dist makes every later round an
    # identity, so dist after `rounds` rounds equals dist at first
    # convergence — the bounded unrolled oracle sees the identical
    # table. A quiet round (mark unchanged) IS the fixpoint proof, so
    # the explicit probe relaxation only runs when all `rounds` rounds
    # kept changing (saves the probe's edge join plus every post-
    # convergence round — see OPTIMIZATION_r16.md).
    mark = state_mark(dist)
    converged = False
    for _ in range(rounds):
        dist = relax(dist).localCheckpoint()
        new_mark = state_mark(dist)
        if new_mark == mark:
            converged = True
            break
        mark = new_mark
    if not converged:
        # fixpoint assertion: one more relaxation must be a no-op —
        # catches both a shorter distance AND a newly-reached node
        probe = relax(dist)
        changed = (
            probe.alias("n")
            .join(dist.alias("o"), "user_id", "left_outer")
            .filter(
                F.col("o.dist").isNull() | (F.col("n.dist") < F.col("o.dist"))
            )
            .limit(1)
            .count()
        )
        if changed:
            raise AssertionError(
                f"sssp_weighted did not converge in {rounds} relaxation rounds "
                "(a shortest path uses more edges); raise SSSP_ROUNDS before "
                "trusting the bounded unrolled oracle"
            )
    return dist.select("user_id", F.col("dist").cast("long").alias("dist"))


def user_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: weighted shortest distances from the lowest-id
    user over the co-occurrence graph (edge cost = the shared-bucket
    weight w). Hash-checked end to end: integer min-plus, fixpoint
    asserted, oracle = sssp_oracle_sql's unrolled relaxation rounds."""
    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    nodes = (
        edges.select(F.col("u").alias("user_id"))
        .unionAll(edges.select(F.col("v").alias("user_id")))
        .distinct()
    )
    seeds = nodes.orderBy("user_id").limit(1)
    return sssp_weighted(edges, seeds).orderBy("user_id")


def user_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: weakly-connected components of the co-occurrence
    graph — THE SAME connected_components implementation that clusters
    near-duplicate documents (operators/dedup.py): one shared
    min-label-propagation fixpoint, two consumers (VERDICT r7 ask 7).
    Hash-checked: the oracle is the recursive min-reachable-id closure
    (the dedup_clusters idiom) over the co-occurrence edge CTEs, so
    both the edge build and the fixpoint are value-checked."""
    from mini_log_lakehouse_spark.operators.dedup import connected_components

    edges = cooccurrence_edges(spark, sf_dir)  # memoized + checkpointed
    cc = connected_components(edges, "u", "v")
    return cc.select(
        F.col("node").alias("user_id"),
        F.col("component").cast("long").alias("component"),
    ).orderBy("user_id")


def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM changepoint statistic over daily event counts —
    the classic "has the level shifted" sequential monitor (Page 1954),
    the follow-up to events_daily_anomalies' pointwise z-flags: a run
    of small same-sign deviations that no single-day test flags
    accumulates here.

    Float-free: deviations are cross-multiplied (d_t = n·x_t − T, an
    integer that sums to zero over each type), and the max(0, S+d)
    recurrence — inherently sequential — is computed CLOSED-FORM as
    S_t = P_t − min(0, min_{j≤t} P_j) with P the running sum of d
    (standard identity, provable by induction), so the whole monitor is
    two window passes, no recursion, no UDF.

    Shape at 100 TB: event grain collapses in the first (type, day)
    partial aggregate; both windows run over type-grain day series —
    thousands of rows per type, one shuffle shared by both."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("t")
    )
    d = daily.join(per_type, "event_type").select(
        "event_type",
        "day",
        F.col("x").cast("long").alias("n_events"),
        (F.col("n") * F.col("x") - F.col("t")).cast("long").alias("dev_scaled"),
    )
    wp = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    p = d.withColumn("_p", F.sum("dev_scaled").over(wp))
    return (
        p.withColumn(
            "cusum_scaled",
            (F.col("_p") - F.least(F.lit(0), F.min("_p").over(wp))).cast("long"),
        )
        .select("event_type", "day", "n_events", "dev_scaled", "cusum_scaled")
        .orderBy("event_type", "day")
    )


#: Fixed-point scale for the Holt smoother (micro-units).
HOLT_SCALE = 1_000_000


def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over each
    event type's daily counts, with α = β = 1/2 — the classic
    short-horizon load forecaster ("how many errors tomorrow / next
    week"). All arithmetic is EXACT micro-unit integer fixed point:
    each update divides by 2 with truncation toward zero, which Spark's
    ``DIV``, DuckDB's ``//`` and the trunc-div helper here all agree on
    (floats would drift between engines; Python's ``//`` floors and
    must NOT be used). Emits the final state, the 1-day and 7-day
    forecasts (L + h·T), and the accumulated one-step-ahead |error| —
    the model-quality number a dashboard would alarm on.

    Shape at 100 TB: the corpus collapses to (type, day) counts in one
    map-side-partial aggregate; the inherently sequential recurrence
    then runs per key over a days-long series (applyInPandas), so the
    state chain costs O(days) per type, never touches event grain, and
    parallelizes across types. The oracle replays the identical
    integer recurrence as a recursive CTE."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))

    def tdiv2(a: int) -> int:
        """Divide by 2 truncating toward zero (match SQL DIV, not //)."""
        return -((-a) // 2) if a < 0 else a // 2

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = [int(v) * HOLT_SCALE for v in pdf["y"]]
        lvl, trd, abs_err = ys[0], 0, 0
        for y in ys[1:]:
            err = y - lvl - trd
            abs_err += abs(err)
            new_lvl = tdiv2(y + lvl + trd)
            trd = tdiv2(trd + new_lvl - lvl)
            lvl = new_lvl
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(ys)],
                "level_micro": [lvl],
                "trend_micro": [trd],
                "forecast_1_micro": [lvl + trd],
                "forecast_7_micro": [lvl + 7 * trd],
                "abs_err_sum_micro": [abs_err],
            }
        )

    schema = (
        "event_type string, n_days long, level_micro long, "
        "trend_micro long, forecast_1_micro long, forecast_7_micro long, "
        "abs_err_sum_micro long"
    )
    return (
        daily.groupBy("event_type")
        .applyInPandas(fit, schema=schema)
        .orderBy("event_type")
    )


def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile + per-day deviation from the
    type's own weekday mean — "is this Tuesday unusual FOR a Tuesday",
    the seasonality-aware refinement of the flat daily mean the
    anomaly/trend operators use. dev_scaled = x·c_dow − s_dow is the
    usual division-free cross-multiplication (positive ⇔ above the
    weekday mean), weekday numbering pinned cross-engine (Spark
    weekday() == DuckDB isodow() − 1 == 0 for Monday — verified).

    Shape: one (type, day) aggregate, one (type, dow) re-aggregate of
    it (both map-side partial), one broadcastable profile join back."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    daily = daily.withColumn("dow", F.weekday("day").cast("long"))
    prof = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("dow_days"), F.sum("x").alias("dow_total")
    )
    return (
        daily.join(prof, ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "dow",
            F.col("x").cast("long").alias("n_events"),
            F.col("dow_days").cast("long").alias("dow_days"),
            F.col("dow_total").cast("long").alias("dow_total"),
            (F.col("x") * F.col("dow_days") - F.col("dow_total"))
            .cast("long")
            .alias("dev_scaled"),
        )
        .orderBy("event_type", "day")
    )


#: Trailing window width of the rolling active-user metric.
WAU_WINDOW_DAYS = 7


def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per observed day (WAU), daily actives
    (DAU), and the DAU/WAU stickiness ratio — the standard engagement
    triple. A distinct-count over a sliding range frame doesn't exist
    as a window aggregate, so the rolling distinct is computed the
    scalable way: each (user, active-day) pair CONTRIBUTES to the 7
    report days it covers (a 7× explode of the user-day table, which is
    already orders of magnitude below event grain), then one
    count-distinct per report day. Report days are the OBSERVED event
    days (a day with no events emits no row — the explode join keeps
    the frame inside the data's range rather than extrapolating).

    Exactness: counts are integers; stickiness is the half-up _ratio6
    quantization of DAU/WAU."""
    from mini_log_lakehouse_spark.operators.textstats import _ratio6

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(WAU_WINDOW_DAYS - 1))
        ).alias("_off"),
        "day",
    ).select("user_id", F.expr("date_add(day, _off)").alias("report_day"))
    wau = (
        contrib.join(
            F.broadcast(days), contrib.report_day == days.day
        )
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    # ud is already distinct on (user, day): a plain count IS the
    # distinct count — no second dedup pass
    dau = ud.groupBy(F.col("day").alias("report_day")).agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    return (
        dau.join(wau, "report_day")
        .select(
            "report_day",
            "dau",
            "wau",
            _ratio6("dau", "wau").alias("stickiness"),
        )
        .orderBy("report_day")
    )


#: Decay horizon (days) and the 1-day half-life in exact powers of two:
#: weight(age) = 2^(HORIZON − age), so the score is a pure int64 sum —
#: the float-free form of exponential recency weighting.
DECAY_HORIZON_DAYS = 14


def user_decayed_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement score per user: activity within the
    last DECAY_HORIZON_DAYS, each day's count weighted by a 1-day
    half-life — the ranking signal feed/serving layers actually use
    ("active yesterday ≫ active last week"). Weights are exact powers
    of two on an integer lattice (score = Σ count_d · 2^(H−age)), so
    the whole score is int64 arithmetic and hash-checks cross-engine;
    the usual e^{−λ·age} form would be float-ordering-dependent.

    Shape at 100 TB: one (user, day) aggregate (map-side partial), the
    corpus max-day as a broadcast scalar, then a user-grain re-agg —
    the same two-shuffle shape as retention."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    anchor = daily.agg(F.max("day").alias("d_max"))
    h = DECAY_HORIZON_DAYS
    recent = (
        daily.crossJoin(F.broadcast(anchor))
        .withColumn("age", F.datediff("d_max", "day"))
        .filter(F.col("age") <= h)
    )
    w = F.expr(f"shiftleft(CAST(1 AS BIGINT), {h} - CAST(age AS INT))")
    return (
        recent.groupBy("user_id")
        .agg(
            F.max("day").alias("last_active_day"),
            F.count(F.lit(1)).cast("long").alias("n_recent_days"),
            F.sum(F.col("x") * w).cast("long").alias("decayed_score"),
        )
        .orderBy("user_id")
    )


#: Result depth of the frequent-path report.
TRIGRAM_TOP = 20


def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step user paths (consecutive event triples) —
    the order-2 extension of event_transition_counts and the standard
    "what flows do users actually take" mining query. Two leads over
    the same (user × (ts, event_id)) sort — one window shuffle — then
    a |types|³-bounded aggregate and a deterministic top-K."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.col("event_type").alias("step1"),
            F.lead("event_type", 1).over(w).alias("step2"),
            F.lead("event_type", 2).over(w).alias("step3"),
        )
        .filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    )
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(TRIGRAM_TOP)
    )


def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type: millisecond gaps
    between a user's consecutive events of the same type — the
    burstiness/periodicity signal behind rate-limit tuning and
    synthetic-traffic detection. Gaps are exact int64 milliseconds
    (unix_millis == epoch_ms, truncating, verified); the quantiles use
    the exact interpolated percentile (the lineitem_price_quantiles
    idiom — identical in both engines on integer inputs, rounded
    once)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias(
                "gap_ms"
            ),
        )
        .filter(F.col("gap_ms").isNotNull())
    )
    p = lambda q: F.round(F.percentile("gap_ms", F.lit(q)), 6)  # noqa: E731
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_ms").cast("long").alias("min_gap_ms"),
            p(0.5).alias("p50_gap_ms"),
            p(0.95).alias("p95_gap_ms"),
            F.max("gap_ms").cast("long").alias("max_gap_ms"),
        )
        .orderBy("event_type")
    )


def events_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram (first-order Markov) LM scoring of each user's event
    sequence against the corpus transition model — the sequence twin of
    textstats.doc_unigram_lm_scores ("how typical is this user's
    behavior"), with the same float-free discipline: the only division
    is the exact half-up _ratio6 quantization.

    Shape at 100 TB: transitions come from one window pass; the corpus
    model is |types|² rows (here 25) — always broadcastable — so the
    scoring join is map-only, and the per-user aggregate is the single
    real shuffle."""
    from pyspark.sql.window import Window as W

    from mini_log_lakehouse_spark.operators.textstats import _ratio6

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    corpus = tr.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = (
        tr.join(F.broadcast(corpus), ["event_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("mass"),
            F.min("c").cast("long").alias("min_transition_count"),
            F.countDistinct("event_type", "next_type")
            .cast("long")
            .alias("n_distinct_transitions"),
        )
    )
    return per_user.select(
        "user_id",
        "n_transitions",
        _ratio6("mass", "n_transitions").alias("avg_transition_freq"),
        "min_transition_count",
        "n_distinct_transitions",
    ).orderBy("user_id")


_DAY = "CAST(CAST(ts AS TIMESTAMP) AS DATE)"

# --- association rules -------------------------------------------------------

#: Ratio scale for confidence/lift: parts-per-million via truncating
#: integer division — Spark DIV and DuckDB // agree exactly.
ASSOC_PPM = 1_000_000


def event_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket **association rules** over (user, day) baskets:
    for every unordered event-type pair, the basket co-occurrence
    support and both directed confidences plus lift (Agrawal &
    Srikant's support/confidence framework), all ratios as exact
    integer parts-per-million — truncating DIV agrees across engines,
    so the whole rule table hash-gates.

    Scale shape: baskets form in ONE distinct partial aggregate at
    (user, day, type) grain; the pair join is per-basket and bounded
    by the type domain (|T| = 5 here ⇒ ≤ 10 pairs per basket — the
    explicit-pair form is right for small catalogs; a 10^5-item
    catalog would switch to FP-growth-style prefix mining);
    everything downstream is type- or pair-grain (≤ |T|² rows), with
    the item supports and the basket total broadcast. The ratio
    numerators (sup_ab·n_baskets·10^6 for lift) are computed in
    DECIMAL(38,0) on the Spark side and HUGEINT in the oracle — int64
    would wrap silently in Spark (non-ANSI) while DuckDB raises, a
    divergence that at ~10^6+ baskets would hit lift first (ADVICE
    r10); the quotient is truncating integral division in both engines
    and the emitted column stays BIGINT (lift caps at n_baskets·10^6 ≤
    int64 for any corpus under 9·10^12 baskets, and a hash gate covers
    the agreement)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    b = ev.select(
        F.col("user_id").alias("u"),
        F.to_date("ts").alias("d"),
        F.col("event_type").alias("t"),
    ).distinct()
    nb = b.groupBy().agg(
        F.count_distinct(F.struct("u", "d")).alias("n_baskets")
    )
    sup = b.groupBy("t").agg(F.count(F.lit(1)).alias("sup"))
    pairs = (
        b.select("u", "d", F.col("t").alias("type_a"))
        .join(
            b.select("u", "d", F.col("t").alias("type_b")),
            ["u", "d"],
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("sup_ab"))
    )
    return (
        pairs.join(
            F.broadcast(sup.select(F.col("t").alias("type_a"), F.col("sup").alias("sup_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sup.select(F.col("t").alias("type_b"), F.col("sup").alias("sup_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "type_a",
            "type_b",
            F.col("sup_ab").alias("basket_support"),
            F.expr(
                f"CAST(CAST(sup_ab AS DECIMAL(38,0)) * {ASSOC_PPM} DIV sup_a"
                " AS BIGINT)"
            ).alias("conf_ab_ppm"),
            F.expr(
                f"CAST(CAST(sup_ab AS DECIMAL(38,0)) * {ASSOC_PPM} DIV sup_b"
                " AS BIGINT)"
            ).alias("conf_ba_ppm"),
            F.expr(
                f"CAST(CAST(sup_ab AS DECIMAL(38,0)) * n_baskets * {ASSOC_PPM}"
                " DIV (CAST(sup_a AS DECIMAL(38,0)) * sup_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


def user_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining (PrefixSpan's problem, exact): for
    every ORDERED event-type triple ⟨t1 → t2 → t3⟩, the number of
    users whose event stream contains it as a subsequence (∃ i < j < k
    with those types — gaps allowed, the defining difference from the
    adjacency-based transition matrix), plus exact ppm support of the
    user base. Ordering is (ts, event_id) so ties are deterministic.

    Scale shape: the naive definition is an O(n³) per-user self-join —
    it runs ONLY in the oracle, as the semantic primitive. The plan
    uses the greedy first-after-first reduction instead: a subsequence
    ⟨t1,t2,t3⟩ exists iff the FIRST t2 after the FIRST t1 still has a
    t3 after it, so three bounded passes suffice — (user, type)
    min/max positions (map-side partial at event grain), the
    first-t2-after-first-t1 table via one |T|-bounded join (≤ |T|×
    events intermediate, |T| = 5), and a (user, t1, t2) × (user, t3)
    grain join. Nothing downstream of the first pass is event-sized,
    and pattern rows are ≤ |T|³."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    occ = ev.select(
        "user_id",
        F.col("event_type").alias("t"),
        F.row_number().over(w).alias("rn"),
    )
    mm = occ.groupBy("user_id", "t").agg(
        F.min("rn").alias("mi"), F.max("rn").alias("ma")
    )
    # first t2 strictly after the first t1, per user
    fba = (
        occ.join(
            mm.select("user_id", F.col("t").alias("t1"), "mi"), "user_id"
        )
        .filter(F.col("rn") > F.col("mi"))
        .groupBy("user_id", "t1", F.col("t").alias("t2"))
        .agg(F.min("rn").alias("fb"))
    )
    trips = (
        fba.join(
            mm.select("user_id", F.col("t").alias("t3"), "ma"), "user_id"
        )
        .filter(F.col("ma") > F.col("fb"))
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("support_users"))
    )
    nu = ev.groupBy().agg(F.count_distinct("user_id").alias("n_users"))
    return (
        trips.crossJoin(F.broadcast(nu))
        .select(
            "t1",
            "t2",
            "t3",
            "support_users",
            F.expr(
                f"CAST(support_users * {ASSOC_PPM} DIV n_users AS BIGINT)"
            ).alias("support_ppm"),
        )
        .orderBy("t1", "t2", "t3")
    )


_ASSOC_ORACLE = f"""
        WITH b AS (
            SELECT DISTINCT user_id AS u,
                   CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
                   event_type AS t
            FROM events
            WHERE user_id IS NOT NULL
        ), nb AS (
            SELECT COUNT(*) AS n_baskets FROM (SELECT DISTINCT u, d FROM b)
        ), sup AS (
            SELECT t, COUNT(*) AS sup FROM b GROUP BY 1
        ), pairs AS (
            SELECT a.t AS type_a, x.t AS type_b, COUNT(*) AS sup_ab
            FROM b a JOIN b x ON a.u = x.u AND a.d = x.d AND a.t < x.t
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b,
               CAST(p.sup_ab AS BIGINT) AS basket_support,
               CAST(CAST(p.sup_ab AS HUGEINT) * {ASSOC_PPM} // sa.sup AS BIGINT) AS conf_ab_ppm,
               CAST(CAST(p.sup_ab AS HUGEINT) * {ASSOC_PPM} // sb.sup AS BIGINT) AS conf_ba_ppm,
               CAST(CAST(p.sup_ab AS HUGEINT) * n.n_baskets * {ASSOC_PPM}
                    // (CAST(sa.sup AS HUGEINT) * sb.sup) AS BIGINT) AS lift_ppm
        FROM pairs p
        JOIN sup sa ON sa.t = p.type_a
        JOIN sup sb ON sb.t = p.type_b
        CROSS JOIN nb n
        ORDER BY 1, 2
"""

ORACLES: dict[str, str] = {
    "event_association_rules": _ASSOC_ORACLE,
    "events_funnel": f"""
        WITH firsts AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS t_signup,
                   MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_purchase
            FROM events
            WHERE event_type IN ('signup', 'click', 'purchase')
            GROUP BY 1
        ), reached AS (
            SELECT
                CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS r0,
                CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_signup THEN 1 ELSE 0 END AS r1,
                CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_signup AND t_purchase IS NOT NULL
                          AND t_purchase > t_click THEN 1 ELSE 0 END AS r2
            FROM firsts
        )
        SELECT step_order, step, users_reached FROM (
            SELECT CAST(1 AS BIGINT) AS step_order, 'signup' AS step,
                   CAST(COALESCE(SUM(r0), 0) AS BIGINT) AS users_reached
            FROM reached
            UNION ALL
            SELECT 2, 'click', CAST(COALESCE(SUM(r1), 0) AS BIGINT) FROM reached
            UNION ALL
            SELECT 3, 'purchase', CAST(COALESCE(SUM(r2), 0) AS BIGINT) FROM reached
        )
        ORDER BY step_order
    """,
    "event_transition_counts": """
        SELECT event_type, next_type, COUNT(*) AS transitions FROM (
            SELECT event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS next_type
            FROM events
            WHERE user_id IS NOT NULL
        )
        WHERE next_type IS NOT NULL
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "events_daily_anomalies": f"""
        WITH daily AS (
            SELECT event_type, {_DAY} AS day, COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ), per_type AS (
            SELECT event_type, COUNT(*) AS d_days, SUM(c) AS t_total
            FROM daily GROUP BY 1
        ), devs AS (
            SELECT d.event_type, d.day, d.c, p.d_days,
                   CAST(d.c * p.d_days - p.t_total AS BIGINT) AS dev
            FROM daily d JOIN per_type p USING (event_type)
        ), ss AS (
            SELECT event_type, SUM(dev * dev) AS sum_dev_sq
            FROM devs GROUP BY 1
        )
        SELECT v.event_type, v.day,
               CAST(v.c AS BIGINT) AS n_events,
               v.dev
        FROM devs v JOIN ss USING (event_type)
        WHERE v.dev * v.dev * v.d_days > {ANOM_SIGMA_SQ} * ss.sum_dev_sq
        ORDER BY 1, 2
    """,
    # the session-id CTEs are the SHARED fragment from operators.sessions
    # (one SQL definition, in lockstep with with_session_ids and
    # parameterized by SESSION_GAP_MINUTES — no second copy to drift)
    "session_funnel": f"""
        WITH {sql_session_ids_cte(extra_cols=", event_type", where="user_id IS NOT NULL")}
        , firsts AS (
            SELECT user_id, session_id AS sid,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
                   MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
            FROM ids
            WHERE event_type IN ('signup', 'click', 'purchase')
            GROUP BY 1, 2
        ), reached AS (
            SELECT
                CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS r0,
                CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_signup THEN 1 ELSE 0 END AS r1,
                CASE WHEN t_signup IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_signup AND t_purchase IS NOT NULL
                          AND t_purchase > t_click THEN 1 ELSE 0 END AS r2
            FROM firsts
        )
        SELECT step_order, step, sessions_reached FROM (
            SELECT CAST(1 AS BIGINT) AS step_order, 'signup' AS step,
                   CAST(COALESCE(SUM(r0), 0) AS BIGINT) AS sessions_reached
            FROM reached
            UNION ALL
            SELECT 2, 'click', CAST(COALESCE(SUM(r1), 0) AS BIGINT) FROM reached
            UNION ALL
            SELECT 3, 'purchase', CAST(COALESCE(SUM(r2), 0) AS BIGINT) FROM reached
        )
        ORDER BY step_order
    """,
    # the oracle is the O(n³) DEFINITION of subsequence containment
    # (∃ i < j < k via two inequality self-joins, then DISTINCT per
    # user) — deliberately the semantic primitive, not the plan's
    # greedy first-after-first reduction; ppm via truncating //.
    "user_sequence_patterns": f"""
        WITH e AS (
            SELECT user_id, event_type AS t,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                   ) AS rn
            FROM events WHERE user_id IS NOT NULL
        ), trip AS (
            SELECT DISTINCT x.user_id, x.t AS t1, y.t AS t2, z.t AS t3
            FROM e x
            JOIN e y ON y.user_id = x.user_id AND y.rn > x.rn
            JOIN e z ON z.user_id = x.user_id AND z.rn > y.rn
        ), nu AS (
            SELECT COUNT(DISTINCT user_id) AS n_users
            FROM events WHERE user_id IS NOT NULL
        )
        SELECT t1, t2, t3,
               COUNT(*) AS support_users,
               CAST(COUNT(*) * {ASSOC_PPM} // MAX(n_users) AS BIGINT)
                   AS support_ppm
        FROM trip CROSS JOIN nu
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    # the oracle replays the IDENTICAL integer recurrence: micro-unit
    # state, each update halved with truncation toward zero (DuckDB //
    # == the operator's trunc-div helper; Python's floor // would
    # diverge on negative trends), one recursion level per series day.
    "events_holt_forecast": f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, {_DAY} AS day, COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ), ser AS (
            SELECT event_type, CAST(y AS BIGINT) AS y,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                       AS t,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ), fit AS (
            SELECT event_type, t, n,
                   y * 1000000 AS lvl,
                   CAST(0 AS BIGINT) AS trd,
                   CAST(0 AS BIGINT) AS abs_err
            FROM ser WHERE t = 1
            UNION ALL
            SELECT f.event_type, s.t, f.n,
                   (s.y * 1000000 + f.lvl + f.trd) // 2,
                   (f.trd + (s.y * 1000000 + f.lvl + f.trd) // 2 - f.lvl)
                       // 2,
                   f.abs_err + ABS(s.y * 1000000 - f.lvl - f.trd)
            FROM fit f
            JOIN ser s ON s.event_type = f.event_type AND s.t = f.t + 1
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_days,
               CAST(lvl AS BIGINT) AS level_micro,
               CAST(trd AS BIGINT) AS trend_micro,
               CAST(lvl + trd AS BIGINT) AS forecast_1_micro,
               CAST(lvl + 7 * trd AS BIGINT) AS forecast_7_micro,
               CAST(abs_err AS BIGINT) AS abs_err_sum_micro
        FROM fit WHERE t = n
        ORDER BY event_type
    """,
    # Integer division: Spark DIV and DuckDB // both truncate toward
    # zero (verified on negative operands), so a negative slope
    # quantizes identically.
    "events_daily_trend": f"""
        WITH daily AS (
            SELECT event_type, {_DAY} AS day, COUNT(*) AS y
            FROM events GROUP BY 1, 2
        ), xy AS (
            SELECT event_type,
                   CAST(day - (SELECT MIN(day) FROM daily) AS BIGINT) AS x,
                   CAST(y AS BIGINT) AS y
            FROM daily
        ), sums AS (
            SELECT event_type,
                   COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM xy GROUP BY 1
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS active_days,
               CAST(sy AS BIGINT) AS total_events,
               CASE WHEN n * sxx - sx * sx <> 0 THEN
                   CAST((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                        * 1000000
                        // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                        AS BIGINT)
               END AS slope_micro
        FROM sums
        ORDER BY 1
    """,
    "events_retention_cohorts": f"""
        WITH user_days AS (
            SELECT DISTINCT user_id, {_DAY} AS day
            FROM events WHERE user_id IS NOT NULL
        ), cohorts AS (
            SELECT user_id, MIN(day) AS cohort_day FROM user_days GROUP BY 1
        )
        SELECT c.cohort_day,
               CAST(u.day - c.cohort_day AS BIGINT) AS day_offset,
               COUNT(DISTINCT u.user_id) AS active_users
        FROM user_days u JOIN cohorts c USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
}

ORACLES["user_state_scd2"] = """
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events WHERE user_id IS NOT NULL
    ), ch AS (
        SELECT user_id, event_type, ts, event_id FROM (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM e
        ) WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS version,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
               AS is_current
    FROM ch
    ORDER BY user_id, version
"""

# Shared edge-build CTE fragment — one SQL definition of the
# co-occurrence graph (bucket cap + shared-bucket threshold), in
# lockstep with cooccurrence_edges; triangle and PageRank oracles both
# start from it.
_SQL_COOC_EDGES = f"""ub0 AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
               EXTRACT(HOUR FROM CAST(ts AS TIMESTAMP)) AS h
        FROM events WHERE user_id IS NOT NULL
    ), ok AS (
        SELECT d, h FROM ub0 GROUP BY 1, 2
        HAVING COUNT(*) <= {COOC_BUCKET_CAP}
    ), ub AS (
        SELECT user_id, d, h FROM ub0 JOIN ok USING (d, h)
    ), edges AS (
        SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
        FROM ub a JOIN ub b ON a.d = b.d AND a.h = b.h AND a.user_id < b.user_id
        GROUP BY 1, 2
        HAVING COUNT(*) >= {COOC_MIN_SHARED}
    )"""

ORACLES["events_state_enrichment"] = """
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events WHERE user_id IS NOT NULL
    ), ch AS (
        SELECT user_id, event_type, ts, event_id FROM (
            SELECT user_id, event_type, ts, event_id,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM e
        ) WHERE prev IS NULL OR prev <> event_type
    ), scd2 AS (
        SELECT user_id AS s_uid,
               event_type AS state,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM ch
    )
    SELECT s.state,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN scd2 s
      ON e.user_id = s.s_uid
     AND e.ts >= s.valid_from
     AND (s.valid_to IS NULL OR e.ts < s.valid_to)
    GROUP BY 1
    ORDER BY 1
"""

ORACLES["user_cooccurrence_triangles"] = f"""
    WITH {_SQL_COOC_EDGES}, tri AS (
        SELECT e1.u AS va, e1.v AS vb, e2.v AS vc
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), verts AS (
        SELECT va AS user_id FROM tri
        UNION ALL SELECT vb FROM tri
        UNION ALL SELECT vc FROM tri
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM verts GROUP BY 1 ORDER BY 1
"""

def _pagerank_oracle_sql(iters: int, weighted: bool) -> str:
    """Unrolled DuckDB restatement of the PageRank fit — ONE generator
    for both variants, mirroring the shared Spark loop: contributions
    are (r·w) // strength with w ≡ 1 / strength = degree in the
    unweighted case (equal rationals truncate identically). Every step
    is positive int64 arithmetic with truncating division (DuckDB
    ``//`` == Spark ``DIV``), so the hash gate checks the ITERATIVE
    fit end to end."""
    tele_num = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE
    w_expr = "w" if weighted else "CAST(1 AS BIGINT) AS w"
    sql = [
        f"""
    WITH {_SQL_COOC_EDGES}, und AS (
        SELECT u AS src, v AS dst, {w_expr} FROM edges
        UNION ALL
        SELECT v AS src, u AS dst, {w_expr} FROM edges
    ), stren AS (
        SELECT src, SUM(w) AS st, COUNT(*) AS deg FROM und GROUP BY 1
    ), nn AS (
        SELECT COUNT(*) AS n FROM stren
    ), r0 AS (
        SELECT s.src AS user_id, {PR_SCALE} // nn.n AS r FROM stren s, nn
    )"""
    ]
    for i in range(1, iters + 1):
        sql.append(f"""
    , c{i} AS (
        SELECT u.dst AS user_id, SUM((r.r * u.w) // s.st) AS s
        FROM und u
        JOIN r{i - 1} r ON r.user_id = u.src
        JOIN stren s ON s.src = u.src
        GROUP BY 1
    ), r{i} AS (
        SELECT d.src AS user_id,
               {tele_num} // ({PR_DAMP_DEN} * nn.n)
                   + ({PR_DAMP_NUM} * COALESCE(c.s, 0)) // {PR_DAMP_DEN} AS r
        FROM stren d
        CROSS JOIN nn
        LEFT JOIN c{i} c ON c.user_id = d.src
    )""")
    strength_col = (
        ",\n           CAST(d.st AS BIGINT) AS strength" if weighted else ""
    )
    sql.append(f"""
    SELECT r.user_id,
           CAST(d.deg AS BIGINT) AS degree{strength_col},
           CAST(r.r AS BIGINT) AS rank_fixed
    FROM r{iters} r JOIN stren d ON d.src = r.user_id
    ORDER BY 1""")
    return "".join(sql)


def pagerank_oracle_sql(iters: int = PR_ITERS) -> str:
    return _pagerank_oracle_sql(iters, weighted=False)


def pagerank_weighted_oracle_sql(iters: int = PR_ITERS) -> str:
    return _pagerank_oracle_sql(iters, weighted=True)


ORACLES["user_pagerank"] = pagerank_oracle_sql()
ORACLES["user_pagerank_weighted"] = pagerank_weighted_oracle_sql()

ORACLES["cooc_degree_histogram"] = f"""
    WITH {_SQL_COOC_EDGES}, und AS (
        SELECT u AS user_id FROM edges
        UNION ALL SELECT v FROM edges
    ), deg AS (
        SELECT user_id, COUNT(*) AS degree FROM und GROUP BY 1
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM deg GROUP BY 1 ORDER BY 1
"""

# Restates link_prediction: the same node-ordered wedge enumeration,
# anti-join against existing edges, node-grain degrees, fixed-point
# Jaccard with truncating // (all quantities positive), and the total
# (cn DESC, u, v) top-N order.
ORACLES["user_link_prediction"] = f"""
    WITH {_SQL_COOC_EDGES}, und AS (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v, u FROM edges
    ), cand AS (
        SELECT m1.dst AS u, m2.dst AS v, COUNT(*) AS cn
        FROM und m1 JOIN und m2 ON m1.src = m2.src AND m1.dst < m2.dst
        GROUP BY 1, 2
    ), nonedge AS (
        SELECT c.u, c.v, c.cn FROM cand c
        LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
        WHERE e.u IS NULL
    ), deg AS (
        SELECT src, COUNT(*) AS deg FROM und GROUP BY 1
    )
    SELECT n.u, n.v,
           CAST(n.cn AS BIGINT) AS common_neighbors,
           CAST((n.cn * {LP_JACCARD_SCALE}) // (du.deg + dv.deg - n.cn)
                AS BIGINT) AS jaccard_fixed
    FROM nonedge n
    JOIN deg du ON du.src = n.u
    JOIN deg dv ON dv.src = n.v
    ORDER BY common_neighbors DESC, u, v
    LIMIT {LP_TOP_N}
"""


def salsa_oracle_sql(iters: int = SALSA_ITERS) -> str:
    """Unrolled DuckDB restatement of the SALSA fit — the pagerank
    recipe on the bipartite graph: every alternating update is
    positive int64 arithmetic with truncating // (== Spark DIV), so
    the hash gate checks all ``iters`` double-steps end to end. e and
    stu are MATERIALIZED (each referenced every iteration — the
    re-inlining lesson)."""
    sql = [
        f"""
    WITH e AS MATERIALIZED (
        SELECT CAST(user_id AS VARCHAR) AS uid, event_type AS eid,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ), stu AS MATERIALIZED (
        SELECT uid, SUM(w) AS st FROM e GROUP BY 1
    ), ste AS (
        SELECT eid, SUM(w) AS st FROM e GROUP BY 1
    ), nn AS (
        SELECT COUNT(*) AS n FROM stu
    ), h0 AS (
        SELECT stu.uid, {SALSA_SCALE} // nn.n AS s FROM stu, nn
    )"""
    ]
    for i in range(1, iters + 1):
        sql.append(f"""
    , a{i} AS (
        SELECT e.eid, SUM((h.s * e.w) // su.st) AS s
        FROM e
        JOIN h{i - 1} h ON h.uid = e.uid
        JOIN stu su ON su.uid = e.uid
        GROUP BY 1
    ), h{i} AS (
        SELECT e.uid, SUM((a.s * e.w) // se.st) AS s
        FROM e
        JOIN a{i} a ON a.eid = e.eid
        JOIN ste se ON se.eid = e.eid
        GROUP BY 1
    )""")
    sql.append(f"""
    SELECT side, id, CAST(s AS BIGINT) AS score_fixed FROM (
        SELECT 'hub' AS side, uid AS id, s FROM h{iters}
        UNION ALL
        SELECT 'authority', eid, s FROM a{iters}
    )
    ORDER BY side, id""")
    return "".join(sql)


ORACLES["user_event_salsa"] = salsa_oracle_sql()

ORACLES["user_clustering_coefficient"] = f"""
    WITH {_SQL_COOC_EDGES}, und AS (
        SELECT u AS user_id FROM edges
        UNION ALL SELECT v FROM edges
    ), deg AS (
        SELECT user_id, COUNT(*) AS deg FROM und GROUP BY 1
    ), tri AS (
        SELECT e1.u AS va, e1.v AS vb, e2.v AS vc
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), tc AS (
        SELECT user_id, COUNT(*) AS t FROM (
            SELECT va AS user_id FROM tri
            UNION ALL SELECT vb FROM tri
            UNION ALL SELECT vc FROM tri
        ) GROUP BY 1
    )
    SELECT d.user_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg >= 2 THEN
               CAST((CAST(2 * COALESCE(t.t, 0) AS HUGEINT) * 2000000
                     + d.deg * (d.deg - 1))
                    // (2 * d.deg * (d.deg - 1)) AS DOUBLE) / 1000000
           ELSE 0.0 END AS lcc
    FROM deg d LEFT JOIN tc t USING (user_id)
    ORDER BY 1
"""


def lpa_oracle_sql(iters: int = LPA_ITERS) -> str:
    """Unrolled DuckDB restatement of the synchronous label-propagation
    fit: per round, neighbor-label counts then a (count DESC, label
    ASC) argmax per node — all integers, so the hash gate checks the
    whole community assignment."""
    sql = [
        f"""
    WITH {_SQL_COOC_EDGES}, und AS (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL
        SELECT v AS src, u AS dst FROM edges
    ), l0 AS (
        SELECT DISTINCT src AS user_id, src AS label FROM und
    )"""
    ]
    for i in range(1, iters + 1):
        sql.append(f"""
    , m{i} AS (
        SELECT u.dst AS user_id, l.label, COUNT(*) AS c
        FROM und u JOIN l{i - 1} l ON l.user_id = u.src
        GROUP BY 1, 2
    ), l{i} AS (
        SELECT user_id, label FROM (
            SELECT user_id, label,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY c DESC, label ASC) AS rn
            FROM m{i}
        ) WHERE rn = 1
    )""")
    sql.append(f"""
    SELECT user_id,
           CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
               AS community_size
    FROM l{iters}
    ORDER BY user_id""")
    return "".join(sql)


ORACLES["user_communities"] = lpa_oracle_sql()


def kcore_oracle_sql(k: int = KCORE_K, iters: int = KCORE_ITERS) -> str:
    """Unrolled DuckDB restatement of the k-core peel: per round a
    degree count and a both-endpoints-survive filter."""
    # e{i-1} is referenced three times per round (twice in the degree
    # union, once in the filter) and k{i} twice — without MATERIALIZED,
    # DuckDB re-inlines the whole upstream chain per reference and the
    # plan grows 3^rounds copies of the bucket self-join (measured:
    # minutes instead of milliseconds at sf0.01).
    sql = [f"""
    WITH {_SQL_COOC_EDGES}, e0 AS MATERIALIZED (
        SELECT u, v FROM edges
    )"""]
    for i in range(1, iters + 1):
        sql.append(f"""
    , d{i} AS (
        SELECT node, COUNT(*) AS d FROM (
            SELECT u AS node FROM e{i - 1}
            UNION ALL SELECT v FROM e{i - 1}
        ) GROUP BY 1
    ), k{i} AS MATERIALIZED (
        SELECT node FROM d{i} WHERE d >= {k}
    ), e{i} AS MATERIALIZED (
        SELECT e.u, e.v
        FROM e{i - 1} e
        JOIN k{i} a ON a.node = e.u
        JOIN k{i} b ON b.node = e.v
    )""")
    sql.append(f"""
    SELECT node AS user_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (
        SELECT u AS node FROM e{iters}
        UNION ALL SELECT v FROM e{iters}
    )
    GROUP BY 1
    ORDER BY 1""")
    return "".join(sql)


ORACLES["user_kcore"] = kcore_oracle_sql()


def bfs_oracle_sql(hops: int = BFS_HOPS, seeds: int = BFS_SEEDS) -> str:
    """Unrolled DuckDB restatement of the multi-source BFS expansion:
    per hop a frontier min over in-neighbors, merged monotonically with
    the previous distances — all integer min-plus."""
    sql = [
        f"""
    WITH {_SQL_COOC_EDGES}, und AS MATERIALIZED (
        SELECT u AS src, v AS dst FROM edges
        UNION ALL
        SELECT v AS src, u AS dst FROM edges
    ), seeds AS (
        SELECT user_id FROM (SELECT DISTINCT src AS user_id FROM und)
        ORDER BY user_id LIMIT {seeds}
    ), d0 AS MATERIALIZED (
        SELECT user_id, 0 AS dist FROM seeds
    )"""
    ]
    # d{{i}} MATERIALIZED for the same reason as sssp_oracle_sql below:
    # two references per round -> 2^hops re-inlined edge builds otherwise
    for i in range(1, hops + 1):
        sql.append(f"""
    , e{i} AS (
        SELECT u.dst AS user_id, MIN(d.dist + 1) AS dist
        FROM und u JOIN d{i - 1} d ON d.user_id = u.src
        GROUP BY 1
    ), d{i} AS MATERIALIZED (
        SELECT user_id, MIN(dist) AS dist FROM (
            SELECT user_id, dist FROM d{i - 1}
            UNION ALL
            SELECT user_id, dist FROM e{i}
        ) GROUP BY 1
    )""")
    sql.append(f"""
    SELECT user_id, CAST(dist AS BIGINT) AS hops
    FROM d{hops}
    ORDER BY user_id""")
    return "".join(sql)


ORACLES["user_bfs_reach"] = bfs_oracle_sql()


def sssp_oracle_sql(rounds: int = SSSP_ROUNDS) -> str:
    """Unrolled DuckDB restatement of the bounded Bellman-Ford
    expansion: per round a weighted relax (dist + w) over out-edges,
    merged monotonically with current distances — bfs_oracle_sql with
    edge weights."""
    sql = [
        f"""
    WITH {_SQL_COOC_EDGES}, und AS MATERIALIZED (
        SELECT u AS src, v AS dst, w FROM edges
        UNION ALL
        SELECT v AS src, u AS dst, w FROM edges
    ), seeds AS (
        SELECT user_id FROM (SELECT DISTINCT src AS user_id FROM und)
        ORDER BY user_id LIMIT 1
    ), d0 AS MATERIALIZED (
        SELECT user_id, CAST(0 AS BIGINT) AS dist FROM seeds
    )"""
    ]
    # every d{{i}} is MATERIALIZED: d{{i-1}} is referenced twice per
    # round (relax + merge), so plain CTEs would re-inline the whole
    # prefix exponentially (2^rounds copies of the edge build — the
    # recall-oracle lesson applied here from the start)
    for i in range(1, rounds + 1):
        sql.append(f"""
    , e{i} AS (
        SELECT u.dst AS user_id, MIN(d.dist + u.w) AS dist
        FROM und u JOIN d{i - 1} d ON d.user_id = u.src
        GROUP BY 1
    ), d{i} AS MATERIALIZED (
        SELECT user_id, MIN(dist) AS dist FROM (
            SELECT user_id, dist FROM d{i - 1}
            UNION ALL
            SELECT user_id, dist FROM e{i}
        ) GROUP BY 1
    )""")
    sql.append(f"""
    SELECT user_id, CAST(dist AS BIGINT) AS dist
    FROM d{rounds}
    ORDER BY user_id""")
    return "".join(sql)


ORACLES["user_sssp_weighted"] = sssp_oracle_sql()

ORACLES["user_wcc"] = f"""
    WITH RECURSIVE {_SQL_COOC_EDGES}, und AS MATERIALIZED (
        SELECT u AS a, v AS b FROM edges
        UNION ALL
        SELECT v AS a, u AS b FROM edges
    ), reach(node, r) AS (
        SELECT a, a FROM und
        UNION
        SELECT e.a, reach.r FROM und e JOIN reach ON e.b = reach.node
    )
    SELECT node AS user_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach
    GROUP BY 1
    ORDER BY 1
"""

ORACLES["events_cusum_changepoints"] = f"""
    WITH daily AS (
        SELECT event_type, {_DAY} AS day, COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), per_type AS (
        SELECT event_type, COUNT(*) AS n, SUM(x) AS t
        FROM daily GROUP BY 1
    ), d AS (
        SELECT daily.event_type, daily.day,
               CAST(daily.x AS BIGINT) AS n_events,
               CAST(p.n * daily.x - p.t AS BIGINT) AS dev_scaled
        FROM daily JOIN per_type p USING (event_type)
    ), ps AS (
        SELECT *,
               SUM(dev_scaled) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS p
        FROM d
    )
    SELECT event_type, day, n_events, dev_scaled,
           CAST(p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY day
                                          ROWS UNBOUNDED PRECEDING))
                AS BIGINT) AS cusum_scaled
    FROM ps
    ORDER BY event_type, day
"""

ORACLES["events_rolling_wau"] = f"""
    WITH ud AS (
        SELECT DISTINCT user_id, {_DAY} AS day
        FROM events WHERE user_id IS NOT NULL
    ), days AS (
        SELECT DISTINCT day FROM ud
    ), contrib AS (
        SELECT user_id, day + CAST(i AS INTEGER) AS report_day
        FROM ud, UNNEST(range(0, {WAU_WINDOW_DAYS})) AS t(i)
    ), wau AS (
        SELECT d.day AS report_day, COUNT(DISTINCT c.user_id) AS wau
        FROM contrib c JOIN days d ON c.report_day = d.day
        GROUP BY 1
    ), dau AS (
        SELECT day AS report_day, COUNT(DISTINCT user_id) AS dau
        FROM ud GROUP BY 1
    )
    SELECT d.report_day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST((CAST(d.dau AS HUGEINT) * 2000000 + w.wau)
                // (2 * w.wau) AS DOUBLE) / 1000000 AS stickiness
    FROM dau d JOIN wau w USING (report_day)
    ORDER BY 1
"""

ORACLES["user_decayed_activity"] = f"""
    WITH daily AS (
        SELECT user_id, {_DAY} AS day, COUNT(*) AS x
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2
    ), anchor AS (
        SELECT MAX(day) AS d_max FROM daily
    ), recent AS (
        SELECT d.user_id, d.day, d.x,
               CAST(a.d_max - d.day AS BIGINT) AS age
        FROM daily d, anchor a
        WHERE a.d_max - d.day <= {DECAY_HORIZON_DAYS}
    )
    SELECT user_id,
           MAX(day) AS last_active_day,
           CAST(COUNT(*) AS BIGINT) AS n_recent_days,
           CAST(SUM(x * (CAST(1 AS BIGINT) << ({DECAY_HORIZON_DAYS} - age)))
                AS BIGINT) AS decayed_score
    FROM recent
    GROUP BY 1
    ORDER BY 1
"""

ORACLES["event_trigram_paths"] = f"""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events WHERE user_id IS NOT NULL
    ), tri AS (
        SELECT event_type AS step1,
               LEAD(event_type, 1) OVER w AS step2,
               LEAD(event_type, 2) OVER w AS step3
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM tri
    WHERE step2 IS NOT NULL AND step3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, step1, step2, step3
    LIMIT {TRIGRAM_TOP}
"""

ORACLES["event_interarrival_stats"] = """
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events WHERE user_id IS NOT NULL
    ), gaps AS (
        SELECT event_type,
               epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS gap_ms
        FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_ms) AS BIGINT) AS min_gap_ms,
           ROUND(quantile_cont(gap_ms, 0.5), 6) AS p50_gap_ms,
           ROUND(quantile_cont(gap_ms, 0.95), 6) AS p95_gap_ms,
           CAST(MAX(gap_ms) AS BIGINT) AS max_gap_ms
    FROM gaps
    WHERE gap_ms IS NOT NULL
    GROUP BY 1
    ORDER BY 1
"""

ORACLES["events_dow_seasonality"] = f"""
    WITH daily AS (
        SELECT event_type, {_DAY} AS day, COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), dd AS (
        SELECT event_type, day, x, CAST(isodow(day) - 1 AS BIGINT) AS dow
        FROM daily
    ), prof AS (
        SELECT event_type, dow, COUNT(*) AS dow_days, SUM(x) AS dow_total
        FROM dd GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.dow,
           CAST(d.x AS BIGINT) AS n_events,
           CAST(p.dow_days AS BIGINT) AS dow_days,
           CAST(p.dow_total AS BIGINT) AS dow_total,
           CAST(d.x * p.dow_days - p.dow_total AS BIGINT) AS dev_scaled
    FROM dd d JOIN prof p USING (event_type, dow)
    ORDER BY d.event_type, d.day
"""

ORACLES["events_bigram_lm_scores"] = """
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events WHERE user_id IS NOT NULL
    ), tr AS (
        SELECT user_id, event_type, next_type FROM (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM e
        ) WHERE next_type IS NOT NULL
    ), corpus AS (
        SELECT event_type, next_type, COUNT(*) AS c FROM tr GROUP BY 1, 2
    ), pu AS (
        SELECT t.user_id,
               COUNT(*) AS n_transitions,
               SUM(c.c) AS mass,
               MIN(c.c) AS min_c,
               COUNT(DISTINCT t.event_type || '->' || t.next_type) AS n_distinct
        FROM tr t JOIN corpus c USING (event_type, next_type)
        GROUP BY 1
    )
    SELECT user_id,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST((CAST(mass AS HUGEINT) * 2000000 + n_transitions)
                // (2 * n_transitions) AS DOUBLE) / 1000000 AS avg_transition_freq,
           CAST(min_c AS BIGINT) AS min_transition_count,
           CAST(n_distinct AS BIGINT) AS n_distinct_transitions
    FROM pu
    ORDER BY user_id
"""

QUERIES = {
    "event_association_rules": event_association_rules,
    "events_funnel": events_funnel,
    "events_retention_cohorts": events_retention_cohorts,
    "session_funnel": session_funnel,
    "events_daily_trend": events_daily_trend,
    "events_daily_anomalies": events_daily_anomalies,
    "event_transition_counts": event_transition_counts,
    "user_state_scd2": user_state_scd2,
    "events_state_enrichment": events_state_enrichment,
    "user_cooccurrence_triangles": user_cooccurrence_triangles,
    "user_pagerank": user_pagerank,
    "user_pagerank_weighted": user_pagerank_weighted,
    "user_clustering_coefficient": user_clustering_coefficient,
    "user_communities": user_communities,
    "user_bfs_reach": user_bfs_reach,
    "user_sssp_weighted": user_sssp_weighted,
    "user_wcc": user_wcc,
    "user_kcore": user_kcore,
    "user_link_prediction": user_link_prediction,
    "user_event_salsa": user_event_salsa,
    "cooc_degree_histogram": cooc_degree_histogram,
    "events_cusum_changepoints": events_cusum_changepoints,
    "events_dow_seasonality": events_dow_seasonality,
    "events_holt_forecast": events_holt_forecast,
    "user_sequence_patterns": user_sequence_patterns,
    "user_decayed_activity": user_decayed_activity,
    "events_rolling_wau": events_rolling_wau,
    "event_trigram_paths": event_trigram_paths,
    "event_interarrival_stats": event_interarrival_stats,
    "events_bigram_lm_scores": events_bigram_lm_scores,
}
