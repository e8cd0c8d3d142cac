"""Scale-strategy demos the 100 TB contract names explicitly: bucketed
co-located joins (no exchange on either side) and salted skew joins
(equal results, hot key spread over salt reducers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_log_lakehouse_spark.functions.skew import salted_join
from mini_log_lakehouse_spark.sources.registry import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """bucketBy co-location: writing both fact tables bucketed+sorted on
    the join key lets the join run with ZERO shuffle — each task reads
    matching buckets. This is the pre-partitioning story for repeated
    100 TB fact-fact joins (pay the shuffle once at write time)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").bucketBy(
        4, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("b_orders")
    load_table(spark, sf_dir, "lineitem").write.mode("overwrite").bucketBy(
        4, "l_orderkey"
    ).sortBy("l_orderkey").saveAsTable("b_lineitem")

    joined = (
        # hint('merge') forces SMJ — at test scale the tables fall under
        # the broadcast threshold, which would hide the property we're
        # asserting (at 100 TB fact-fact size, SMJ is what Spark picks)
        spark.table("b_lineitem")
        .hint("merge")
        .join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(joined)
    join_part = plan.split("HashAggregate")[-1]  # below the final agg
    assert "SortMergeJoin" in plan
    # the join's children must be bucket scans, not exchanges
    assert "Exchange hashpartitioning" not in join_part
    # and it must produce the same result as the plain join
    plain = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))


def test_top_customers_bucketed_path(spark, sf_dir, monkeypatch):
    """The production bucketed path (registry.load_table_bucketed wired
    into top_customers_by_revenue): with lineitem/orders bucketed on
    orderkey, the orderkey-grain aggregate AND the fact-fact join run
    with zero exchange — the only hash exchange left in the plan is the
    tiny custkey-grain re-aggregate. Results must equal the cold path."""
    from mini_log_lakehouse_spark.operators.relational import (
        top_customers_by_revenue,
    )

    plain = top_customers_by_revenue(spark, sf_dir).collect()

    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    df = top_customers_by_revenue(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    # exactly one shuffle: the custkey-grain aggregate (broadcast
    # exchanges for the 10-row name probe don't count)
    assert plan.count("Exchange hashpartitioning") == 1
    # the join subtree (below the custkey HashAggregates) is exchange-free
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Exchange hashpartitioning" not in join_part
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in plain]


def test_salted_join_matches_plain_join(spark):
    """Salting must be semantics-free: same rows out, key spread in."""
    # skewed big side: 10k rows of one hot key + a tail
    big = spark.range(0, 10_000).select(
        F.when(F.col("id") < 9_000, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("row_id"),
    )
    small = spark.createDataFrame(
        [(1, "hot"), (9_500, "cold")], ["k", "label"]
    )
    salted = salted_join(big, small, "k", salt=8, salt_source="row_id")
    plain = big.join(small, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    big = spark.range(0, 8_000).select(
        F.lit(1).alias("k"), F.col("id").alias("row_id")
    )
    # the derived salt must actually use multiple values
    salts = (
        big.withColumn("_salt", F.pmod(F.xxhash64("row_id"), F.lit(8)).cast("int"))
        .select("_salt")
        .distinct()
        .count()
    )
    assert salts == 8


def test_salted_join_rejects_bad_salt(spark):
    big = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(big, big, "k", salt=0)


def test_salted_join_rejects_small_preserving_forms(spark):
    big = spark.createDataFrame([(1, "x")], ["k", "v"])
    small = spark.createDataFrame([(1, "y")], ["k", "w"])
    for how in ("right", "full", "right_outer"):
        with pytest.raises(ValueError, match="big-side-preserving"):
            salted_join(big, small, "k", salt=4, how=how)
    # big-preserving forms stay accepted
    assert salted_join(big, small, "k", salt=4, how="left").count() == 1


def test_domain_cap_pushes_window_group_limit(spark, sf_dir):
    """doc_domain_cap's literal rank <= CAP predicate must push a
    WindowGroupLimit below the exchange, so each task keeps at most CAP
    rows per source before any shuffle."""
    from mini_log_lakehouse_spark.operators import sampling

    plan = _plan(sampling.doc_domain_cap(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_cms_probe_join_broadcasts_the_sketch(spark, sf_dir):
    """The CMS point-query probe joins against the DEPTH*WIDTH-row
    sketch; that side must broadcast — shuffling the keys against a
    128-row table would be a scale bug."""
    from mini_log_lakehouse_spark.operators import extensions

    plan = _plan(extensions.events_cms_user_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_int8_quantize_is_map_only(spark, sf_dir):
    """embedding_int8_quantize must not shuffle: the per-vector scale is
    an array fold, not an aggregate. Only the presentation sort may add
    a range exchange."""
    from mini_log_lakehouse_spark.operators import similarity

    plan = _plan(similarity.embedding_int8_quantize(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan


def test_lang_mixture_broadcasts_targets(spark, sf_dir):
    """Per-language targets are language-grain (a handful of rows) and
    must broadcast into the corpus-side rank filter."""
    from mini_log_lakehouse_spark.operators import sampling

    plan = _plan(sampling.doc_lang_mixture(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_events_keeps_normalized_timestamp(spark, sf_dir, monkeypatch):
    """The bucketed warehouse copy must be built from the NORMALIZED
    frame: events.ts ships as nanos-int64/NTZ in some testdata flavors
    and must come back as a session-tz timestamp, exactly like every
    load_table consumer sees."""
    from mini_log_lakehouse_spark.sources.registry import (
        load_table,
        load_table_bucketed,
    )

    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    bucketed = load_table_bucketed(spark, sf_dir, "events", "user_id")
    plain = load_table(spark, sf_dir, "events")
    assert dict(bucketed.dtypes)["ts"] == dict(plain.dtypes)["ts"] == "timestamp"
    assert bucketed.count() == plain.count()


def test_pagerank_iteration_plan_shape(spark):
    """Per-iteration plan evidence for the graph-iteration loop: one
    rank update compiles to the edge⋈rank join plus ONE shuffled
    aggregate with a map-side partial (partial_sum below the
    exchange), and no cartesian product anywhere."""
    from mini_log_lakehouse_spark.operators import funnels

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "u long, v long"
    )
    und = edges.selectExpr("u AS src", "v AS dst", "1 AS w").unionAll(
        edges.selectExpr("v AS src", "u AS dst", "1 AS w")
    )
    stren = und.groupBy("src").agg(
        F.sum("w").alias("st"), F.count(F.lit(1)).alias("deg")
    )
    und_st = und.join(stren.select("src", "st"), "src")
    ranks = stren.select(F.col("src").alias("user_id"), F.lit(10**10).alias("r"))
    plan = _plan(funnels._pr_iteration(und_st, ranks, 123))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_sum" in plan  # map-side combine on the contribs agg
    # bounded exchange count: join inputs + contrib agg + damp join
    assert plan.count("Exchange hashpartitioning") <= 5, plan


def test_sssp_relax_round_plan_shape(spark):
    """Per-round plan evidence for the weighted-SSSP loop: one
    relaxation compiles to the edge⋈frontier join plus ONE shuffled
    node-grain MIN with a map-side partial (partial_min below the
    exchange), no cartesian product — the same cost profile asserted
    for the pagerank iteration."""
    from mini_log_lakehouse_spark.operators import funnels

    edges = spark.createDataFrame(
        [(i, i + 1, 2) for i in range(100)], "u long, v long, w long"
    )
    und = edges.selectExpr("u AS src", "v AS dst", "w").unionAll(
        edges.selectExpr("v AS src", "u AS dst", "w")
    )
    dist = spark.createDataFrame([(0, 0)], "user_id long, dist long")
    cand = und.join(dist, und.src == dist.user_id).select(
        F.col("dst").alias("user_id"),
        (F.col("dist") + F.col("w")).alias("dist"),
    )
    relaxed = (
        dist.unionAll(cand).groupBy("user_id").agg(F.min("dist").alias("dist"))
    )
    plan = _plan(relaxed)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_min" in plan  # map-side combine on the node-grain MIN
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_substring_spans_plan_no_cartesian(spark):
    """The span matcher's only pair-producing operator is the HASH join
    on the window fingerprint (plus the semi-join eligibility gate) —
    never a cartesian/nested-loop pair enumeration, which is the
    difference between O(corpus²) and O(Σ occurrences² per window)."""
    from mini_log_lakehouse_spark.operators.spans import substring_spans

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(30))) for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(substring_spans(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "partial_count" in plan or "partial_" in plan  # map-side combines


def test_link_prediction_plan_no_cartesian(spark):
    """Candidate generation is the wedge join on the shared middle
    vertex plus an anti-join and two degree joins — no cartesian pair
    enumeration, and the final top-N compiles to a TakeOrdered."""
    from mini_log_lakehouse_spark.operators import funnels

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "u long, v long"
    )
    plan = _plan(funnels.link_prediction(edges))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "TakeOrderedAndProject" in plan


def test_kmv_sketch_pushes_window_group_limit(spark, sf_dir):
    """The KMV bottom-k ranking must run under WindowGroupLimit: each
    task keeps at most k hashes per group BELOW the exchange — the
    per-partition sketch whose shuffle union IS the KMV merge. Without
    it every distinct hash would ship to the window stage."""
    from mini_log_lakehouse_spark.operators import extensions

    plan = _plan(extensions.lineitem_kmv_distinct_orders(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_skyline_plan_is_join_free_and_days_grain(spark, sf_dir):
    """orders_skyline never joins: the only SinglePartition exchange
    feeds the global window AFTER the per-day collapse, so the serial
    section sees days-grain candidate rows, not orders."""
    from mini_log_lakehouse_spark.operators.relational import orders_skyline

    plan = _plan(orders_skyline(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange SinglePartition") == 1
    # the plan string prints top-down, so everything AFTER the single-
    # partition marker is upstream of it: the (day, price) collapse
    # must happen there, before any serial section
    upstream = plan.split("Exchange SinglePartition")[1]
    assert "HashAggregate" in upstream


def test_sequence_patterns_event_grain_is_one_pass(spark, sf_dir):
    """user_sequence_patterns touches event grain once (the occurrence
    window + min/max aggregate); the pattern joins run at user-grain
    inputs and the user-count probe is a broadcast nested loop of a
    single-row aggregate, never a data-sized cartesian."""
    from mini_log_lakehouse_spark.operators.funnels import (
        user_sequence_patterns,
    )

    plan = _plan(user_sequence_patterns(spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan


def test_table_cache_cap_skips_persist_for_big_sources(spark, sf_dir, monkeypatch):
    """Warm mode must NOT pin tables above _TABLE_CACHE_MAX_BYTES: the
    r10 sf30 contamination came from pinning the 3 GB lineitem, whose
    near-full heap turned every GC into a multi-second stall under OTHER
    queries' timings. Below the cap tables persist as before."""
    from mini_log_lakehouse_spark.session import forget
    from mini_log_lakehouse_spark.sources import registry

    monkeypatch.setenv("SPARK_GRAFT_CACHE_TABLES", "1")
    key = ("registry.table", sf_dir, "lineitem")
    # cap below lineitem's size -> must not persist
    monkeypatch.setattr(registry, "_TABLE_CACHE_MAX_BYTES", 1)
    forget(spark, key)
    df = registry.load_table(spark, sf_dir, "lineitem")
    assert df.storageLevel.useMemory is False
    # memoized anyway (skip the size walk on repeat loads)
    assert registry.load_table(spark, sf_dir, "lineitem") is df
    # cap above -> persists, and serves the same rows
    monkeypatch.setattr(registry, "_TABLE_CACHE_MAX_BYTES", 1 << 40)
    forget(spark, key)
    cached = registry.load_table(spark, sf_dir, "lineitem")
    assert cached.storageLevel.useMemory is True
    assert cached.count() == df.count()
    cached.unpersist()
    forget(spark, key)


def test_bucketed_table_reattaches_across_sessions(spark, sf_dir, monkeypatch):
    """'Pay the shuffle once at write time' must mean once per CORPUS:
    when the catalog forgets the bucketed table (a new session) but the
    warehouse files survive, load_table_bucketed reattaches them as an
    external bucketed table — same files (no rewrite), same
    zero-exchange plan, same rows — instead of re-running the CTAS."""
    import os

    from mini_log_lakehouse_spark.session import forget
    from mini_log_lakehouse_spark.sources import registry

    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    name, key = "orders", "o_orderkey"
    df1 = registry.load_table_bucketed(spark, sf_dir, name, key)
    n = df1.count()
    import hashlib

    from mini_log_lakehouse_spark.session import default_parallelism

    tbl = (
        f"bkt_{name}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_{default_parallelism()}"
    )
    loc = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), tbl
    )
    files_before = {
        f: os.path.getmtime(os.path.join(loc, f))
        for f in os.listdir(loc)
        if f.endswith(".parquet")
    }
    assert files_before
    # simulate a fresh session: catalog forgets, files survive — both
    # write paths now create the table EXTERNAL at an explicit LOCATION,
    # so DROP TABLE uniformly leaves the warehouse files in place (the
    # pre-r12 managed rebuild path deleted them on DROP, which this test
    # had to stash around)
    df1.unpersist()
    spark.sql(f"DROP TABLE {tbl}")
    assert os.path.exists(os.path.join(loc, "_SUCCESS")), (
        "external bucketed table files must survive DROP TABLE"
    )
    forget(spark, ("registry.bucketed", sf_dir, name))

    df2 = registry.load_table_bucketed(spark, sf_dir, name, key)
    files_after = {
        f: os.path.getmtime(os.path.join(loc, f))
        for f in os.listdir(loc)
        if f.endswith(".parquet")
    }
    # reattached, not rebuilt: identical files, untouched mtimes
    assert files_after == files_before
    assert df2.count() == n
    # the reattached scan still satisfies the key distribution: a
    # groupBy on the bucket key plans with NO hash exchange
    agg = df2.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
    assert "Exchange hashpartitioning" not in _plan(agg)
    # cleanup for other tests
    df2.unpersist()
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    forget(spark, ("registry.bucketed", sf_dir, name))
    import shutil

    shutil.rmtree(loc, ignore_errors=True)
