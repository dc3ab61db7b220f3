"""Plan audits: assert the scale-critical physical-plan properties
(SURVEY.md §4) on the real queries, so a de-optimization is a test
failure, not a 100x slowdown discovered at scale.

Each test states the 100 TB consequence of the property it guards.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
from hadoop_digit_recognition_spark.plans import (
    explain_formatted,
    has_broadcast_hash_join,
    has_cartesian_product,
    has_partial_aggregate,
    pushed_filters,
    read_schema_columns,
)

from .conftest import SF_ORACLE


def test_q6_filter_pushdown_and_pruning(spark):
    """Filters must reach the parquet scan and only referenced columns may
    be read — at 100 TB this is the difference between scanning 4 columns
    of one year and scanning every byte of lineitem."""
    df = SPARK_QUERIES["q6_forecast_revenue"](spark, SF_ORACLE)
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf), pf
    assert any("l_discount" in f for f in pf), pf
    (cols,) = read_schema_columns(df, table_hint="lineitem")
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount",
                         "l_shipdate"}, cols


def test_star_join_broadcasts_dimensions(spark):
    """The nation/region dimensions must come in as broadcast hash joins:
    shuffling 100 TB of fact rows to co-locate with a kilobyte dimension
    is the classic scale failure."""
    df = SPARK_QUERIES["join_star_nation_revenue"](spark, SF_ORACLE)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian_product(df)


def test_q1_partial_aggregation(spark):
    """groupBy must partial-aggregate before the exchange — the combiner
    the reference never configured (O1): without it the shuffle carries
    numCase*numdims*numhid records instead of one per key per task."""
    df = SPARK_QUERIES["q1_pricing_summary"](spark, SF_ORACLE)
    assert has_partial_aggregate(df)


def test_rbm_gradient_shuffle_is_combined(spark):
    """The CD-1 explode->groupBy gradient path gets the map-side combine
    automatically (the exact fix for the reference's 2.35e10-record
    shuffle, SURVEY.md O1)."""
    df = SPARK_QUERIES["rbm_cd1_epoch"](spark, SF_ORACLE)
    assert has_partial_aggregate(df)


def test_lsh_has_no_cartesian_product(spark):
    """MinHash LSH exists to replace all-pairs comparison; its plan must
    contain equi-joins only."""
    df = SPARK_QUERIES["dedup_minhash_lsh"](spark, SF_ORACLE)
    assert not has_cartesian_product(df)


def test_topk_broadcasts_query_side(spark):
    """Exact top-k broadcasts the (small) query set; the candidate scan
    must never shuffle."""
    df = SPARK_QUERIES["sim_topk_cosine"](spark, SF_ORACLE)
    txt = explain_formatted(df)
    assert "BroadcastNestedLoopJoin" in txt or "BroadcastHashJoin" in txt, txt


def test_scan_filter_project_reads_minimum(spark):
    """Column pruning on the simplest scan query."""
    df = SPARK_QUERIES["scan_filter_project"](spark, SF_ORACLE)
    for cols in read_schema_columns(df):
        assert len(cols) <= 6, cols


def test_no_python_udfs_in_relational_paths(spark):
    """Relational/text/dedup queries must stay JVM-side: BatchEvalPython
    (row-at-a-time Python) must not appear anywhere; the sanctioned
    Python surface (mapInArrow for CD-1) is Arrow-batched."""
    for name in ["q1_pricing_summary", "join_star_nation_revenue",
                 "dedup_minhash_lsh", "text_tfidf_top_terms",
                 "window_session", "sim_topk_cosine"]:
        txt = explain_formatted(SPARK_QUERIES[name](spark, SF_ORACLE))
        assert "BatchEvalPython" not in txt, name


def test_quality_filter_approx_has_no_window_sort(spark):
    """The approx quantile filter exists precisely to kill the exact
    twin's single-partition global window (text.py text_quality_filter):
    its plan must contain no Window and no global Sort — just a sketch
    aggregate, a broadcast of the one-row threshold, and a narrow
    filter."""
    df = SPARK_QUERIES["text_quality_filter_approx"](spark, SF_ORACLE)
    plan = explain_formatted(df)
    assert "Window" not in plan, plan
    assert "Sort " not in plan.replace("SortAggregate", ""), plan
    # threshold folds back as a literal: the returned plan is a pure
    # narrow scan+filter — no join (the one Exchange is load_parallel's
    # documented single-split repartition, not a shuffle on data keys)
    assert "Join" not in plan, plan
    # and the exact twin really does have the window (oracle-twin pairing)
    exact = SPARK_QUERIES["text_quality_filter"](spark, SF_ORACLE)
    assert "Window" in explain_formatted(exact)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE must split the planted hot key's shuffle partition at runtime
    (skew=true in the FINAL adaptive SMJ) — the evidence that at 100 TB a
    skewed fact-fact join self-heals without manual salting. The salted
    twins (join_skew_salted / agg_skew_salted_twophase) remain the
    pattern for skew AQE can't fix (post-combine state skew, both-side
    replication limits)."""
    from hadoop_digit_recognition_spark.operators.physical import aqe_skew_join_demo

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        df = aqe_skew_join_demo(spark)
        assert df.collect() == []  # executes the adaptive plan to the end
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected(spark):
    """With the runtime bloom filter enabled, the selective orders side
    must inject might_contain(bloomFilter) into the lineitem side of the
    SMJ — the semi-join reduction that prunes the fact shuffle. Values
    must be identical with the filter on and off."""
    from hadoop_digit_recognition_spark.operators.physical import (
        runtime_bloom_join_demo)

    tuned = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        df = runtime_bloom_join_demo(spark, SF_ORACLE)
        txt = explain_formatted(df)
        assert "bloom_filter_agg" in txt, txt[:3000]
        assert "might_contain" in txt, txt[:3000]
        with_filter = df.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try:
        without = runtime_bloom_join_demo(spark, SF_ORACLE).collect()
    finally:
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    assert [tuple(r) for r in with_filter] == [tuple(r) for r in without]


def test_q3_topk_and_broadcast_shape(spark):
    """Q3 must end in TakeOrderedAndProject (no global sort materializes
    for ORDER BY..LIMIT) with the filtered dimension broadcast."""
    txt = explain_formatted(SPARK_QUERIES["q3_shipping_priority"](
        spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in txt
    assert "BroadcastHashJoin" in txt
    assert "CartesianProduct" not in txt


def test_q13_outer_join_predicate_pushed_to_right_scan(spark):
    """The predicate inside the LEFT JOIN condition applies to the
    null-producing side only, so Catalyst may (and does) push it into
    the orders scan — while the join itself must stay LeftOuter (a
    filter above the join would wrongly drop customers)."""
    txt = explain_formatted(SPARK_QUERIES["q13_customer_distribution"](
        spark, SF_ORACLE))
    assert "LeftOuter" in txt
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in txt


def test_q19_or_predicates_pushed_to_both_scans(spark):
    """From the OR-of-ANDs spanning both join sides, Catalyst must
    derive each side's implied disjunction and push it into that side's
    parquet scan — the reason a Q19-shaped query doesn't degenerate to
    scan-everything-then-filter."""
    import re

    txt = explain_formatted(SPARK_QUERIES["q19_disjunctive_join"](
        spark, SF_ORACLE))
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", txt))
    assert "Or(And(GreaterThanOrEqual(l_quantity,10.0)" in pushed
    assert "Or(And(EqualTo(p_type,PROMO)" in pushed


def test_lateral_decorrelates_to_window(spark):
    """The correlated LATERAL top-k must decorrelate into a per-key
    window plan, never a per-outer-row nested-loop execution."""
    txt = explain_formatted(SPARK_QUERIES["lateral_topk_per_group"](
        spark, SF_ORACLE))
    assert "Window" in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_global_sort_is_range_partitioned(spark):
    """Total-order sort must plan as rangepartitioning exchange +
    per-partition Sort — never a single-partition global sort."""
    from .conftest import SF_ORACLE

    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    df = SPARK_QUERIES["sort_global_range_partitioned"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:2000]
    assert "Sort" in plan


def test_distribute_sort_by_plan(spark):
    """DISTRIBUTE BY must produce hashpartitioning (not range) and SORT
    BY a sort with global=false — partition-local order only."""
    from .conftest import SF_ORACLE

    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    df = SPARK_QUERIES["sql_distribute_sort_by"](spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(l_suppkey" in plan, plan[:2000]
    assert "rangepartitioning" not in plan.lower(), plan[:2000]
    assert "Sort [l_suppkey" in plan and "false, 0" in plan, plan[:2000]


def test_knn_graph_plan_stays_bucketed(spark):
    """The converged default kNN-graph build is exempt from the generic
    plan-hygiene sweep (it runs its adaptive count at construction —
    registry EAGER_QUERIES), so its join-shape guarantees are asserted
    here directly: the returned plan must contain NO cartesian product
    or broadcast-nested-loop join (the bucket self-joins are equi-joins
    on `bkt`), and no row-at-a-time Python."""
    from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES

    txt = explain_formatted(
        SPARK_QUERIES["sim_knn_graph"](spark, SF_ORACLE))
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    assert "BatchEvalPython" not in txt


def test_codegen_cache_keeps_the_working_set(spark):
    """A pass of the iterative driver loops needs more generated classes
    than Spark's default 100-entry codegen cache holds, and an evicting
    cache recompiles, reloads and re-JITs every class on every pass.
    200 distinct one-row projections are compiled on the driver
    (executedPlan().execute() compiles without running a job); building
    the first one again must hit the cache. Guava splits the cap over 4
    segments, so at the default cap the first class is evicted."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        return cm.METRIC_COMPILATION_TIME().getCount()

    def build(i):
        spark.range(1).selectExpr(f"id * {i} + 7919 AS v") \
            ._jdf.queryExecution().executedPlan().execute()

    start = compiles()
    for i in range(7919, 7919 + 200):
        build(i)
    assert compiles() - start >= 200
    before = compiles()
    build(7919)
    assert compiles() == before


def test_broadcast_relation_does_not_pin_a_heap_sized_page(spark):
    """Spark sizes its Tungsten page from the heap (32 MB at this
    session's 8g heap and 8 cores), and a hashed broadcast relation keeps
    its page in the driver's storage memory until its plan is collected.
    The session fixes pages at 1 MB. The build side is string-keyed: a
    long key builds a LongHashedRelation, which holds about 1 MB at any
    page size."""
    mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert mm.pageSizeBytes() <= 1 << 20

    small = spark.range(10).selectExpr("cast(id AS string) k", "id * 2 v")
    big = spark.range(1000).selectExpr("cast(id % 10 AS string) k")
    df = big.join(F.broadcast(small), "k")
    assert "BroadcastHashJoin" in \
        df._jdf.queryExecution().executedPlan().toString()
    before = mm.storageMemoryUsed()
    df.write.format("noop").mode("overwrite").save()
    assert mm.storageMemoryUsed() - before < 4 << 20
