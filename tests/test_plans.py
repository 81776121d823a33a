"""Plan regression tests: the scale-critical physical-plan properties
(pushdown reached the scan, dimension joins broadcast, no cartesian
products, whole-stage codegen present) — the `.explain` discipline."""

from __future__ import annotations

from bishe_gpu_database_spark.operators import relational as R
from bishe_gpu_database_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    formatted_plan,
)
from tests.conftest import SF_SMALL


def test_scan_project_filter_pushdown(spark):
    plan = formatted_plan(R.scan_project_filter(spark, SF_SMALL))
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, plan
    # Projection pruned to exactly the 5 referenced columns at the scan.
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for col in ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"]:
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_q1_pushdown_and_codegen(spark):
    df = R.q1_pricing_summary(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan and "IsNotNull(l_shipdate)" in plan
    df.collect()  # materialize so AQE finalizes the physical plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final, final  # whole-stage-codegen stage markers
    # Partial aggregation before the exchange (map-side combine).
    assert plan.count("HashAggregate") >= 2


def test_broadcast_dimension_joins(spark):
    assert_broadcast_join(R.join_broadcast_inner(spark, SF_SMALL))
    assert_broadcast_join(R.q5_local_supplier_volume(spark, SF_SMALL))


def test_no_cartesian_in_range_join(spark):
    # Equi-prefix keeps the range join a hash/SMJ, not a cartesian.
    assert_no_cartesian(R.join_range_theta(spark, SF_SMALL))


def test_topn_uses_take_ordered(spark):
    plan = formatted_plan(R.sort_limit_topn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan


def test_partition_pruning_reaches_scan(spark):
    from bishe_gpu_database_spark.sources import formats as S

    plan = formatted_plan(S.source_partition_pruning(spark, SF_SMALL))
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "ship_year" in scan[0], plan  # pruned on the dir column


def test_bucketed_join_has_no_shuffle(spark):
    from bishe_gpu_database_spark.sources import formats as S

    # Force the large-large strategy (at test scale AQE would broadcast).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = S.source_bucketed_join(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # Bucket layout satisfies the join distribution: the ONLY shuffle
        # is the post-join groupBy — none between scan and join.
        assert plan.count("Exchange hashpartitioning") <= 1, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dynamic_partition_pruning_subquery(spark):
    from bishe_gpu_database_spark.sources import formats as S

    plan = formatted_plan(S.source_dpp_join(spark, SF_SMALL))
    # Catalyst injected a runtime pruning subquery on the partition column.
    assert "dynamicpruning" in plan.lower(), plan


def test_minhash_sig_is_map_side_only(spark):
    """The signature query must be shuffle-free: the re-laid-out
    ``documents`` scan already spans every core, and the minhash math is
    map-side."""
    from bishe_gpu_database_spark.operators import dedup as D

    plan = formatted_plan(D.dedup_minhash_signature(spark, SF_SMALL))
    tree = plan.split("== Physical Plan ==")[-1].split("(1) ")[0]
    assert tree.count("Exchange") == 0, plan
    # Filters must be the cheap zero-shingle POLICY guard (size(xs) > 0,
    # r4) only — InferFiltersFromGenerate must not clone the md5/conv
    # signature expression into a filter on the scan (that clone
    # re-evaluates the whole minhash per element: measured 470s vs 3s).
    for line in plan.splitlines():
        if line.strip().startswith("Condition"):
            assert "md5" not in line and "conv(" not in line, line


def test_shuffle_hash_hint_forces_shj(spark):
    plan = formatted_plan(R.join_shuffle_hash_hint(spark, SF_SMALL))
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_geo_joins_are_equi_joins(spark):
    """The spatial distance/containment joins must plan as hash or
    sort-merge equi-joins on the cell keys — never BroadcastNestedLoop
    or CartesianProduct (the naive range-join physical fallback)."""
    from bishe_gpu_database_spark.operators import geo as G

    for q in (G.geo_neighbor_pairs, G.geo_box_containment):
        plan = formatted_plan(q(spark, SF_SMALL))
        assert_no_cartesian(q(spark, SF_SMALL))
        assert "BroadcastNestedLoop" not in plan, plan
        # candidate generation keys on the grid cell columns
        assert "cx" in plan and "cy" in plan


def test_fastss_variant_join_is_equi(spark):
    from bishe_gpu_database_spark.operators import dedup as D

    df = D.dedup_editdist_fastss(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert_no_cartesian(df)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "variant" in plan


def test_global_rank_queries_have_no_window_and_no_single_partition_sort(spark):
    """The r4 partition-offset rank rewrites: the distributed sort runs
    inside the pinned checkpoint (range repartition + in-partition sort),
    and (pid, local rank) decode from monotonically_increasing_id — so
    the FINAL plan must contain NO Window node at all and no Sort/Window
    over a single-partition exchange (the positive twin of the sweep's
    red flag, locking the mechanism itself)."""
    from bishe_gpu_database_spark.operators.pipeline import pipeline_balanced_shards
    from bishe_gpu_database_spark.operators.tpch_extra import mart_rfm_segments
    from bishe_gpu_database_spark.plans import (
        simple_plan,
        single_partition_sort_offenders,
    )

    for fn in (R.window_ntile_cumedist, pipeline_balanced_shards):
        plan = simple_plan(fn(spark, SF_SMALL))
        assert "Window" not in plan, plan
        assert single_partition_sort_offenders(plan) == [], plan

    # r5: mart_rfm_segments fused onto ONE grouped_rank whose only Window
    # nodes ride the per-(pid, axis) CELL aggregate — bounded at
    # #partitions + #axes rows by range contiguity, never the fact. The
    # data-aware census proves it: every window input is cell-sized and
    # no single-partition sort exists.
    from bishe_gpu_database_spark.plans import fact_windows

    df = mart_rfm_segments(spark, SF_SMALL)
    assert single_partition_sort_offenders(simple_plan(df)) == []
    for w in fact_windows(df):
        assert w["error"] is None and w["n"] <= 200, w  # cell-table-sized
