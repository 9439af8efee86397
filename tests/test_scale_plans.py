"""Physical-plan assertions for the 100 TB design claims: bucketed
co-located joins shuffle nothing, partition pruning reads only the
selected partition, pushdown reaches the parquet scan, and bounded
dims broadcast."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_upc_syllabus_spark.plans import all_specs
from etl_upc_syllabus_spark.plans.relational import (
    _build_join_bucketed_colocated,
    _build_join_dynamic_partition_pruning,
)
from etl_upc_syllabus_spark.session import conf_overrides
from etl_upc_syllabus_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(all_specs()["scan_filter_project"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # projection pruned to the needed columns only
    assert "ReadSchema" in plan and "l_returnflag" not in plan.split("ReadSchema")[1][:400]


def test_bounded_dims_broadcast(spark, sf_dir):
    plan = _plan(all_specs()["join_broadcast_dims"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_never_global_sorts(spark, sf_dir):
    plan = _plan(all_specs()["sort_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"2025-{1 + i % 2}", float(i)) for i in range(100)], "id long, period string, v double"
    )
    out = os.path.join(str(tmp_path), "parted")
    df.write.partitionBy("period").parquet(out)
    read = spark.read.parquet(out).filter(F.col("period") == "2025-1")
    assert read.count() == 50
    plan = _plan(read)
    # the period predicate becomes a partition filter, not a row filter
    assert "PartitionFilters" in plan and "2025-1" in plan


def test_registered_bucketed_join_single_exchange(spark, sf_dir):
    """join_bucketed_colocated: the only exchange in the live plan is
    the final small-group aggregation -- the fact-fact join itself
    reads co-located buckets with no shuffle and no sort. The registry
    fn returns a checkpoint scan, so the plan is read from its
    _build_* companion. The broadcast threshold is disabled to pin the
    SortMergeJoin path: at the tiny test SF Spark rightly prefers
    broadcasting the orders side, but the claim under test is the
    big-big shape (at 100 TB neither fact side broadcasts)."""
    with conf_overrides(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        result, *held = _build_join_bucketed_colocated(spark, sf_dir)
        try:
            plan = _plan(result)
        finally:
            for release in held:
                release()
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the groupBy only
    assert "SelectedBucketsCount" in plan  # both scans are bucket-aware
    # co-located buckets arrive pre-sorted: the only Sort nodes are the
    # SMJ's per-bucket sorts, which bucketed sortBy lets Spark elide
    join_section = plan.split("HashAggregate")[-1]
    assert "Exchange" not in join_section


def test_dynamic_partition_pruning_engages(spark, sf_dir):
    """join_dynamic_partition_pruning: the partitioned fact scan's
    PartitionFilters must carry a dynamicpruningexpression fed by the
    filtered broadcast dim -- i.e. the runtime prunes fact partitions
    by dim attributes the fact does not carry. The live plan comes from
    the _build_* companion and is inspected EXECUTED (DPP subqueries
    resolve at runtime)."""
    result, *held = _build_join_dynamic_partition_pruning(spark, sf_dir)
    try:
        result.collect()
        plan = _plan(result)
    finally:
        for release in held:
            release()
    assert "dynamicpruning" in plan, plan[:1500]
    # and the pruned scan is the ship-month-partitioned copy
    assert "dynamicpruningexpression(ship_ym" in plan


@pytest.mark.slow
def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """bucketBy co-location: joining two tables bucketed on the same key
    plans a SortMergeJoin with NO shuffle exchange on either side. The
    tables live under tmp_path, not the warehouse, and are dropped at
    the end."""
    orders = spark.createDataFrame(
        [(i, f"o{i}") for i in range(1000)], "o_id long, o_name string"
    )
    lines = spark.createDataFrame(
        [(i % 1000, i, float(i)) for i in range(5000)], "o_id long, line long, v double"
    )
    try:
        for name, df in (("b_orders", orders), ("b_lines", lines)):
            df.write.bucketBy(8, "o_id").sortBy("o_id").option(
                "path", str(tmp_path / name)
            ).saveAsTable(name)
        with conf_overrides(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("b_lines").join(spark.table("b_orders"), "o_id")
            plan = _plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
            assert joined.count() == 5000
    finally:
        for name in ("b_orders", "b_lines"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


@pytest.mark.slow
def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering: with a selective filter on the small
    (creation) side of a shuffle join, Spark injects a bloom filter
    into the probe-side scan (BloomFilterMightContain), pruning fact
    rows BEFORE the exchange -- the runtime analog of DPP for non-
    partition keys, and the knob a 100 TB selective join relies on.
    The thresholds are lowered because the local fixture is tiny; on a
    real cluster the defaults (10M rows creation / 10 GB probe) gate
    the same rewrite."""
    with conf_overrides(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        },
    ):
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part").filter(
            F.col("p_partkey") % 97 == 0
        )
        j = li.join(part, li.l_partkey == part.p_partkey).groupBy("p_partkey").count()
        plan = _plan(j)
        assert "might_contain" in plan.lower()
        assert j.count() > 0
