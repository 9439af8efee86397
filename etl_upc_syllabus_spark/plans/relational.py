"""Relational operator battery (SURVEY.md sections 2.2-2.8).

The reference implements only record-at-a-time projections/filters
(reference etl_pipeline.py, etl_infrastructure.py); every operator
class it *lacks* (joins, aggregations, windows, sorts, set ops,
grouping sets, pivot) is declared here as an idiomatic DataFrame/SQL
plan so Catalyst handles pushdown, pruning, join selection, partial
aggregation and AQE. Every query has a DuckDB oracle.

Float-aggregate parity recipe: all monetary/quantity columns in the
fixtures are exactly 2-decimal, so SUMs are computed over
DECIMAL(12,2) casts -- exact integer arithmetic, order-independent,
bit-identical across engines -- and only then cast to DOUBLE for the
output column. AVGs are exact-decimal-sum / count. Never round a
double sum: summation order differs across engines and rounding at a
boundary flips the hash.

Overflow headroom (measured r12, tests/test_decimal_overflow.py):
sum(decimal(12,2)) accumulates in decimal(22,2) -- 10^20 money units,
ample for realistic 100 TB facts (~10^12 rows x ~10^4 prices = 10^16)
but reachable with hostile near-max values. At the boundary the
session default (ANSI on, deliberately not overridden) is LOUD;
ansi=false -- value-identical at gate SFs per the partition sweep --
silently returns NULL there, so a deployment forced onto ansi=false
trades overflow loudness for a magnitude gate on the money column
(shipped: operators.curation.quarantine_magnitude bounded by
sum_headroom_max_abs -- r13, closing VERDICT r12 item 4).

Scale notes are in each docstring: the plans are written so the same
code is the right plan at 100 TB (filters before joins, broadcast for
bounded dims, partial aggregation via groupBy, no collect in any
transform).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..sources.tables import fan_out, load_table, sql_over_views
from ._lifecycle import release_after_materialize
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col: str | Column) -> Column:
    """Lossless decimal view of a 2-decimal double column (exact sums)."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("decimal(12,2)")


def _dsum(expr: Column) -> Column:
    """Exact decimal sum rendered as double (cross-engine stable)."""
    return F.sum(expr).cast("double")


# --------------------------------------------------------------------------
# Aggregations (SURVEY 2.4)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)      AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)      AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*)       AS avg_disc,
           count(*)                                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan filter + 8-agg groupBy. Partial aggregation is "
    "map-side (|flags| x |statuses| groups), so the shuffle moves only "
    "O(groups x partitions) rows at any scale.",
    tags=("agg", "filter"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out (r16): the driver fixture is one parquet row group, so
    # the scan -- and with it the 8-decimal partial aggregation, the
    # measured bulk of this query (~0.7 s of ~0.95 s single-core) --
    # runs as ONE task. The metadata-gated round-robin pre-shuffle
    # spreads the partial agg across cores for the price of shuffling
    # the filtered 7-column rows once (filter + pruning still reach
    # the scan; paired probe 1.08-1.13x, value-identical -- decimal
    # sums are order-independent). No-op at scale (real sources have
    # more splits than cores). The other single-agg fact queries keep
    # the plain scan: for q3/q5/flagship the same experiment measured
    # 0.7-0.9x (their per-row work is lighter, so the extra exchange
    # plus AQE stage barrier costs more than the parallelism buys).
    li = fan_out(_t(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - disc)
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(_dec("l_quantity")).alias("sum_qty"),
            _dsum(_dec("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(disc_price * (F.lit(1) + tax)).alias("sum_charge"),
            (_dsum(_dec("l_quantity")) / n).alias("avg_qty"),
            (_dsum(_dec("l_extendedprice")) / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "agg_distinct",
    """
    SELECT c_mktsegment,
           count(DISTINCT c_nationkey) AS n_nations,
           count(*)                    AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal
    FROM customer GROUP BY c_mktsegment
    """,
    doc="Distinct aggregation: Spark expands to a two-phase plan (distinct "
    "keys first), still fully shuffle-parallel.",
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            (_dsum(_dec("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal"),
        )
    )


@query(
    "agg_rollup",
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*)                        AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="Hierarchical subtotals; Spark plans rollup as Expand + a single "
    "aggregate pass (one shuffle regardless of grouping-set count).",
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level rollup (r16): sum/count are decomposable, so the
    # grouping-set Expand (3x row multiplication) runs over the tiny
    # per-(flag,status) aggregate instead of the whole fact table --
    # the fact scan feeds ONE plain groupBy; paired-sample probe
    # measured 2.07x, value-identical (decimal re-sum is exact and the
    # grand-total row's count is coalesced to 0, which a count(*) over
    # empty input produces and a sum over an empty aggregate does not).
    base = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(_dec("l_quantity")).alias("_s"), F.count(F.lit(1)).alias("_n"))
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_s").cast("double").alias("sum_qty"),
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "agg_cube",
    """
    SELECT coalesce(o_orderstatus, '(all)')   AS orderstatus,
           coalesce(o_orderpriority, '(all)') AS orderpriority,
           count(*)                           AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-level cube (r16, same rewrite as agg_rollup): the 4-set
    # Expand multiplies |status x priority| aggregate rows, not the
    # orders table; decomposable sums keep values bit-identical
    base = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(_dec("o_totalprice")).alias("_s"))
    )
    return (
        base.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.coalesce(F.sum("_n"), F.lit(0)).alias("n"),
            F.sum("_s").cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("orderpriority"),
            "n",
            "total",
        )
    )


@query(
    "agg_grouping_sets",
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql_over_views(
        spark,
        sf_dir,
        """
        SELECT coalesce(l_returnflag, '(all)') AS returnflag,
               coalesce(l_linestatus, '(all)') AS linestatus,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        ("lineitem",),
    )


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS q25,
           round(quantile_cont(l_quantity, 0.50), 4) AS q50,
           round(quantile_cont(l_quantity, 0.90), 4) AS q90
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact continuous percentile (sort-based). At 100 TB use "
    "percentile_approx (t-digest, mergeable, bounded memory) -- exposed by "
    "agg_approx below with a rows-only check.",
    tags=("agg", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
            F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("q50"),
            F.round(F.expr("percentile(l_quantity, 0.90)"), 4).alias("q90"),
        )
    )


@query(
    "agg_approx",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(1 AS BIGINT) AS parts_ok,
           CAST(1 AS BIGINT) AS orders_ok,
           CAST(1 AS BIGINT) AS median_ok
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Sketch aggregates: HyperLogLog++ distinct + t-digest-style quantile "
    "-- THE 100 TB aggregation path (mergeable, fixed memory). Sketch "
    "values are engine-specific, so the query verifies its own error "
    "bound instead of exporting raw estimates: each group emits the "
    "exact values plus booleans-as-BIGINT asserting |approx - exact| / "
    "exact <= 3*rsd (HLL++, rsd=0.05) and a 5% relative band for the "
    "approximate median. The oracle emits the exact values and literal "
    "1s, so the hash comparison is a deterministic pass/fail verdict on "
    "the sketch accuracy. Plan (r7): exact distincts as "
    "pre-deduplicated counts, sketches+percentiles in one un-expanded "
    "pass, 6-row aggregates broadcast-joined -- 3x over the "
    "count(DISTINCT)-Expand shape.",
    tags=("agg", "approx"),
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    rsd = 0.05
    within = lambda approx, exact, tol: (  # noqa: E731
        (F.abs(F.col(approx) - F.col(exact)) / F.col(exact)) <= tol
    ).cast("long")
    # The exact distincts are computed as pre-deduplicated counts
    # (select+distinct+count per key) instead of count(DISTINCT) inside
    # the sketch aggregate: two count(DISTINCT)s in one agg trigger the
    # Expand rewrite (x3 row duplication) and drag the percentile
    # buffers through it -- measured 8.4 s vs 2.7 s at sf1. Each
    # distinct shuffles (flag, key) pairs once with map-side partial
    # dedup; the sketch+percentile side is one un-expanded pass; the
    # three 6-row aggregates meet on a broadcast join.
    li = _t(spark, sf_dir, "lineitem")
    ep = (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_parts"))
    )
    eo = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_orders"))
    )
    sk = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd).alias("_approx_parts"),
        F.approx_count_distinct("l_orderkey", rsd).alias("_approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_approx_median"),
    )
    # exact median over the (value, freq) pre-aggregate, never raw
    # rows: Spark's exact percentile materializes a per-task value map,
    # which OOMs on a 60M-row fact at sf10 (the feature_quantile_bucket
    # lesson); the distinct price domain is bounded, and the
    # frequency-weighted form is semantically identical
    em = (
        li.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5D, cnt)").alias("_exact_median")
        )
    )
    return (
        ep.join(eo, "l_returnflag")
        .join(sk, "l_returnflag")
        .join(em, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            "exact_orders",
            within("_approx_parts", "exact_parts", 3 * rsd).alias("parts_ok"),
            within("_approx_orders", "exact_orders", 3 * rsd).alias("orders_ok"),
            within("_approx_median", "_exact_median", 0.05).alias("median_ok"),
        )
    )


# --------------------------------------------------------------------------
# Joins (SURVEY 2.3 -- absent in the reference, all Spark built-ins)
# --------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-06-30'
    GROUP BY l_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter first (customer/BUILDING), then "
    "fact joins, then top-k. Catalyst pushes both date filters into the "
    "parquet scans; AQE turns the filtered customer side into a broadcast "
    "join at low SF and a shuffled hash join at high SF. Deterministic "
    "top-k: revenue is exact decimal, ties broken by l_orderkey.",
    tags=("join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-06-30"))
    revenue = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(_dsum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT r_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           count(*)                                          AS n_items
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      JOIN orders   ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY r_name, n_name
    """,
    doc="Five-way star join. nation/region are bounded dims -> explicit "
    "broadcast() so the fact table never shuffles for them; only the "
    "lineitem-orders equi-join shuffles on orderkey at scale.",
    tags=("join", "broadcast"),
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = F.broadcast(_t(spark, sf_dir, "nation"))
    reg = F.broadcast(_t(spark, sf_dir, "region"))
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1999-01-01"))
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("r_name", "n_name")
        .agg(_dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@query(
    "join_semi",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    """,
    doc="left_semi join == EXISTS: emits each left row at most once, no "
    "right-side columns materialized (half the shuffle of an inner join).",
    tags=("join", "semi"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    big = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="left_anti join == NOT EXISTS (customers with no orders).",
    tags=("join", "anti"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_range_nonequi",
    """
    SELECT b.bucket_name,
           count(*)                     AS n_parts,
           CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
    FROM part p
    JOIN (VALUES ('small', 1, 10), ('medium', 11, 25), ('large', 26, 50))
         AS b(bucket_name, lo, hi)
      ON p.p_size BETWEEN b.lo AND b.hi
    GROUP BY b.bucket_name
    """,
    doc="Non-equi (range/theta) join: the bucket dim is tiny and constant, "
    "so Spark plans BroadcastNestedLoopJoin -- the correct physical "
    "strategy for band joins against a bounded dimension at any scale.",
    tags=("join", "range"),
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("small", 1, 10), ("medium", 11, 25), ("large", 26, 50)],
        "bucket_name string, lo int, hi int",
    )
    return (
        part.join(
            F.broadcast(buckets),
            (part.p_size >= buckets.lo) & (part.p_size <= buckets.hi),
        )
        .groupBy("bucket_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (_dsum(_dec("p_retailprice")) / F.count(F.lit(1))).alias("avg_price"),
        )
    )


@query(
    "join_broadcast_dims",
    """
    SELECT r_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Snowflake dim rollup with explicit broadcast hints: zero shuffle on "
    "the customer side until the final 5-group aggregation.",
    tags=("join", "broadcast"),
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = F.broadcast(_t(spark, sf_dir, "nation"))
    reg = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), _dsum(_dec("c_acctbal")).alias("total_bal"))
    )


@query(
    "join_bucketed_colocated",
    """
    SELECT o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    doc="Bucketed co-located fact-fact join: lineitem and orders are "
    "written as tables bucketed (and sorted) on the join key with "
    "matching bucket counts, so the SortMergeJoin reads "
    "pre-partitioned, pre-sorted buckets -- NO shuffle exchange and no "
    "sort on either side (the live plan's only exchange is the final "
    "5-group aggregation; asserted in tests/test_scale_plans.py). At "
    "100 TB this is THE technique for recurring fact-fact joins: pay "
    "the shuffle once at write time, never at query time. The bucketed "
    "copies are written per call into a fresh temp dir (bucketed reads "
    "need a catalog entry, so each table is registered with that dir "
    "as its path) and released after materialize: the tables dropped, "
    "the dir deleted.",
    tags=("join", "bucketing", "layout"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return release_after_materialize(*_build_join_bucketed_colocated(spark, sf_dir))


def _build_join_bucketed_colocated(spark: SparkSession, sf_dir: str):
    """(result, *held) over bucketed copies staged in a fresh temp dir;
    the held items drop both tables, then delete the dir."""
    base = tempfile.mkdtemp(prefix="spark_bkt_")
    names = []
    for tbl, col in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        name = f"{os.path.basename(base)}_{tbl}"
        (
            _t(spark, sf_dir, tbl)
            .write.bucketBy(8, col)
            .sortBy(col)
            .option("path", os.path.join(base, tbl))
            .saveAsTable(name)
        )
        names.append(name)
    li, od = spark.table(names[0]), spark.table(names[1])
    result = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(_dec("l_extendedprice")).alias("revenue"),
        )
    )
    drops = [partial(spark.sql, f"DROP TABLE {name}") for name in names]
    return result, *drops, partial(shutil.rmtree, base)


@query(
    "join_dynamic_partition_pruning",
    """
    SELECT l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    WHERE date_part('year', l_shipdate) = 1996
      AND date_part('quarter', l_shipdate) = 1
    GROUP BY l_returnflag
    """,
    doc="Dynamic partition pruning, the star-schema scale feature: the "
    "fact table is written PARTITIONED BY ship month (84 partitions), "
    "and a join against a date dimension filtered on year+quarter "
    "prunes the fact scan AT RUNTIME to the 3 matching partitions -- "
    "the executed plan's PartitionFilters carries a "
    "dynamicpruningexpression fed by the broadcast dim (asserted in "
    "tests/test_scale_plans.py). At 100 TB this is the difference "
    "between scanning 7 years and scanning one quarter when the "
    "filter lives on dimension attributes the fact doesn't carry. The "
    "partitioned copy is path-partitioned parquet with no catalog "
    "entry, written per call into a fresh temp dir and released after "
    "materialize.",
    tags=("join", "partitioning", "dpp", "scale"),
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return release_after_materialize(*_build_join_dynamic_partition_pruning(spark, sf_dir))


def _build_join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str):
    """(result, release) over a ship-month-partitioned copy of lineitem
    staged in a fresh temp dir; the release deletes the dir."""
    base = tempfile.mkdtemp(prefix="spark_dpp_")
    path = os.path.join(base, "lineitem")
    staged = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_ym", F.date_format("l_shipdate", "yyyy-MM")
    )
    staged.write.partitionBy("ship_ym").parquet(path)
    # declared, not inferred: a zero-row copy has no data file to infer from
    fact = spark.read.schema(staged.schema).parquet(path)
    # date dimension derived from the raw fixture (separate source, so
    # the dim subtree is not the partitioned copy itself)
    dates = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").alias("d"))
        .union(_t(spark, sf_dir, "lineitem").select(F.col("l_shipdate").alias("d")))
        .select(
            F.date_format("d", "yyyy-MM").alias("ym"),
            F.year("d").alias("y"),
            F.quarter("d").alias("q"),
        )
        .distinct()
    )
    dim = dates.filter((F.col("y") == 1996) & (F.col("q") == 1))
    result = (
        fact.join(F.broadcast(dim), fact.ship_ym == dim.ym)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(_dec("l_quantity")).alias("total_qty"),
        )
    )
    return result, partial(shutil.rmtree, base)


@query(
    "join_left_groupby",
    """
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    doc="Outer join preserving unmatched left rows (count=0 customers).",
    tags=("join", "outer"),
)
def join_left_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregate-before-join (r16, guide section 2.3): orders collapse
    # to one row per customer BEFORE the outer join, so the join
    # matches |customers| aggregate rows instead of |orders| order
    # rows and the post-join re-aggregation disappears. An unmatched
    # customer's NULL aggregates coalesce to the same 0/0.0 the
    # count/sum-over-empty-group produced. Paired-sample probe 1.15x,
    # value-identical; at scale this is strictly fewer shuffled bytes
    # (aggregates of orders, never raw orders).
    cust = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("o_orderkey").alias("_n"),
            F.sum(_dec("o_totalprice")).alias("_s"),
        )
    )
    return cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("_n", F.lit(0)).alias("n_orders"),
        F.coalesce("_s", F.lit(0)).cast("double").alias("spend"),
    )


# --------------------------------------------------------------------------
# Windows (SURVEY 2.5 -- absent in the reference)
# --------------------------------------------------------------------------


@query(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
    doc="Cumulative frame per customer. Spark shuffles once on the partition "
    "key then sorts within partitions -- the minimal plan for any window.",
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
        )
    )


@query(
    "window_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    doc="Top-k per group via row_number -- the scalable alternative to "
    "sort+limit per key (no global sort; one shuffle on the group key).",
    tags=("window", "topk"),
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_lag_delta",
    """
    SELECT event_id, user_id,
           round(value - coalesce(lag(value) OVER w, 0), 2) AS delta_value,
           coalesce(lead(event_type) OVER w, 'none')        AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="lag/lead analytics over the events stream table (batch form; the "
    "streaming form is in streaming_queries). Subtraction operands are "
    "identical raw doubles in both engines, so round() is safe here.",
    tags=("window", "events"),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2).alias(
            "delta_value"
        ),
        F.coalesce(F.lead("event_type").over(w), F.lit("none")).alias("next_type"),
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY 2.6)
# --------------------------------------------------------------------------


@query(
    "sort_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject -- per-partition "
    "heap + driver merge of k rows, never a full global sort.",
    tags=("sort", "topk"),
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Projections / filters (SURVEY 2.2)
# --------------------------------------------------------------------------


@query(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-07-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Pure scan+filter+project: all four predicates and the 4-column "
    "projection push into the parquet reader (verify: PushedFilters / "
    "ReadSchema in .explain).",
    tags=("scan", "filter", "pushdown"),
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-07-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


@query(
    "case_when_bands",
    """
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END        AS qty_band,
           count(*)                    AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY qty_band
    """,
    tags=("filter", "conditional"),
)
def case_when_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    band = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
        .alias("qty_band")
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(band)
        .agg(F.count(F.lit(1)).alias("n"), _dsum(_dec("l_extendedprice")).alias("total"))
    )


@query(
    "agg_stats",
    """
    WITH s AS (SELECT l_returnflag,
                      count(*) AS n,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                               * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                               * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
                      CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                               * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
               FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           (sxx - sx * sx / n) / (n - 1)                   AS var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1))             AS stddev_qty,
           (sxy - sx * sy / n)
             / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_price
    FROM s
    """,
    doc="Distributed second-moment statistics (variance / stddev / "
    "correlation) from EXACT decimal power sums, finished in float on "
    "the tiny per-group row. Engine-native stddev()/corr() stream "
    "doubles in partition order and drift across engines/partitionings; "
    "exact partial sums make the result deterministic at any "
    "parallelism -- the only way a 100 TB stats job is reproducible.",
    tags=("agg", "stats"),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    x, y = _dec("l_quantity"), _dec("l_extendedprice")
    n = F.count(F.lit(1))
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            _dsum(x).alias("sx"),
            _dsum(y).alias("sy"),
            _dsum(x * x).alias("sxx"),
            _dsum(y * y).alias("syy"),
            _dsum(x * y).alias("sxy"),
        )
    )
    nn = F.col("n")
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / nn) / (nn - 1)
    cov_num = F.col("sxy") - F.col("sx") * F.col("sy") / nn
    var_num_x = F.col("sxx") - F.col("sx") * F.col("sx") / nn
    var_num_y = F.col("syy") - F.col("sy") * F.col("sy") / nn
    return s.select(
        "l_returnflag",
        "n",
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("stddev_qty"),
        (cov_num / F.sqrt(var_num_x * var_num_y)).alias("corr_qty_price"),
    )


@query(
    "window_ntile_dist",
    """
    SELECT o_orderkey,
           o_orderpriority,
           CAST(ntile(4) OVER w AS BIGINT) AS price_quartile,
           percent_rank() OVER w           AS pr,
           cume_dist() OVER w              AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Distribution window functions (ntile / percent_rank / cume_dist) "
    "per priority class. Deterministic under parallelism because the "
    "frame order carries the o_orderkey tie-break; one shuffle on the "
    "partition key. The rank ratios are exact small-integer divisions, "
    "identical in any engine.",
    tags=("window", "rank"),
)
def window_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("bigint").alias("price_quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# --------------------------------------------------------------------------
# Subquery shapes (TPC-H q4/q6/q13/q17/q18 patterns)
# --------------------------------------------------------------------------


@query(
    "q4_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS decorrelated to a left_semi "
    "join -- each order emitted at most once, no fan-out, and the "
    "lineitem side is pre-filtered before the shuffle.",
    tags=("join", "semi", "subquery"),
)
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    hot = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(hot, o.o_orderkey == hot.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: every predicate pushes to the parquet scan and "
    "the single-group aggregate needs no shuffle at all -- partials "
    "combine into one row. The cheapest possible 100 TB full-scan query.",
    tags=("agg", "filter", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)"))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q13_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: outer join preserving order-less customers, then "
    "a distribution-of-counts re-aggregation. Second groupBy keys on a "
    "tiny domain (order counts), so its shuffle is negligible.",
    tags=("join", "outer", "agg"),
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q17_small_qty_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated scalar subquery decorrelated to a "
    "per-part aggregate joined back on l_partkey -- one extra shuffle "
    "instead of a per-row subquery. (avg of integer-valued doubles is "
    "bit-exact in both engines, so the boundary predicate cannot drift.)",
    tags=("join", "subquery", "agg"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


@query(
    "q18_large_orders",
    """
    WITH big AS (SELECT l_orderkey,
                        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                          AS total_qty
                 FROM lineitem GROUP BY l_orderkey
                 HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150)
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_totalprice, b.total_qty
    FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
    doc="TPC-H Q18 shape: HAVING on an aggregate, joined back to orders, "
    "global top-100 (TakeOrderedAndProject -- per-partition heaps, no "
    "global sort). The aggregate side shrinks to qualifying keys before "
    "the join.",
    tags=("agg", "having", "topk"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qd"))
        .filter(F.col("qd") > 150)
        .select("l_orderkey", F.col("qd").cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape: fact-fact-dim join with selective filters on "
    "both fact tables, grouped revenue, global top-20 "
    "(TakeOrderedAndProject). The returnflag and date filters push to "
    "the scans, so the join moves only qualifying rows.",
    tags=("join", "agg", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name")
        .agg(_dsum(rev).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_join",
    """
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunctive (OR-of-ANDs) predicates spanning "
    "both join sides. Catalyst derives the per-side implied filters "
    "(brand IN (...), quantity in the union range) and pushes them "
    "below the join, so the scans shrink even though the full "
    "disjunction can only be evaluated after it.",
    tags=("join", "filter", "disjunction"),
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & q.between(20, 30))
    )
    rev = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(_dsum(rev).alias("revenue"))
    )


@query(
    "q22_dormant_customers",
    """
    WITH thr AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                          / count(*) AS ab
                 FROM customer WHERE c_acctbal > 0.0)
    SELECT CAST(c.c_nationkey % 5 AS BIGINT) AS cgroup,
           count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
    doc="TPC-H Q22 shape: scalar-subquery threshold (exact decimal "
    "avg, broadcast as a 1-row cross join -- never a driver collect) "
    "plus NOT EXISTS against recent orders as a left_anti join with a "
    "pushed-down date filter, then a grouped rollup of the "
    "rich-but-dormant customers.",
    tags=("join", "anti", "subquery"),
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((_dsum(_dec("c_acctbal")) / F.count(F.lit(1))).alias("ab"))
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("bigint").alias("cgroup"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(_dec("c_acctbal")).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY 2.7)
# --------------------------------------------------------------------------


@query(
    "set_ops",
    """
    SELECT 'union' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer
        UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, k FROM (
        SELECT c_nationkey AS k FROM customer
        EXCEPT SELECT s_nationkey FROM supplier)
    """,
    doc="UNION (distinct) / INTERSECT / EXCEPT in one tagged result.",
    tags=("setop",),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return (
        c.union(s).distinct().select(F.lit("union").alias("op"), "k")
        .unionByName(c.intersect(s).select(F.lit("intersect").alias("op"), "k"))
        .unionByName(c.subtract(s).select(F.lit("except").alias("op"), "k"))
    )


# --------------------------------------------------------------------------
# Pivot
# --------------------------------------------------------------------------


@query(
    "pivot_agg",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS status_O,
           CAST(sum(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS status_F
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot with explicit value list (never let Spark scan for pivot "
    "values at scale -- that is an extra job over the full table).",
    tags=("agg", "pivot"),
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .select(
            "l_returnflag",
            F.col("O").alias("status_O"),
            F.col("F").alias("status_F"),
        )
    )


# --------------------------------------------------------------------------
# Scalar function battery (SURVEY 2.8, F1-F12 analogs on driver fixtures)
# --------------------------------------------------------------------------


@query(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           string_split(p_name, ' ')[1]                    AS first_word,
           CAST(length(p_name) AS BIGINT)                  AS name_len,
           CAST(regexp_extract(p_brand, '(\\d+)', 1) AS BIGINT) AS brand_num,
           lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_padded,
           concat_ws('-', p_brand, p_type)                 AS brand_type
    FROM part
    """,
    doc="String battery: upper/split/length/regexp_extract/lpad/concat_ws "
    "(reference F1-F3, F7-F9 analogs -- etl_infrastructure.py:143-146, "
    "etl_pipeline.py:284-314). All JVM-side, whole-stage codegen.",
    tags=("scalar", "string"),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_extract("p_brand", r"(\d+)", 1).cast("long").alias("brand_num"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "date_functions",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d')                        AS order_date,
           CAST(year(o_orderdate) AS BIGINT)                        AS y,
           CAST(month(o_orderdate) AS BIGINT)                       AS m,
           CAST(quarter(o_orderdate) AS BIGINT)                     AS q,
           CAST(weekofyear(o_orderdate) AS BIGINT)                  AS iso_week,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')   AS month_start,
           strftime(o_orderdate + INTERVAL 7 DAY, '%Y-%m-%d')       AS plus_week
    FROM orders
    """,
    doc="Date battery (reference F12 upgrade: real date math instead of the "
    "hardcoded ISO strings at etl_infrastructure.py:215-216). Output as "
    "formatted strings so the oracle compare is timezone-proof.",
    tags=("scalar", "date"),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"), "yyyy-MM-dd").alias(
            "plus_week"
        ),
    )


@query(
    "math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1)                    AS price_r1,
           CAST(floor(l_discount * 100) AS BIGINT)      AS disc_pct_floor,
           CAST(ceil(l_tax * 100) AS BIGINT)            AS tax_pct_ceil,
           round(abs(l_quantity - 25.0), 2)             AS qty_dev,
           round(sqrt(l_extendedprice), 6)              AS price_sqrt,
           CAST(l_partkey % 7 AS BIGINT)                AS pk_mod
    FROM lineitem
    """,
    doc="Math battery (reference F4/F5 coercion analogs). Row-level math on "
    "identical raw doubles is bit-stable across engines; sqrt is IEEE "
    "correctly-rounded. Transcendentals (ln/exp) are libm-dependent and "
    "deliberately excluded from oracle-compared outputs.",
    tags=("scalar", "math"),
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor(F.col("l_discount") * 100).cast("long").alias("disc_pct_floor"),
        F.ceil(F.col("l_tax") * 100).cast("long").alias("tax_pct_ceil"),
        F.round(F.abs(F.col("l_quantity") - 25.0), 2).alias("qty_dev"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        (F.col("l_partkey") % 7).cast("long").alias("pk_mod"),
    )


@query(
    "try_cast_quarantine",
    """
    SELECT props,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL
                THEN 'quarantine' ELSE 'ok' END AS route
    FROM events WHERE event_id < 200
    """,
    doc="Lenient-coercion + quarantine routing (reference P7/F5: "
    "etl_pipeline.py:17-30 returns None on failure and drops; here the "
    "failure is preserved as a routed row -- Spark analog of "
    "badRecordsPath). JSON extraction maps the reference's json.load reads.",
    tags=("filter", "quarantine", "json"),
)
def try_cast_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    k = F.get_json_object("props", "$.k").try_cast("long")
    return ev.select(
        "props",
        k.alias("k_val"),
        F.when(k.isNull(), "quarantine").otherwise("ok").alias("route"),
    )


@query(
    "higher_order_array_fns",
    """
    SELECT doc_id,
           CAST(len(list_filter(list_transform(string_split(text, ' ')[1:10],
                                               t -> upper(t)),
                                t -> length(t) > 4)) AS BIGINT)   AS n_long_tokens,
           array_to_string(list_sort(list_filter(string_split(text, ' ')[1:10],
                                                 t -> length(t) > 4)), ',') AS long_tokens
    FROM documents WHERE doc_id < 100
    """,
    doc="Higher-order array functions (reference F1 bullet-split analog, "
    "etl_infrastructure.py:143-146): split -> slice -> transform -> filter "
    "-> sort -> join, all codegen'd, no Python UDF.",
    tags=("scalar", "array", "hof"),
)
def higher_order_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.slice(F.split(F.col("text"), " "), 1, 10)
    long_toks = F.filter(toks, lambda t: F.length(t) > 4)
    return d.select(
        "doc_id",
        F.size(F.filter(F.transform(toks, F.upper), lambda t: F.length(t) > 4))
        .cast("long")
        .alias("n_long_tokens"),
        F.array_join(F.array_sort(long_toks), ",").alias("long_tokens"),
    )


# --------------------------------------------------------------------------
# Flagship: the reference's one real query (weekly calendar, SURVEY 3.2)
# transplanted onto the star schema.
# --------------------------------------------------------------------------


@query(
    "flagship_weekly_calendar",
    """
    SELECT CAST(weekofyear(o_orderdate) AS BIGINT)            AS week,
           count(*)                                           AS n_items,
           count(DISTINCT l_orderkey)                         AS n_orders,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           string_agg(DISTINCT o_orderpriority, ','
                      ORDER BY o_orderpriority)               AS priorities
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE year(o_orderdate) = 1997
    GROUP BY week
    ORDER BY week
    """,
    doc="The reference's calendar query (etl_pipeline.py:63-147): flatten -> "
    "format -> groupBy(week) -> collect -> sort, on driver data. "
    "collect_set is sorted before joining because intra-group order was "
    "nondeterministic in the reference too (thread completion, "
    "etl_pipeline.py:39-41).",
    tags=("flagship", "agg", "join"),
)
def flagship_weekly_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    revenue = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    # Two-level aggregation (r17, guide section 2.3): countDistinct +
    # collect_set in ONE groupBy planned as a 4-node ObjectHashAggregate
    # chain whose collect_set buffers run over EVERY lineitem row. Level
    # 1 groups by (week, l_orderkey, o_orderpriority) -- the same
    # (week, orderkey) dedup exchange the countDistinct plan already
    # paid, but as a codegen HashAggregate carrying the count/revenue
    # partials. Level 2 then aggregates |orders| rows, so collect_set
    # touches one row per order instead of one per lineitem, and
    # count(*) IS countDistinct(l_orderkey) because o_orderkey is the
    # orders PK (one date + one priority per key; the oracle join
    # replicates exactly that row). Decimal re-sum is exact, so
    # revenue is bit-identical. Order-balanced paired probe: 1.119x
    # median, 10/10 pairs >= 1.02; same exchange count (plan has the
    # same two agg exchanges + sort, but both aggs codegen).
    lvl1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.weekofyear("o_orderdate").cast("long").alias("week"),
            "l_orderkey",
            "o_orderpriority",
        )
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(revenue).alias("_rev"))
    )
    return (
        lvl1.groupBy("week")
        .agg(
            F.sum("_n").alias("n_items"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_rev").cast("double").alias("revenue"),
            F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias("priorities"),
        )
        .orderBy("week")
    )
