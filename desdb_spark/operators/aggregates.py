"""Aggregation operators (SURVEY.md §2B aggregations).

Reference parity: ``SELECT DISTINCT`` scans are desdb's release-runs query
[desdb:files.py get_release_runs — SURVEY.md §2A A5]; the rest is the
arbitrary-SQL surface (A1) that Oracle executed server-side.

Scale notes (100 TB): every ``groupBy().agg()`` compiles to partial
(map-side) + final hash aggregation, so the shuffle carries one row per
(partition, group), not per input row. Low-cardinality groups (returnflag ×
linestatus = 6) make the shuffle negligible at any scale. ``count(distinct)``
expands to a two-phase plan; for billions of keys use
``approx_count_distinct`` (HLL, fixed memory) — registered here as the
scale path with a rows-only check (sketches never hash-match an oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "agg_hash_groupby_q1",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    group="aggregates",
)
def agg_hash_groupby_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary by returnflag/linestatus."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_multi_stats",
    oracle="""
        SELECT l_returnflag,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(sum(l_extendedprice), 2) AS sum_price,
               count(*) AS cnt,
               round(stddev_samp(l_extendedprice), 4) AS sd_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    group="aggregates",
)
def agg_multi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/sum/count/stddev_samp per group (rounded per §5.3)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.min(p), 2).alias("min_price"),
        F.round(F.max(p), 2).alias("max_price"),
        F.round(F.avg(p), 4).alias("avg_price"),
        F.round(F.sum(p), 2).alias("sum_price"),
        F.count("*").alias("cnt"),
        F.round(F.stddev_samp(p), 4).alias("sd_price"),
    )


@register(
    "agg_distinct_runs",
    oracle="""
        SELECT DISTINCT o_orderstatus, o_orderpriority
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
    group="aggregates",
)
def agg_distinct_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A5 release-runs query verbatim: filtered SELECT DISTINCT."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
    )


@register(
    "agg_count_distinct",
    oracle="""
        SELECT o_orderstatus, count(DISTINCT o_custkey) AS uniq_cust
        FROM orders GROUP BY o_orderstatus
    """,
    group="aggregates",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count(distinct) per group — two-phase expand plan."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("uniq_cust")
    )


@register(
    "agg_having",
    oracle="""
        SELECT o_custkey, count(*) AS order_cnt
        FROM orders GROUP BY o_custkey HAVING count(*) > 15
    """,
    group="aggregates",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation group filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("order_cnt"))
        .where(F.col("order_cnt") > 15)
    )


@register(
    "agg_rollup",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    group="aggregates",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals: (flag,status) → (flag) → ()."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_cube",
    oracle="""
        SELECT c_mktsegment, n_name, count(*) AS cnt,
               round(sum(c_acctbal), 2) AS sum_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE(c_mktsegment, n_name)
    """,
    group="aggregates",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations over segment × nation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .cube("c_mktsegment", "n_name")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    group="aggregates",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (Spark's GROUPING SETS surface)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register("agg_approx_count_distinct", group="aggregates")  # rows-only: HLL sketch
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct — the 100 TB path for count(distinct)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_uniq_cust")
    )
