"""Round-6 batch-23 hierarchical ratio-to-report.

"Share of parent" at every level of a dimension hierarchy — each
nation's share of its region's revenue AND each region's share of the
world — is the report shape behind drill-down dashboards. The wrong
plan re-aggregates the fact table once per level; the right one
aggregates facts ONCE at the leaf grain and derives every ancestor
level with windows over the leaf aggregate (nations-count rows). Cents
arithmetic keeps the shares' numerators exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "window_share_of_parent",
    oracle="""
        WITH leaf AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS rev
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT region, nation, rev AS rev_cents,
               round(CAST(rev AS DOUBLE)
                     / sum(rev) OVER (PARTITION BY region), 6)
                   AS share_of_region,
               round(CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE)
                     / sum(rev) OVER (), 6) AS region_share_of_total
        FROM leaf
    """,
    group="hierarchy_ext",
)
def window_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share at two hierarchy levels in one pass: per nation,
    its share of its region; per region, its share of the total — both
    derived from ONE leaf-grain aggregate via stacked windows (the
    region window partitions, the grand-total window spans the
    25-nation leaf table).

    Scale shape: the fact table aggregates exactly once (map-side
    combinable to the leaf grain: 25 rows). Customer is a keyed shuffle
    join — it GROWS with the data, so unlike nation/region (fixed
    25/5-row dims, broadcast) it must never be broadcast at 100 TB;
    every parent level is window arithmetic over the leaf AGGREGATE —
    adding hierarchy levels adds windows over 25 rows, never
    fact-table passes. Shares divide exact integer cents, rounded at
    6 dp.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    leaf = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    w_region = W.partitionBy("region")
    w_all = W.partitionBy()
    return leaf.select(
        "region",
        "nation",
        F.col("rev").alias("rev_cents"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w_region), 6
        ).alias("share_of_region"),
        F.round(
            F.sum("rev").over(w_region).cast("double") / F.sum("rev").over(w_all),
            6,
        ).alias("region_share_of_total"),
    )
