"""Relational coverage extensions, round 4 batch 2 (SURVEY.md §2B widening).

Eight more canned decision-support shapes a desdb user issued as literal
SQL through ``Connection.quick()`` [desdb:desdb.py quick — reconstructed,
SURVEY.md §0 / §2A A1]: EXISTS / NOT EXISTS subqueries, scalar subqueries,
having-IN, disjunctive pushdown, and a two-sided dimension pair filter —
the TPC-H Q4/Q6/Q7/Q14/Q17/Q18/Q19/Q22 shapes adapted to the fixture
schema (no partsupp / commitdate / shipmode columns, SURVEY.md §7.4).

All pure built-in expression work, no UDFs. Determinism per SURVEY.md
§5.3: floats rounded in both engines, every LIMIT carries a total
tie-break order, no gratuitous top-level sorts (driver hash is
order-insensitive; a full-table orderBy is a pure range-exchange cost at
100 TB).

Scale notes common to the module: no table scan carries a broadcast
hint. The planner sizes every scan against ``autoBroadcastJoinThreshold``:
it broadcasts the fixed-cardinality dims (nation) at any SF and the
SF-linear tables (customer, supplier, part, orders, lineitem) at fixture
scale, and falls back to shuffle joins at 100 TB. Scalar subqueries join
through a constant key so the plan is a BroadcastHashJoin, never a
BroadcastNestedLoopJoin (the fleet plan audit, tests/test_plan_audit.py,
forbids BNLJ in every registered op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "subq_exists_q4",
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
    """,
    group="relational_ext3",
)
def subq_exists_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority census over a half-year window,
    counting only orders with at least one heavy line (EXISTS subquery →
    left-semi join).

    Scale shape: both sides pre-filter before the semi-join, the date
    range is pushed to the orders scan and the quantity predicate to the
    lineitem scan; the semi-join shuffles on orderkey — co-partitioned
    with the natural key of both tables — and emits each order at most
    once (no fan-out, unlike an inner join + distinct). The 5-row
    group-by is a map-side partial agg.
    """
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    heavy = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(heavy, o.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "scan_agg_q6",
    oracle="""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    group="relational_ext3",
)
def scan_agg_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast-revenue-change — a pure scan→filter→agg
    with zero joins.

    Scale shape: this is the pushdown showcase. All three predicates
    reach the parquet scan as PushedFilters (row-group min/max skips the
    off-year groups entirely at 100 TB when data is ship-date sorted),
    ReadSchema carries exactly 4 of 11 lineitem columns, and the single
    global aggregate is a partial-agg → 1-row exchange, so the shuffle
    ships one row per task.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


@register(
    "join_two_dim_pair_q7",
    oracle="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)
    """,
    group="relational_ext3",
)
def join_two_dim_pair_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair by year —
    the same dimension (nation) joined twice under different roles, with
    a symmetric pair predicate.

    Scale shape: both nation arms pre-filter to the 2 relevant rows, and
    the planner broadcasts them (fixed cardinality at any SF), which turns
    the pair filter into a semi-selective filter on supplier/customer
    *before* the big orderkey shuffle of orders⋈lineitem. The symmetric
    OR applies after both roles are attached — 4 candidate combinations,
    2 survive.
    Group-by key cardinality is |pairs|×|years| ≈ 14, trivially
    partial-aggregable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    pair = ("NATION_3", "NATION_7")
    n1 = (
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = (
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
    )


@register(
    "agg_conditional_share_q14",
    oracle="""
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    group="relational_ext3",
)
def agg_conditional_share_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship-month — a
    conditional-aggregate ratio over a fact⋈dim join.

    Scale shape: the month predicate prunes lineitem at the scan before
    the partkey join (at 100 TB with ship-date partitioning this is
    partition pruning, ~1/80th of the fact table). Part carries no
    broadcast hint — it is SF-linear (~20M rows/TB); AQE broadcasts at
    fixture scale, shuffles on partkey at cluster scale. Both CASE
    branches fold into one partial aggregate, final exchange is 1 row.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-03-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(p, li.l_partkey == p.p_partkey)
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return j.agg(
        F.round(100.0 * F.sum(promo) / F.sum(_rev()), 4).alias("promo_share"),
        F.count("*").alias("n_lines"),
    )


@register(
    "subq_scalar_per_group_q17",
    oracle="""
        WITH avg_qty AS (
          SELECT l_partkey AS ap_partkey, avg(l_quantity) AS a
          FROM lineitem GROUP BY l_partkey)
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN avg_qty ON ap_partkey = l_partkey
        WHERE p_brand = 'Brand#23' AND l_quantity < 0.5 * a
    """,
    group="relational_ext3",
)
def subq_scalar_per_group_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — each line compared
    against its part's average quantity (correlated scalar subquery →
    per-group aggregate re-joined to the fact).

    Scale shape: the per-part average groupBy and the fact⋈avg join hash
    on the same key (l_partkey), so Catalyst reuses one exchange — the
    row never moves twice. The brand filter prunes part before its join;
    no hint on part (SF-linear). The final agg collapses to 1 row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("a")
    )
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .where(F.col("l_quantity") < 0.5 * F.col("a"))
    )
    return j.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count("*").alias("n_lines"),
    )


@register(
    "subq_having_in_q18",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS o_totalprice,
               round(sum(l_quantity), 2) AS sum_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 280)
        GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        ORDER BY round(o_totalprice, 2) DESC, o_orderkey
        LIMIT 100
    """,
    group="relational_ext3",
)
def subq_having_in_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — IN over a grouped-HAVING
    subquery, then a 3-way join surfacing the customer.

    Scale shape: instead of materializing the IN list and re-joining
    lineitem twice, the plan aggregates lineitem once (groupBy orderkey,
    sum qty — partial agg before its single shuffle), filters the
    aggregate (HAVING > 280 keeps ~1% of orders), and joins the survivors
    to orders then customer. Equivalent semantics, half the lineitem
    traffic. Top-100 plans as TakeOrderedAndProject with a total
    tie-break (totalprice DESC, orderkey) — no global sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > 280)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "filter_disjunctive_q19",
    oracle="""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
    group="relational_ext3",
)
def filter_disjunctive_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue under an OR-of-ANDs predicate
    that straddles both join sides.

    Scale shape: Catalyst derives the single-side implications of the
    disjunction — `p_brand IN (...)`, `p_size BETWEEN 1 AND 50` on part
    and `l_quantity BETWEEN 1 AND 40` on lineitem — and pushes them below
    the join (constraint propagation), so both scans prune before the
    partkey hash join; the full disjunction re-applies post-join. No
    hint on part (SF-linear, AQE decides).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.where(clause).agg(
        F.round(F.sum(_rev()), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "subq_scalar_antijoin_q22",
    oracle="""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
    """,
    group="relational_ext3",
)
def subq_scalar_antijoin_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: dormant high-balance customers — an uncorrelated
    scalar subquery (global average) plus NOT EXISTS (anti-join) on
    recent orders, rolled up per market segment.

    Scale shape: the scalar subquery is declared as SQL so Catalyst plans
    a ``ScalarSubquery`` — the 1-row average runs as its own tiny job and
    inlines into the filter as a literal, with NO join at all (a
    constant-key equi-join gets constant-folded into the BNLJ the fleet
    plan audit forbids; this is the Spark-native shape). NOT EXISTS
    rewrites to a left-anti join that shuffles on custkey only for
    customers surviving the balance filter; the orders side pre-filters
    by date at the scan. Group-by on 5 segments is a map-side partial
    agg.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q22_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("q22_orders")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS total_bal
        FROM q22_customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM q22_customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM q22_orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
        """
    )


@register(
    "window_time_range_rolling",
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW),
                 2) AS spend_90d
        FROM orders
    """,
    group="relational_ext3",
)
def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 90-day spend per customer: a RANGE window frame bounded by
    a time interval, not a row count — the moving-aggregate shape row
    frames cannot express when order timestamps are irregular.

    Spark's rangeBetween needs a numeric ordering column, so the frame
    orders on epoch seconds with a -90-day lower bound — value-identical
    to DuckDB's INTERVAL PRECEDING frame (both bounds inclusive, and
    RANGE treats same-date peers identically, so date ties cannot change
    the sum). Scale shape: one shuffle on o_custkey, per-partition sort
    on the order date; the frame is computed in a single pass with a
    sliding aggregate — no self-join, no explode of the 90-day window.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_90d"),
    )
