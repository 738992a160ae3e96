"""Relational coverage extensions, round 5: the last eight TPC-H shapes.

Completes the 22-query TPC-H decision-support suite a desdb user would
issue as literal SQL through ``Connection.quick()`` [desdb:desdb.py quick —
reconstructed, SURVEY.md §0 / §2A A1]: Q2/Q8/Q9/Q11/Q12/Q16/Q20/Q21
adapted to the fixture schema, which has no partsupp table and no
commitdate / receiptdate / shipmode columns (SURVEY.md §7.4). Where the
original reads partsupp, the per-(part, supplier) relationship is derived
from lineitem — same join topology, same subquery shape, one extra
pre-aggregation (which is itself the interesting part at scale: the
derived dimension is built with a single co-partitioned shuffle).

Determinism per SURVEY.md §5.3: floats rounded in both engines, every
LIMIT carries a total tie-break order, no gratuitous top-level sorts.

Scale notes common to the module: no table scan carries a broadcast
hint. The planner sizes every scan against ``autoBroadcastJoinThreshold``:
fixed-cardinality dims (nation, region) broadcast at any SF, SF-linear
tables (customer, supplier, part, orders, lineitem) only while they fit.
Scalar subqueries join through a constant key so the plan stays a
BroadcastHashJoin, never a BroadcastNestedLoopJoin (fleet plan audit,
tests/test_plan_audit.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _eu_suppliers(spark: SparkSession, sf_dir: str, region: str) -> DataFrame:
    """Suppliers in one region with their nation name."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == region)
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


@register(
    "subq_corr_min_q2",
    oracle="""
        WITH cost AS (
          SELECT l_partkey, l_suppkey,
                 round(avg(l_extendedprice / l_quantity), 2) AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        eu AS (
          SELECT s_suppkey, s_name, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        ec AS (
          SELECT l_partkey, l_suppkey, s_name, n_name, unit_cost,
                 min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
          FROM cost JOIN eu ON l_suppkey = s_suppkey)
        SELECT p_partkey, p_brand, l_suppkey AS s_suppkey, s_name, n_name,
               unit_cost
        FROM part JOIN ec ON p_partkey = l_partkey
        WHERE p_size <= 10 AND p_type = 'STANDARD'
          AND unit_cost = min_cost
    """,
    group="relational_ext5",
)
def subq_corr_min_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier — a correlated scalar
    subquery (min over the part's suppliers within one region) joined
    back to pick the rows achieving the minimum.

    The partsupp supply cost is derived from lineitem as the average
    unit price per (partkey, suppkey), rounded to cents so the min-
    equality filter compares identical values in both engines.

    Scale shape: the derived cost table aggregates lineitem with ONE
    shuffle on (partkey, suppkey); the correlated min is a window over
    partkey — Catalyst plans the groupBy and the window on compatible
    hash partitioning, so cost rows move once. The region filter prunes
    suppliers before their join (nation/region broadcast); part's
    size/type predicates are pushed to its scan, and the final
    part⋈cost join shuffles only the ~2% surviving parts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.avg(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
            "unit_cost"
        )
    )
    eu = _eu_suppliers(spark, sf_dir, "EUROPE")
    ec = cost.join(eu, cost.l_suppkey == eu.s_suppkey).withColumn(
        "min_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    return (
        p.join(ec, p.p_partkey == ec.l_partkey)
        .where(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "p_partkey",
            "p_brand",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_name",
            "unit_cost",
        )
    )


@register(
    "agg_market_share_q8",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               round(sum(CASE WHEN sn.n_name = 'NATION_2'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region   ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY year(o_orderdate)
    """,
    group="relational_ext5",
)
def agg_market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — one supplier nation's
    revenue fraction inside one customer region, per order year
    (conditional-aggregate ratio over a 7-table star join).

    Scale shape: the planner broadcasts nation (both roles) and region —
    they are fixed-cardinality. Customer and supplier are SF-linear: the
    planner broadcasts them at fixture scale and shuffles at 100 TB. The
    only unavoidable big exchange is lineitem⋈orders on orderkey; the
    region filter then cuts ~80% of rows before the year group-by, which
    partial-aggregates to ≤7 rows per task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name"))
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(r, F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("sn_key"))
    )
    target = F.when(F.col("sn_name") == "NATION_2", _rev()).otherwise(F.lit(0.0))
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(target) / F.sum(_rev()), 4).alias("mkt_share"))
    )


@register(
    "agg_profit_nation_year_q9",
    oracle="""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - 0.8 * p_retailprice * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
    """,
    group="relational_ext5",
)
def agg_profit_nation_year_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by supplier nation and year.
    Without partsupp, supply cost is modeled as 80% of the part's retail
    price — the join topology (fact⋈part⋈supplier⋈nation⋈orders) and
    the name-LIKE part filter are the Q9 semantics.

    Scale shape: the '%red%' filter on part cannot push to row-group
    stats (infix LIKE) but does prune before the join, cutting the
    partkey shuffle to the matching ~1/7 of parts; at 100 TB AQE sizes
    that side for broadcast if the selectivity allows. lineitem⋈orders
    shuffles on orderkey; nation broadcasts. Group-by is (25 nations ×
    7 years) — trivially partial-aggregated.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _rev() - 0.8 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


@register(
    "subq_global_threshold_q11",
    oracle="""
        WITH val AS (
          SELECT l_partkey, sum(l_extendedprice) AS v
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE r_name = 'AMERICA'
          GROUP BY l_partkey)
        SELECT l_partkey AS partkey, round(v, 2) AS value
        FROM val
        WHERE v > (SELECT 1.5 * avg(v) FROM val)
    """,
    group="relational_ext5",
)
def subq_global_threshold_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: important stock — per-part value within one
    region's suppliers, kept only where it exceeds a fraction of the
    GLOBAL mean (uncorrelated scalar subquery as a HAVING threshold;
    1.5×avg(v) = 1.5/n of the total, so the cut is scale-free and
    selects rows at every SF — a fixed fraction-of-total would go
    empty at small SF and select everything at large SF).

    Scale shape: the threshold is declared as a SQL scalar subquery so
    Catalyst plans a ``ScalarSubquery`` — the 1-row mean runs as its own
    tiny job over the ~part-count aggregate (never re-reading lineitem)
    and inlines into the filter as a literal, with NO join at all (a
    constant-key equi-join gets constant-folded into the BNLJ the fleet
    plan audit forbids — same lesson as Q22). Region pruning happens
    before the partkey shuffle via the broadcast dim chain.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    val = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("v"))
    )
    val.createOrReplaceTempView("q11_val")
    return spark.sql(
        """
        SELECT l_partkey AS partkey, round(v, 2) AS value
        FROM q11_val
        WHERE v > (SELECT 1.5 * avg(v) FROM q11_val)
        """
    )


@register(
    "agg_priority_class_q12",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
    """,
    group="relational_ext5",
)
def agg_priority_class_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: shipping-class census — lines shipped in one
    year bucketed by line status (the fixture's stand-in for shipmode),
    with urgent/non-urgent order counts as two conditional sums.

    Scale shape: the year predicate pushes to the lineitem scan (row-
    group pruning); only (orderkey, linestatus, shipdate) survive column
    pruning on the fact side and (orderkey, orderpriority) on orders.
    One orderkey shuffle joins them; both CASE branches fold into a
    single partial aggregate over the 2-row group space.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    return j.groupBy("l_linestatus").agg(
        F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
    )


@register(
    "agg_supplier_cnt_q16",
    oracle="""
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size <= 15
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    group="relational_ext5",
)
def agg_supplier_cnt_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier count per part attribute combination,
    excluding a NOT-IN denylist (suppliers with negative balance stand
    in for the 'customer complaints' filter), with the part-supplier
    relationship derived from lineitem.

    Scale shape: the denylist is a filtered supplier scan, so it grows
    with SF; the planner broadcasts the LEFT ANTI join while it fits and
    shuffles past ``autoBroadcastJoinThreshold``. Part predicates prune
    before the partkey join. count(DISTINCT suppkey) expands to the
    standard two-phase plan: partial distinct on (group, suppkey), then
    the count — both phases share the group-key exchange.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size") <= 15)
    )
    deny = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(deny, li.l_suppkey == deny.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "subq_nested_semijoin_q20",
    oracle="""
        WITH qty AS (
          SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
          GROUP BY l_suppkey, l_partkey)
        SELECT s_suppkey, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AFRICA'
          AND s_suppkey IN (SELECT l_suppkey FROM qty WHERE q > 40)
    """,
    group="relational_ext5",
)
def subq_nested_semijoin_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: promotion-eligible suppliers — nested IN
    subqueries (parts by name → shipped quantity per (supplier, part) in
    one year above a threshold → suppliers in one region).

    Scale shape: innermost first — the part-name filter makes a keys-
    only semi-join side; the year window prunes lineitem at the scan.
    The quantity aggregate shuffles once on (suppkey, partkey); the
    outer IN becomes a left-semi join against the distinct surviving
    suppkeys (no fan-out). Region dims broadcast. Every join in the
    chain is keys-only until the final 3-column projection.
    """
    prefix_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    qty = (
        li.join(prefix_parts, li.l_partkey == prefix_parts.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 40)
        .select("l_suppkey")
        .distinct()
    )
    eu = _eu_suppliers(spark, sf_dir, "AFRICA")
    return eu.join(qty, eu.s_suppkey == qty.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name", "n_name"
    )


@register(
    "subq_self_exists_q21",
    oracle="""
        WITH per_sup AS (
          SELECT l_orderkey, l_suppkey, max(l_shipdate) AS sup_last
          FROM lineitem GROUP BY l_orderkey, l_suppkey),
        marked AS (
          SELECT l_orderkey, l_suppkey, sup_last,
                 count(*) OVER (PARTITION BY l_orderkey) AS n_sup,
                 max(sup_last) OVER (PARTITION BY l_orderkey) AS order_last
          FROM per_sup)
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM marked
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE o_orderstatus = 'F' AND n_sup > 1 AND sup_last = order_last
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    group="relational_ext5",
)
def subq_self_exists_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who kept orders waiting — the classic
    EXISTS (another supplier on the order) AND NOT EXISTS (anyone
    shipping later) double self-join on lineitem, expressed as one
    aggregate + one window pass instead of two extra joins. A supplier
    'kept the order waiting' when theirs is the last ship date on a
    finished multi-supplier order.

    Scale shape: the EXISTS/NOT-EXISTS pair would self-join lineitem
    twice (3× fact traffic); here lineitem is aggregated once on
    (orderkey, suppkey) and both existence tests become window
    functions over the SAME orderkey partitioning — Catalyst chains the
    groupBy and both windows on one exchange. The orders join then
    shuffles only the ~2-suppliers-per-order survivors; top-20 plans as
    TakeOrderedAndProject with a total tie-break.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_sup = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("sup_last")
    )
    w = Window.partitionBy("l_orderkey")
    marked = per_sup.withColumn("n_sup", F.count("*").over(w)).withColumn(
        "order_last", F.max("sup_last").over(w)
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        marked.where((F.col("n_sup") > 1) & (F.col("sup_last") == F.col("order_last")))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
