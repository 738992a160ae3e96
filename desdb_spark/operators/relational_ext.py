"""Relational coverage extensions, round 3 (SURVEY.md §2B widening).

Composite TPC-H-shape queries (Q3/Q5/Q10 adapted to the fixture schema),
regex/hash scalar families, bitwise and median aggregates, unpivot, the
multiset set operators, and batch sessionization. Everything here is pure
built-in expression work — one declarative plan per op, no UDFs — so
Catalyst gets full pushdown/pruning/reorder freedom and the plans survive a
100× scale-up unchanged (broadcast dims, shuffle only on the group/join
keys).

Reference parity: these are the canned multi-table analysis queries a
desdb user issued as literal SQL through ``Connection.quick()``
[desdb:desdb.py quick — reconstructed, SURVEY.md §0 / §2A A1]; the engine
gives each shape a first-class DataFrame operator plus the same SQL via
the view catalog.

Determinism rules (SURVEY.md §5.3): every float aggregate is rounded
(sum→2dp, avg→4dp) and every LIMIT is preceded by a total order on the
*rounded* value plus the key columns, so the cut line is identical in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q3_shipping_priority",
    oracle="""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    group="relational_ext",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top unshipped orders by revenue for one segment.

    Plan shape at scale: the segment filter is pushed to the customer scan;
    orders⋈lineitem is the big shuffle; the top-10 is TakeOrderedAndProject
    (no global sort). No join carries a broadcast hint: customer scales
    linearly with SF (~15M rows/TB), and the planner sizes every scan
    against ``autoBroadcastJoinThreshold``, broadcasting the filtered side
    when (and only when) it actually fits.
    """
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    group="relational_ext",
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier are
    co-national, one region, one order-year.

    Six-way join with no broadcast hints: every build side is a table
    scan, which the planner sizes against ``autoBroadcastJoinThreshold``.
    It broadcasts nation/region (25/5 rows) at any SF and customer/supplier
    at fixture scale, and falls back to shuffle joins at 100 TB where a
    forced broadcast would OOM. The orders⋈lineitem orderkey shuffle stays
    the dominant exchange either way — same star discipline as
    join_multiway_star (operators/joins.py).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
        SELECT c_custkey, c_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    group="relational_ext",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by revenue lost to returned items.

    No broadcast hints: the planner sizes the customer and nation scans
    against ``autoBroadcastJoinThreshold`` itself.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "scalar_regex_funcs",
    oracle="""
        SELECT p_partkey,
               regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
               regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
               CAST(regexp_matches(p_brand, '[0-9]$') AS BOOLEAN) AS brand_num_tail
        FROM part
    """,
    group="relational_ext",
)
def scalar_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family: extract / global replace / match predicate.

    All three are codegen'd JVM expressions — the per-row cost is the regex
    engine, not interpreter overhead. Patterns stick to the RE2∩Java-regex
    common subset so both engines agree (SURVEY.md §5.3 portability note).
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.col("p_brand").rlike("[0-9]$").alias("brand_num_tail"),
    )


@register(
    "scalar_hash_funcs",
    oracle="""
        SELECT c_custkey,
               md5(c_name) AS name_md5,
               sha256(c_name) AS name_sha256,
               length(c_name) AS name_len
        FROM customer
    """,
    group="relational_ext",
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest scalars — the content-addressing primitives the
    dedup tier builds on (extensions/dedup.py uses md5 as the exact-dup
    key). md5/sha256 produce identical hex in any engine, which is what
    makes digest-keyed shuffles portable across a mixed pipeline."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_name", 256).alias("name_sha256"),
        F.length("c_name").cast("bigint").alias("name_len"),
    )


@register(
    "agg_bitwise",
    oracle="""
        SELECT l_returnflag,
               CAST(bit_and(l_linenumber) AS BIGINT) AS flags_and,
               CAST(bit_or(l_linenumber) AS BIGINT) AS flags_or,
               CAST(bit_xor(l_linenumber) AS BIGINT) AS flags_xor
        FROM lineitem
        GROUP BY l_returnflag
    """,
    group="relational_ext",
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates — flag-mask accumulation. Commutative
    and associative, so Spark runs them map-side partial like any hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_linenumber").cast("bigint").alias("flags_and"),
        F.bit_or("l_linenumber").cast("bigint").alias("flags_or"),
        F.bit_xor("l_linenumber").cast("bigint").alias("flags_xor"),
    )


@register(
    "agg_median",
    oracle="""
        SELECT l_returnflag,
               round(median(l_quantity), 4) AS med_qty,
               round(median(l_extendedprice), 4) AS med_price,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    group="relational_ext",
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median per group (interpolating, even-count = midpoint —
    identical definition in both engines). Exact medians need the group's
    values together (Spark sorts within the hash agg buffer); the
    sketch-based scale path for wide groups is approx_percentile
    (agg_approx_count_distinct's HLL analogue for quantiles), kept in
    operators/aggregates_ext.py percentiles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
        F.count("*").alias("n"),
    )


@register(
    "unpivot_stack",
    oracle="""
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
        FROM part
    """,
    group="relational_ext",
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt). Spark's ``unpivot`` expands each row to
    len(values) rows inside the scan stage — a generator, not a shuffle —
    so at 100 TB the cost is the extra rows, never a repartition. Inverse
    of agg_pivot (operators/aggregates_ext.py)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "set_intersect_all",
    oracle="""
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        INTERSECT ALL
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    """,
    group="relational_ext",
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset intersection (bag semantics: multiplicity = min of the two
    sides). Plans as a count-compare hash aggregate on the value — one
    shuffle on the row itself, same as distinct."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return c.intersectAll(s)


@register(
    "set_except_all",
    oracle="""
        SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        EXCEPT ALL
        SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
    """,
    group="relational_ext",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (multiplicity = left − right, floored at 0)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return c.exceptAll(s)


@register(
    "events_sessionize_batch",
    oracle="""
        WITH gaps AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_idx
            FROM gaps
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events, round(sum(value), 4) AS sum_value
        FROM sess
        GROUP BY user_id, session_idx
    """,
    group="relational_ext",
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute inactivity gap splits a user's
    events into sessions (the offline twin of stream_session_window).

    Classic lag→flag→running-sum→groupBy: one shuffle on user_id serves
    both window passes AND the final aggregate (same partitioning key), so
    Catalyst reuses the exchange — sessionizing 100 TB of events costs one
    shuffle of (user_id, ts, value). Ties on ts break by event_id so the
    lag order is total in both engines.
    """
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap measured in microseconds: a seconds-granularity cast would floor
    # each timestamp and disagree with the oracle's exact interval compare
    # on sub-second boundaries.
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.select("user_id", "ts", "value", "event_id").withColumn(
        "session_idx", F.sum(is_new).over(run).cast("bigint")
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
