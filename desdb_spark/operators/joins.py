"""Join operators (SURVEY.md §2B joins).

Reference parity: desdb's canned queries are 2–5-way inner equi-joins of
image/catalog/location tables with equality + IN-list predicates
[desdb:files.py Red/Coadd — SURVEY.md §2A A6]; everything else arrives via
arbitrary-SQL passthrough (A1). The as-of and lineage shapes come from the
provenance walk (A7) and the time-series north star.

Scale notes (100 TB):
- Dimension joins (nation/region/customer-at-small-SF) are *broadcast* by
  the planner's own size check, with no hint — no shuffle of the fact
  table. Asserted in tests/test_plans.py.
- Large-large joins (orders⋈lineitem) shuffle on the join key; AQE handles
  skew splitting. A `merge` hint pins sort-merge where hash would spill.
- The theta/band join avoids a full cross product by bucketing both sides
  on a coarsened key (floor(acctbal/band)) and joining only neighbor
  buckets — the standard range-join trick; a naive BNLJ dies at scale.
- The as-of join is the union+window form: O(n log n) per user partition,
  one shuffle, no range join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "join_inner_hash",
    oracle="""
        SELECT c_custkey, c_name, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    group="joins",
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈nation equi-join (the A6 shape)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return c.join(n, c.c_nationkey == n.n_nationkey, "inner").select(
        "c_custkey", "c_name", "n_name"
    )


@register(
    "join_broadcast_dim",
    oracle="""
        SELECT n_name, count(*) AS order_cnt, round(sum(o_totalprice), 2) AS total_rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    group="joins",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim where the planner broadcasts both dims (sized against
    ``autoBroadcastJoinThreshold``) — zero fact-side shuffle for the join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_rev"),
        )
    )


@register(
    "join_sort_merge_large",
    oracle="""
        SELECT o_orderpriority, count(*) AS cnt, round(sum(l_extendedprice), 2) AS rev
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate
        GROUP BY o_orderpriority
    """,
    group="joins",
)
def join_sort_merge_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large orders⋈lineitem with a post-join predicate; sort-merge hint."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(li, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
        SELECT n_name, count(o_orderkey) AS order_cnt
        FROM nation
        LEFT JOIN customer ON c_nationkey = n_nationkey
        LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY n_name
    """,
    group="joins",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nations kept, order counts possibly zero."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("n_name")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    group="joins",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 order — EXISTS → left-semi join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
        SELECT count(*) AS no_urgent_customers FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
    """,
    group="joins",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no urgent orders — NOT EXISTS → left-anti join, counted.

    (The priority predicate keeps the result non-degenerate: every fixture
    customer has *some* order at sf0.01.)
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("no_urgent_customers"))
    )


@register(
    "join_theta_range",
    oracle="""
        SELECT c_custkey, s_suppkey
        FROM customer JOIN supplier
          ON c_acctbal BETWEEN s_acctbal - 0.5 AND s_acctbal + 0.5
    """,
    group="joins",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band join, bucketized so it scales.

    Instead of a broadcast-nested-loop over the full cross product, both
    sides get a coarse bucket key floor(acctbal / band); a pair within
    ±band can only land in the same or an adjacent bucket, so supplier is
    exploded to its 3 candidate buckets and the join becomes an *equi*
    join on bucket + residual predicate — shuffle-partitionable at 100 TB.
    """
    band = 0.5
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c_b = c.withColumn("bucket", F.floor(F.col("c_acctbal") / band))
    s_b = s.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.floor(F.col("s_acctbal") / band) - 1,
                F.floor(F.col("s_acctbal") / band),
                F.floor(F.col("s_acctbal") / band) + 1,
            )
        ),
    )
    return (
        c_b.join(s_b, "bucket")
        .where(F.col("c_acctbal").between(F.col("s_acctbal") - band, F.col("s_acctbal") + band))
        .select("c_custkey", "s_suppkey")
    )


@register(
    "join_asof",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT max(c.ts) FROM events c
                 WHERE c.user_id = p.user_id AND c.event_type = 'click'
                   AND c.ts <= p.ts) AS last_click_ts
        FROM events p
        WHERE p.event_type = 'purchase'
    """,
    group="joins",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest 'click' at-or-before each 'purchase', per user.

    Implemented as union + running max over an event-time window — one
    shuffle on user_id, no range join. This is the scalable form: at
    100 TB a correlated range join is quadratic per user; the window scan
    is O(n log n) and partition-local after the shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_type"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # 'click' < 'purchase' lexically, so an equal-ts click sorts first and
    # is visible to the purchase — matching the oracle's c.ts <= p.ts.
    return (
        tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@register(
    "join_multiway_star",
    oracle="""
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
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
    """,
    group="joins",
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q5-shaped 5-way star join (region-restricted revenue).

    The planner broadcasts the dims (supplier/nation/region, customer at
    fixture scale); only orders⋈lineitem shuffles. Filters sit on the scan
    side so Catalyst pushes them below the joins.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    o_f = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .join(c, o_f.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "join_lineage_walk",
    oracle="""
        SELECT n_name, count(*) AS item_cnt
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    group="joins",
)
def join_lineage_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-depth provenance chain lineitem→orders→customer→nation.

    The A7 srclist walk at bounded depth; the unbounded-depth variant
    (recursive CTE + driver-loop fallback) lives in plans/lineage.py.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("item_cnt"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Generic as-of join: for each left row, the latest right row with
    ``right.on <= left.on`` (direction='backward') or the earliest with
    ``right.on >= left.on`` ('forward'), matched within ``by`` groups.

    Implementation: union both sides tagged, one window pass per group —
    one shuffle on ``by``, O(n log n) per group, no range join. This is
    the scalable form of the fixture-bound ``join_asof`` operator and of
    pandas.merge_asof / DuckDB ASOF JOIN semantics (ties: right rows at
    exactly left.on DO match).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    if right_cols is None:  # explicit [] means "keys only", not "all columns"
        right_cols = [c for c in right.columns if c not in (on, by)]
    clashes = set(right_cols) & {c for c in left.columns if c not in (on, by)}
    if clashes:
        raise ValueError(
            f"asof_join: right_cols {sorted(clashes)} collide with left columns; "
            "rename or project before joining"
        )
    l_tag = left.select(
        F.col(by).alias("_by"), F.col(on).alias("_on"), F.lit(1).alias("_is_left"),
        *[F.col(c) for c in left.columns if c not in (on, by)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_cols],
    )
    r_tag = right.select(
        F.col(by).alias("_by"), F.col(on).alias("_on"), F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in (on, by)],
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    u = l_tag.unionByName(r_tag)
    if direction == "backward":
        # Right rows sort before left rows at equal _on (ties match).
        w = (
            Window.partitionBy("_by")
            .orderBy(F.col("_on").asc(), F.col("_is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.select(
            "*", *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_f_{c}")
                   for c in right_cols]
        )
    else:
        w = (
            Window.partitionBy("_by")
            .orderBy(F.col("_on").desc(), F.col("_is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.select(
            "*", *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_f_{c}")
                   for c in right_cols]
        )
    out_cols = (
        [F.col("_by").alias(by), F.col("_on").alias(on)]
        + [F.col(c) for c in left.columns if c not in (on, by)]
        + [F.col(f"_f_{c}").alias(c) for c in right_cols]
    )
    return filled.where(F.col("_is_left") == 1).select(*out_cols)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: pre-salt the fact side, replicate the dim.

    AQE's skew-join splitting (enabled session-wide) is the first line of
    defense, but it only splits *shuffle* partitions it can observe at
    runtime; pre-salting is the tool when one key dominates so hard that a
    single key exceeds an executor (power-law join keys at 100 TB), or for
    join types AQE won't split. Each fact row gets a deterministic salt in
    [0, salt) from a hash of its full row (any distribution is correct —
    the salt only spreads rows), and the dim side is exploded ``salt``
    ways, so (key, salt) equi-join partitions the hot key into ``salt``
    tasks. Dim replication cost: |dim| × salt rows — use for small/medium
    dims only.
    """
    keys = on if isinstance(on, list) else [on]
    salt_col = F.pmod(
        F.abs(F.xxhash64(*[F.col(c) for c in fact.columns])), F.lit(salt)
    ).cast("int")
    f = fact.withColumn("_salt", salt_col)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return f.join(d, [*keys, "_salt"], how).drop("_salt")
