"""Round-6 batch-12 decay scoring and concentration analytics.

Two report shapes the earlier analytics waves didn't cover: the
exponentially time-decayed activity score (the feature-store staple —
recent behavior counts more, with a half-life instead of a hard
window), and revenue concentration (top-share and the Gini
coefficient — "how much of the corpus/revenue lives in how few
keys", the same audit that decides dedup and sampling priorities).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Decay half-life in days, and the reference "now" the ages are
#: measured from (fixed so the op is deterministic — never wall clock).
HALF_LIFE_DAYS = 7.0
ASOF = "2024-03-01"


@register(
    "events_decay_score",
    oracle=f"""
        WITH scored AS (
            SELECT user_id,
                   value * exp(-0.6931471805599453 *
                       (floor(epoch(TIMESTAMP '{ASOF}')) - floor(epoch(ts)))
                       / (86400.0 * {HALF_LIFE_DAYS})) AS w
            FROM events
            WHERE event_type = 'purchase' AND ts <= TIMESTAMP '{ASOF}'
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(w), 4) AS decay_score
        FROM scored GROUP BY user_id
        ORDER BY decay_score DESC, user_id LIMIT 50
    """,
    group="analytics_ext2",
)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 users by exponentially decayed purchase value with a
    {HALF_LIFE_DAYS}-day half-life as of a FIXED reference instant
    (never wall clock — determinism is the contract). weight =
    value·exp(−ln2·age/half_life); a purchase one half-life old counts
    half.

    Scale shape: the decay weight is a narrow codegen expression (one
    exp per row — both engines' libm agree far beyond the 4-dp
    rounding); the score is a map-side-combinable sum per user; top-50
    is a TakeOrderedAndProject. The same expression maintained
    incrementally is just "multiply yesterday's score by the day
    factor and add today" — the monoid form the incremental-merge op
    demonstrates. Ages are floored to whole epoch seconds on both
    engines before differencing (sub-second timestamps; §5.3).
    """
    ev = load_table(spark, sf_dir, "events")
    asof = F.lit(ASOF).cast("timestamp")
    age_sec = F.unix_timestamp(asof) - F.unix_timestamp("ts")
    w = F.col("value") * F.exp(
        F.lit(-0.6931471805599453) * age_sec / F.lit(86400.0 * HALF_LIFE_DAYS)
    )
    return (
        ev.where((F.col("event_type") == "purchase") & (F.col("ts") <= asof))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum(w), 4).alias("decay_score"),
        )
        .orderBy(F.desc("decay_score"), "user_id")
        .limit(50)
    )


@register(
    "analytics_revenue_concentration",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey, sum(o_totalprice) AS rev
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT rev,
                   row_number() OVER (ORDER BY rev, o_custkey) AS i,
                   count(*) OVER () AS n,
                   sum(rev) OVER () AS total
            FROM per_cust
        )
        SELECT CAST(max(n) AS BIGINT) AS n_customers,
               round(max(total), 2) AS total_revenue,
               round(sum(CASE WHEN i > n - CAST(ceil(n / 100.0) AS BIGINT)
                              THEN rev ELSE 0 END) / max(total), 4)
                   AS top1pct_share,
               round(2.0 * sum(i * rev) / (max(n) * max(total))
                     - (max(n) + 1.0) / max(n), 4) AS gini
        FROM ranked
    """,
    group="analytics_ext2",
)
def analytics_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration across customers: the share held by the
    top 1% and the Gini coefficient via the rank formula
    G = 2·Σ(i·revᵢ)/(n·Σrev) − (n+1)/n over revenue ranked ascending
    (ties broken by custkey so both engines rank identically). The
    audit that quantifies "a few keys dominate" before it becomes a
    skew problem — compare diag_join_key_skew, which profiles the same
    phenomenon at join time.

    Scale shape: per-customer sums are map-side combinable; the global
    rank is ONE sort of the per-customer aggregate (n_customers rows,
    not orders rows — the aggregate-then-rank order matters at scale);
    the concentration reduce is a single pass over the ranked rows. At
    extreme key cardinality the exact rank swaps for approx quantiles
    of the revenue distribution; the formula is otherwise unchanged.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    wr = W.orderBy("rev", "o_custkey")
    ranked = per_cust.select(
        "rev",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(W.partitionBy()).alias("n"),
        F.sum("rev").over(W.partitionBy()).alias("total"),
    )
    n = F.max("n").cast("double")
    total = F.max("total")
    # Row-level cutoff from the window-provided n (an aggregate inside
    # another aggregate's argument is illegal; n is constant per row).
    row_cut = F.col("n") - F.ceil(F.col("n") / F.lit(100.0)).cast("bigint")
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.round(total, 2).alias("total_revenue"),
        F.round(
            F.sum(
                F.when(F.col("i") > row_cut, F.col("rev")).otherwise(0.0)
            )
            / total,
            4,
        ).alias("top1pct_share"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("rev")) / (n * total)
            - (n + 1) / n,
            4,
        ).alias("gini"),
    )
