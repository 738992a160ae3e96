"""Round-6 batch-5 conversion attribution over the events stream.

The canonical product-analytics ask: for every purchase, which earlier
touch (view/click) gets the credit? Last-touch = the latest touch
before the conversion; first-touch = the earliest in the lookback.
Both are windowed computations over per-user event-time order — no
joins at all when expressed right: interleave touches and conversions
in ONE sequence and let ``last(..., ignorenulls)`` carry the most
recent touch forward to each conversion row.

Reference parity: desdb had no attribution surface (SURVEY.md §2A —
reconstructed); new engine capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Touch events eligible for credit; conversions are purchases.
TOUCHES = ("view", "click")


@register(
    "events_attribution_last_touch",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN event_type IN ('view', 'click')
                        THEN event_type END AS touch
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ), credited AS (
            SELECT user_id, ts, event_id, event_type,
                   last_value(touch IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS credited_touch
            FROM seq
        )
        SELECT coalesce(credited_touch, '__organic__') AS credited_touch,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM credited
        WHERE event_type = 'purchase'
        GROUP BY 1
    """,
    group="attribution",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: per purchase, credit the user's most
    recent prior view/click (purchases with no prior touch are
    '__organic__'); report purchase counts per credited touch type.

    Scale shape: ONE window over (user_id, event-time) — touches and
    conversions interleaved in the same partition-ordered sequence,
    with ``last(touch, ignorenulls)`` over the strictly-preceding frame
    carrying the latest touch to each conversion. No self-join of
    touches × conversions (the naive formulation — a skew bomb for
    power users), one shuffle on user_id total. The tie-break includes
    event_id so same-timestamp sequences order identically in both
    engines.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.where(F.col("event_type").isin(*TOUCHES, "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type").isin(*TOUCHES), F.col("event_type")).alias(
            "touch"
        ),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    credited = seq.withColumn(
        "credited_touch", F.last("touch", ignorenulls=True).over(w)
    )
    return (
        credited.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("credited_touch"), F.lit("__organic__")).alias(
                "credited_touch"
            )
        )
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
    )


@register(
    "events_attribution_time_to_convert",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN event_type IN ('view', 'click')
                        THEN ts END AS touch_ts
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ), credited AS (
            SELECT user_id, ts, event_type,
                   last_value(touch_ts IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_touch_ts
            FROM seq
        )
        SELECT CAST(count(*) AS BIGINT) AS n_attributed,
               CAST(min(floor(epoch(ts)) - floor(epoch(last_touch_ts)))
                    AS BIGINT) AS min_gap_sec,
               CAST(max(floor(epoch(ts)) - floor(epoch(last_touch_ts)))
                    AS BIGINT) AS max_gap_sec,
               CAST(sum(floor(epoch(ts)) - floor(epoch(last_touch_ts)))
                    AS BIGINT) AS total_gap_sec
        FROM credited
        WHERE event_type = 'purchase' AND last_touch_ts IS NOT NULL
    """,
    group="attribution",
)
def events_attribution_time_to_convert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Touch-to-conversion latency: for attributed purchases (those with
    a prior view/click), the min/max/total seconds between the credited
    touch and the purchase — the funnel-velocity metric next to the
    credit split.

    Same single-window shape as last-touch attribution, carrying the
    touch TIMESTAMP forward instead of its type. Event timestamps carry
    sub-second precision, so both engines floor each endpoint to whole
    epoch seconds BEFORE differencing (Spark's ``unix_timestamp``
    truncates; the oracle floors explicitly) — differencing first and
    casting after would round vs truncate differently.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.where(F.col("event_type").isin(*TOUCHES, "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type").isin(*TOUCHES), F.col("ts")).alias("touch_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    credited = seq.withColumn(
        "last_touch_ts", F.last("touch_ts", ignorenulls=True).over(w)
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp("last_touch_ts")
    return (
        credited.where(
            (F.col("event_type") == "purchase")
            & F.col("last_touch_ts").isNotNull()
        )
        .agg(
            F.count("*").cast("bigint").alias("n_attributed"),
            F.min(gap).cast("bigint").alias("min_gap_sec"),
            F.max(gap).cast("bigint").alias("max_gap_sec"),
            F.sum(gap).cast("bigint").alias("total_gap_sec"),
        )
    )
