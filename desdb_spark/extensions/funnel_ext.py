"""Round-6 batch-10 time-constrained ordered funnel.

``events_funnel_conversion`` (extensions/pipeline_analytics.py) counts
unordered step reach; real funnel analysis is stricter: each step must
happen AFTER the previous step's first completion, and within a time
budget. That sequential dependency ("first view after the signup, first
purchase after that view") is what makes naive implementations
quadratic self-joins; the scalable form is a cascade of per-user
conditional milestones — each stage one aggregate over events joined to
the (tiny) per-user milestone of the stage before.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, maybe_broadcast, table_bytes

#: Funnel steps, in required order, and the per-step completion budget.
STEPS = ("signup", "view", "purchase")
BUDGET_HOURS = 24


@register(
    "events_funnel_ordered",
    oracle=f"""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = '{STEPS[0]}' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = '{STEPS[1]}' AND e.ts > s1.t1
              AND e.ts <= s1.t1 + INTERVAL '{BUDGET_HOURS} hours'
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = '{STEPS[2]}' AND e.ts > s2.t2
              AND e.ts <= s2.t2 + INTERVAL '{BUDGET_HOURS} hours'
            GROUP BY e.user_id
        )
        SELECT * FROM (
            SELECT 1 AS step, '{STEPS[0]}' AS event_type,
                   CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL
            SELECT 2, '{STEPS[1]}', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT 3, '{STEPS[2]}', CAST(count(*) AS BIGINT) FROM s3
        )
    """,
    group="funnel_ext",
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel with a {BUDGET_HOURS}h budget per step:
    users whose first signup is followed by a view within the budget,
    then by a purchase within the budget of THAT view; one row per step
    with the surviving user count.

    Scale shape: stage k is one aggregate over the events stream
    semi-joined to stage k-1's per-user milestone table — the milestone
    tables are ≤ one row per user (broadcastable long after events
    stop being), so each stage is a broadcast join + map-side-combinable
    min, never an events×events self-join. The sequential-dependency
    pattern that trips naive funnel SQL into quadratic plans costs
    |steps| linear passes here.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    budget = F.expr(f"INTERVAL {BUDGET_HOURS} HOURS")
    ev_bytes = table_bytes(sf_dir, "events")

    s1 = (
        ev.where(F.col("event_type") == STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == STEPS[1])
        # Milestones are ≤ one row per user, but user cardinality grows
        # with the corpus; the events table's on-disk bytes (a large
        # overestimate of the milestone frame) gate the hint for free.
        .join(maybe_broadcast(s1, ev_bytes), "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + budget))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == STEPS[2])
        .join(maybe_broadcast(s2, ev_bytes), "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + budget))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def count_row(step: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(step).alias("step"),
            F.lit(name).alias("event_type"),
            F.count("*").cast("bigint").alias("n_users"),
        )

    return (
        count_row(1, STEPS[0], s1)
        .unionAll(count_row(2, STEPS[1], s2))
        .unionAll(count_row(3, STEPS[2], s3))
    )
