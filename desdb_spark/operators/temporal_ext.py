"""Round-6 batch-15 point-in-time (versioned) join.

The canonical temporal-warehouse query: join each fact to the dimension
VERSION that was valid at the fact's timestamp — training-data folks
know it as the feature-store "point-in-time correct" join that prevents
label leakage. The naive form is a range join against an SCD2 span
table (fact.ts ∈ [valid_from, valid_to)); the scalable form used here
is the asof-carry: interleave version-start rows and fact rows in ONE
per-key event-time sequence and carry the latest version attribute
forward — identical semantics (a span's attribute is exactly the last
version started at-or-before the fact), one shuffle, no range join, no
span materialization. tests/test_temporal_ext.py asserts the carry
equals the explicit between-join against the SCD2 spans on the same
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "join_pit_versioned",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type <> 'purchase' THEN 0 ELSE 1 END AS kind,
                   CASE WHEN event_type <> 'purchase' THEN event_type END
                       AS state,
                   CASE WHEN event_type = 'purchase' THEN value END AS fact_val
            FROM events
        ), carried AS (
            SELECT user_id, kind, fact_val,
                   last_value(state IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ts, kind, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS state_at_fact
            FROM seq
        )
        SELECT coalesce(state_at_fact, '__none__') AS state,
               CAST(count(*) AS BIGINT) AS n_purchases,
               round(sum(fact_val), 4) AS total_value
        FROM carried
        WHERE kind = 1
        GROUP BY 1
    """,
    group="temporal_ext",
)
def join_pit_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute every purchase to the user's state (their latest
    non-purchase event type) as of the purchase instant — a
    point-in-time join of facts against the implicit SCD2 state
    history, reported as purchase count and value per attributed state
    ('__none__' = purchases before any state exists).

    Tie semantics: a state change at exactly the purchase timestamp
    applies to that purchase (version rows order before fact rows at
    equal ts — the `kind` column), matching the span definition
    valid_from <= ts < valid_to.

    Scale shape: ONE window over (user_id, event time) does the whole
    join — no span table, no range join, no state-stream dedup (carrying
    every state event forward is equivalent to joining run-spans, since
    a run's attribute is its last event's value too). Contrast
    join_theta_range/join_interval_overlap, which exist for when both
    sides' intervals are real; when one side is versions, asof-carry is
    strictly cheaper.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") != "purchase", 0).otherwise(1).alias("kind"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "state"
        ),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("fact_val"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = seq.withColumn(
        "state_at_fact", F.last("state", ignorenulls=True).over(w)
    )
    return (
        carried.where(F.col("kind") == 1)
        .groupBy(
            F.coalesce(F.col("state_at_fact"), F.lit("__none__")).alias("state")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.round(F.sum("fact_val"), 4).alias("total_value"),
        )
    )
