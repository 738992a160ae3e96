"""Round-6 batch-22 Markov-chain entropy rate.

``events_transition_matrix`` (extensions/corpus_timeseries.py) builds
the first-order transition counts; this op reads off the chain's
ENTROPY RATE — H = Σ_s π(s)·H(next | s), the bits of unpredictability
per step (Shannon, public literature). The number behind bot detection
(scripted users have near-zero entropy rate — their next action is
determined) and behavioral segmentation, computed entirely from the
transition counts: π is the empirical source-state frequency, the
conditional entropies are one grouped sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "events_markov_entropy_rate",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events
        ), trans AS (
            SELECT prev, event_type AS nxt, CAST(count(*) AS DOUBLE) AS n
            FROM seq WHERE prev IS NOT NULL
            GROUP BY prev, event_type
        ), marg AS (
            SELECT prev, sum(n) AS row_n FROM trans GROUP BY prev
        ), tot AS (
            SELECT sum(n) AS t FROM trans
        ), cond AS (
            SELECT t.prev,
                   max(m.row_n) AS row_n,
                   -sum((t.n / m.row_n) * log2(t.n / m.row_n)) AS h_cond
            FROM trans t JOIN marg m ON t.prev = m.prev
            GROUP BY t.prev
        )
        SELECT prev AS state,
               CAST(row_n AS BIGINT) AS n_transitions,
               round(h_cond, 4) AS h_conditional_bits,
               round(sum(row_n / (SELECT t FROM tot) * h_cond) OVER (), 4)
                   AS h_rate_bits
        FROM cond
    """,
    group="markov_ext",
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy H(next | state) of the user-stream
    Markov chain plus the chain's entropy rate Σ π(s)·H(next|s) (π =
    empirical source-state share), in bits — one row per state with the
    shared rate attached. ~2.32 bits (log₂ 5) would be a fully random
    5-state stream; materially lower means predictable (scripted)
    behavior.

    Scale shape: the transition counts are the same
    one-shuffle-lag-then-count plan as events_transition_matrix; the
    entropy arithmetic runs over the |states|² count table (25 rows),
    and the rate window spans |states| rows — everything after the
    first aggregate is constant-size. log2 rounds at 4 dp, far above
    engine libm drift.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select("event_type", F.lag("event_type").over(w).alias("prev"))
        .where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count("*").cast("double").alias("n"))
    )
    marg = trans.groupBy("prev").agg(F.sum("n").alias("row_n"))
    p = F.col("n") / F.col("row_n")
    cond = (
        trans.join(F.broadcast(marg), "prev")
        .groupBy("prev")
        .agg(
            F.max("row_n").alias("row_n"),
            (-F.sum(p * F.log2(p))).alias("h_cond"),
        )
    )
    wall = W.partitionBy()
    total = F.sum("row_n").over(wall)
    return cond.select(
        F.col("prev").alias("state"),
        F.col("row_n").cast("bigint").alias("n_transitions"),
        F.round("h_cond", 4).alias("h_conditional_bits"),
        F.round(
            F.sum(F.col("row_n") * F.col("h_cond")).over(wall) / total, 4
        ).alias("h_rate_bits"),
    )
