"""Round-6 batch-19 streaming windowed top-k.

"Top users per hour" on a live stream is a two-stage shape: the
STREAMING stage maintains the windowed aggregate (incremental,
watermarked, state bounded by windows × keys), and the RANKING stage
runs per completed window — ranking is not an incremental-friendly
operator (a new row can displace any rank), so production pipelines
rank in the sink query or a foreachBatch, not in the stream. This op
registers that whole shape end to end and hash-checks it against the
batch equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from desdb_spark.registry import register

_ORACLE = """
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
               user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY win_start
                   ORDER BY n_events DESC, user_id) AS rk
        FROM agg
    )
    SELECT win_start, user_id, n_events, sum_value
    FROM ranked WHERE rk <= 3
"""


@register("stream_windowed_topk_users", oracle=_ORACLE, group="streaming")
def stream_windowed_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by event count per 1-hour tumbling window: a real
    watermarked streaming windowed aggregation (availableNow, memory
    sink), then the per-window rank computed OVER THE SINK — the
    standard split, because rank is not incrementally maintainable and
    Spark correctly refuses it inside the stream.

    Hash-checked via the single-file/single-micro-batch §5.2 argument:
    complete-mode windowed counts over the whole input equal the batch
    GROUP BY, and the rank stage is deterministic with the
    (n_events DESC, user_id) total order.

    Scale shape: streaming state is one row per (window, user) bounded
    by the watermark; the rank stage's input is the aggregate (windows ×
    active users), not events. At cluster scale the sink is a table the
    rank query reads per trigger — same plan, durable sink.
    """
    from desdb_spark.streaming.runner import events_stream, run_available_now

    stage, read = events_stream(spark, sf_dir, "desdb_wtopk_src_")
    stream = read()
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "user_id", "n_events",
                "sum_value")
    )
    sunk = run_available_now(
        spark, agg, "wtopk", "complete", stage_dir=stage, state_partitions=8
    )
    rk = F.row_number().over(
        W.partitionBy("win_start").orderBy(F.desc("n_events"), "user_id")
    )
    return sunk.withColumn("rk", rk).where(F.col("rk") <= 3).drop("rk")
