"""Round-6 batch-5 stream-static enrichment join.

The most common streaming join in production is not stream-stream: it
is a live fact stream enriched against a SLOW dimension table (user →
segment, product → category). Structured Streaming plans this as a
stateless per-micro-batch join — no watermark, no join state at all;
the static side is just re-planned each batch (and broadcast when
small, exactly like batch). The registry's streaming group had the
stream-stream interval join, windowed aggregates, dedup, foreachBatch
and restart semantics, but not this bread-and-butter shape.

Hash-checked: availableNow over a single staged file is one micro-batch,
so the append-mode output equals the batch join DuckDB runs (§5.2
batch-equivalence argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register

_ORACLE = """
    WITH seg AS (
        SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer
    )
    SELECT s.segment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e JOIN seg s ON e.user_id = s.user_id
    GROUP BY s.segment
"""


@register("stream_static_enrich", oracle=_ORACLE, group="streaming")
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream ⋈ static customer-segment dimension on user_id,
    aggregated per segment from the memory sink.

    Scale shape: the static side is a broadcast hash join INSIDE each
    micro-batch — the planner sizes the customer scan against
    ``autoBroadcastJoinThreshold`` at every re-plan, so past it the
    batch shuffles instead. Zero streaming state, because the dimension is not a
    stream and needs no watermark bookkeeping; dimension updates are
    picked up at the next micro-batch's re-plan (the standard
    slowly-refreshing-dim pattern). The stream side shuffles nothing
    for the join; only the final segment aggregate combines.
    """
    from desdb_spark.session import (
        load_table,
        normalize_events_ts,
        parquet_schema,
        pin_session_confs,
    )
    from desdb_spark.streaming.runner import run_available_now, stage_file_source

    pin_session_confs(spark)
    stage = stage_file_source(f"{sf_dir}/events.parquet", "desdb_sse_src_")
    schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(schema).parquet(stage)
    ).select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    enriched = stream.join(dim, "user_id").select("segment", "value")
    sunk = run_available_now(spark, enriched, "sse_enrich", "append", stage_dir=stage)
    return sunk.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
