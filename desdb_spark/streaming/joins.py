"""Registered stream-stream join operator.

Promotes the library-tier ``stream_stream_interval_join`` (streaming/
windows.py) to a registered, driver-checkable operator: a real Structured
Streaming run joining two live streams — views enriched with the
purchases that follow them within an interval [desdb parity: the
reference's query surface is batch-only; this is the §2B streaming-group
extension of the same enrich shape, SURVEY.md §2B streaming].

Rows-only by design (streaming memory-sink job; the §2B convention for
stream demos). The batch-equivalence oracle lives in
tests/test_scale_helpers.py::test_stream_stream_interval_join_matches_batch
and the count parity against a batch interval join is asserted in
tests/test_streaming_joins.py.

Scale shape: both sides carry watermarks and the join condition bounds
the event-time difference, so state is evictable — the ONLY stream-stream
join formulation that survives an unbounded stream. The join itself
shuffles both streams on user_id; state per key is bounded by
interval + watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register


@register(
    "stream_stream_enrich_join",
    oracle="""
        SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
        FROM events v JOIN events p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts - INTERVAL '30 minutes'
         AND p.ts <= v.ts + INTERVAL '30 minutes'
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    group="streaming",
)
def stream_stream_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views stream ⋈ purchases stream on user_id, purchase within
    ±30 minutes of the view; joined pairs to an append-mode memory sink
    (trigger=availableNow). Append, not an aggregate on top: the join is
    the stateful operator under test, and stacking a complete-mode agg on
    a stream-stream join is exactly the multi-stateful-operator shape
    Spark restricts.

    Hash-checked: the staged source is a single file
    → one micro-batch, so the watermark can never evict state mid-input
    and the append-mode output of the interval join is EXACTLY the batch
    interval join DuckDB runs as the oracle (the same batch-equivalence
    §5.2 argument the windowed streaming ops use; additionally asserted
    in tests/test_scale_helpers.py)."""
    from desdb_spark.streaming.runner import events_stream, run_available_now
    from desdb_spark.streaming.windows import stream_stream_interval_join

    stage, read = events_stream(spark, sf_dir, "desdb_ssj_src_")
    views = read().where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    purchases = read().where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
    )
    joined = stream_stream_interval_join(
        views.withColumnRenamed("user_id", "v_user_id"),
        purchases.withColumnRenamed("p_user_id", "v_user_id"),
        key="v_user_id",
        left_ts="view_ts",
        right_ts="purchase_ts",
        interval="30 minutes",
        watermark="30 minutes",
    )
    pairs = joined.select(
        F.col("l.v_user_id").alias("user_id"), "view_ts", "purchase_ts"
    )
    return run_available_now(
        spark, pairs, "ssj_enrich", "append", stage_dir=stage,
        state_partitions=8,
    )
