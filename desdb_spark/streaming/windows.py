"""Structured Streaming operators (SURVEY.md §2B streaming).

Reference parity: desdb had no streaming; this is the north-star extension
(BASELINE.json north_star) expressed with Spark's native streaming
primitives. Correctness strategy per SURVEY.md §5.2: the *final* result of
a windowed aggregation over a complete input equals the same aggregation
run in batch, so each op's oracle is the batch-SQL equivalent; the
watermark op additionally runs a real ``readStream`` → memory-sink job
(trigger availableNow) to demonstrate the streaming path end-to-end.

Scale notes (100 TB/day): windowed aggs keep state per (window, key) only;
watermarks bound state eviction; session windows use Spark's native
session_window state merging. For production: RocksDB state store +
``dropDuplicatesWithinWatermark`` so dedup state doesn't grow unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table


@register(
    "stream_tumbling_window",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS cnt, round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    group="streaming",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling counts/sums per event_type (F.window)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle="""
        WITH s AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts) AS w0, value FROM events
        ), x AS (
            SELECT w0 AS window_start, value FROM s
            UNION ALL
            SELECT w0 - INTERVAL '30 minutes' AS window_start, value FROM s
        )
        SELECT window_start, count(*) AS cnt, round(sum(value), 4) AS sum_value
        FROM x GROUP BY window_start
    """,
    group="streaming",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min.

    Each event lands in exactly 2 windows; the oracle materializes both
    membership copies explicitly (tumble + shifted tumble).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "cnt", "sum_value")
    )


@register(
    "stream_session_window",
    oracle="""
        WITH g AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM g
        )
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               count(*) AS cnt, round(sum(value), 4) AS sum_value
        FROM s GROUP BY user_id, sess_id
    """,
    group="streaming",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user via native session_window.

    Spark merges events with gap < 30 min; a gap of exactly 30 min starts
    a new session (window end is exclusive), hence the oracle's ``>=``.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "cnt",
            "sum_value",
        )
    )


@register(
    "stream_dedup_stateful",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    group="streaming",
)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup on (user_id, event_type).

    Batch form of ``dropDuplicates`` projected to the key columns so the
    result is deterministic; the streaming analogue is
    ``dropDuplicatesWithinWatermark`` (state bounded by the watermark).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    )


@register("stream_late_data_watermark", group="streaming")  # rows-only: semantic demo
def stream_late_data_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Structured Streaming run: file source → watermarked tumbling agg
    → memory sink, trigger=availableNow.

    Demonstrates the full streaming path (SURVEY.md §5.2.5). With a
    complete, ordered-enough input the 10-min watermark drops nothing, so
    row counts match the batch tumbling query; the late-row drop itself is
    asserted in tests/test_streaming.py with a hand-built late stream.
    Idempotent: unique sink name + staged-source cleanup per call
    (streaming/runner.py).
    """
    from desdb_spark.session import (
        normalize_events_ts,
        parquet_schema,
        pin_session_confs,
    )
    from desdb_spark.streaming.runner import run_available_now, stage_file_source

    pin_session_confs(spark)  # direct read below; driver session may be vanilla
    stage = stage_file_source(f"{sf_dir}/events.parquet", "desdb_stream_src_")
    batch_schema = parquet_schema(spark, f"{sf_dir}/events.parquet")
    stream = normalize_events_ts(
        spark.readStream.schema(batch_schema).parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("window_start"), "event_type", "cnt")
    )
    return run_available_now(
        spark, agg, "late_data_demo", "complete", stage_dir=stage,
        state_partitions=8,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join within a time interval.

    The canonical enrich-one-stream-with-another shape (clicks⋈impressions):
    rows join when keys match and ``right_ts`` lies within ±interval of
    ``left_ts``. Both sides carry a watermark and the join condition bounds
    the time difference, so Spark can size and EVICT the join state — the
    only formulation that survives an unbounded stream; an unconstrained
    stream-stream join must buffer both streams forever. Works identically
    on batch DataFrames (minus the watermark), which is how the test
    oracles it.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {interval}")
        )
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {interval}")
        )
    )
    return lw.join(rw, cond, "inner")


def dedup_within_watermark_stream(
    events_stream: DataFrame, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``.

    Unlike plain streaming dropDuplicates (whose key state grows forever),
    the watermark bounds how long each key is remembered — the only
    viable dedup shape for an unbounded 100 TB/day stream. Batch-mode
    semantics are covered by stream_dedup_stateful's oracle.
    """
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )
