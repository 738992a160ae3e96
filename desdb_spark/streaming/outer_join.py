"""Watermarked stream-stream LEFT and FULL OUTER interval joins — the
"every view, with its purchase if one came" shape.
Inner interval joins (streaming/joins.py) drop unmatched rows; the
outer variant must additionally decide WHEN an unmatched left row is
safe to emit with nulls, which is exactly what the watermark provides:
once the global watermark passes ``view_ts + interval``, no qualifying
purchase can still arrive, and Spark emits the null-padded row from
join state.

Batch equivalence (the §5.2 argument, outer edition): the global
watermark is ``min(max view_ts, max purchase_ts) − delay`` (the join
takes the MINIMUM across its watermarked inputs — verified empirically:
the purchase stream's earlier last event is what gates the flush), so
availableNow's closing batch is guaranteed to have emitted every
unmatched view with ``view_ts + interval`` strictly inside that
watermark. Hashing the SINK filtered to
``view_ts < min_max − delay − interval − 1min`` therefore equals the
batch left join under the same cutoff — and the filter must sit on the
OUTPUT, never the input stream: filtering the view stream itself would
lower the view-side watermark and push the flush boundary back by
exactly the amount filtered (measured before this design was chosen).
The excluded tail is what a real deployment emits on the next trigger;
the cutoff is the deterministic-evidence knob, not a semantic limit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register

INTERVAL = "30 minutes"
WATERMARK = "30 minutes"
#: delay + interval + 1-minute strictness margin (see module doc).
CUTOFF = "61 minutes"


def _outer_interval_join(
    spark: SparkSession, sf_dir: str, how: str, name: str
) -> tuple[DataFrame, Column]:
    """Views stream ``how`` ⋈ purchases stream on user_id within
    ±{INTERVAL}, run to an append-mode memory sink: ``(sink, cut)``, with
    ``cut`` the deterministically-flushed region's bound
    ``min_max − CUTOFF`` (module docstring). ``user_id`` is the view's,
    or the purchase's on a purchase-only row.

    Scale shape: both sides keyed by user_id, state bounded by watermark
    + interval eviction, plus outer-deadline tracking; the only
    formulation of an outer stream join that survives an unbounded
    stream. The cutoff scalar is one driver aggregate on the batch twin,
    a literal in the caller's sink filter — no crossJoin anywhere.
    """
    from desdb_spark.session import load_table
    from desdb_spark.streaming.runner import events_stream, run_available_now

    min_max = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m"))
        .first()[0]
    )  # driver scalar (1 value): the watermark-gating input maximum

    stage, read = events_stream(spark, sf_dir, f"desdb_{name}_src_")
    views = (
        read()
        .where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        read()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    cond = (
        (F.col("v_user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts") - F.expr(f"INTERVAL {INTERVAL}"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {INTERVAL}"))
    )
    joined = views.join(purchases, cond, how).select(
        F.coalesce("v_user_id", "p_user_id").alias("user_id"),
        "view_ts",
        "purchase_ts",
    )
    sink = run_available_now(
        spark, joined, f"ssj_{name}", "append", stage_dir=stage,
        state_partitions=8,
    )
    return sink, F.lit(min_max) - F.expr(f"INTERVAL {CUTOFF}")


@register(
    "stream_stream_left_outer_join",
    oracle=f"""
        WITH mx AS (
            SELECT min(m) AS m FROM (
                SELECT max(ts) AS m FROM events WHERE event_type = 'view'
                UNION ALL
                SELECT max(ts) FROM events WHERE event_type = 'purchase'
            )
        ),
        v AS (
            SELECT user_id, ts FROM events, mx
            WHERE event_type = 'view' AND ts < mx.m - INTERVAL '{CUTOFF}'
        ),
        p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts - INTERVAL '{INTERVAL}'
         AND p.ts <= v.ts + INTERVAL '{INTERVAL}'
    """,
    group="streaming",
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views stream LEFT OUTER ⋈ purchases stream on user_id within
    ±{INTERVAL}; unmatched views emit null purchase_ts once the global
    watermark passes their outer deadline. Append-mode memory sink,
    trigger=availableNow; the returned frame is the sink restricted to
    the deterministically-flushed region (module docstring).

    Scale shape: identical state layout to the inner interval join
    (``_outer_interval_join``).
    """
    sink, cut = _outer_interval_join(spark, sf_dir, "leftOuter", "louter")
    return sink.where(F.col("view_ts") < cut)


@register(
    "stream_stream_full_outer_join",
    # Symmetric output-region argument (module docstring, both-sides
    # edition): matched pairs emit immediately and identically to batch;
    # an unmatched row on EITHER side flushes once the global watermark
    # passes its ts + interval, guaranteed for ts < min_max − cutoff.
    # The SAME output filter — every non-null ts below the cutoff —
    # applied to the batch full join therefore selects an identical set.
    oracle=f"""
        WITH mx AS (
            SELECT min(m) AS m FROM (
                SELECT max(ts) AS m FROM events WHERE event_type = 'view'
                UNION ALL
                SELECT max(ts) FROM events WHERE event_type = 'purchase'
            )
        ),
        v AS (
            SELECT user_id AS v_user_id, ts AS view_ts FROM events
            WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id AS p_user_id, ts AS purchase_ts FROM events
            WHERE event_type = 'purchase'
        )
        SELECT coalesce(v.v_user_id, p.p_user_id) AS user_id,
               v.view_ts, p.purchase_ts
        FROM v FULL JOIN p
          ON p.p_user_id = v.v_user_id
         AND p.purchase_ts >= v.view_ts - INTERVAL '{INTERVAL}'
         AND p.purchase_ts <= v.view_ts + INTERVAL '{INTERVAL}', mx
        WHERE (v.view_ts IS NULL OR v.view_ts < mx.m - INTERVAL '{CUTOFF}')
          AND (p.purchase_ts IS NULL
               OR p.purchase_ts < mx.m - INTERVAL '{CUTOFF}')
    """,
    group="streaming",
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views FULL OUTER ⋈ purchases within ±{INTERVAL}: every view with
    its purchase if one came, every purchase with its view if one came,
    nulls on whichever side never matched — the reconcile-two-feeds
    shape. Append-mode memory sink, trigger=availableNow; the returned
    frame keeps only rows whose non-null timestamps sit in the
    deterministically-flushed region, which the SAME filter makes
    hash-equal to the batch full join.

    Scale shape: identical to the left-outer op
    (``_outer_interval_join``); the only addition is that BOTH sides'
    nulls flush, so the output filter is symmetric.
    """
    sink, cut = _outer_interval_join(spark, sf_dir, "fullOuter", "fouter")
    return sink.where(
        (F.col("view_ts").isNull() | (F.col("view_ts") < cut))
        & (F.col("purchase_ts").isNull() | (F.col("purchase_ts") < cut))
    )
