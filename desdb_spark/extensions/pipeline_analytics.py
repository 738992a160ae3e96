"""Pipeline analytics: funnel / retention / corpus-frequency / embedding
centroid ops (round 4 batch 3).

The training-data-pipeline tier beyond SURVEY.md §2B: the event-stream and
corpus questions a desdb-style catalog user asks right after the canned
relational queries [desdb:bin/des-query arbitrary SQL — reconstructed,
SURVEY.md §0 / §2A A1]. Everything is built-in-expression work (explode /
posexplode / window / groupBy) — no Python row path anywhere.

Determinism per SURVEY.md §5.3: counts are exact; float outputs rounded
(cosines 6 dp, sums 2 dp); the per-language top-k carries a total
tie-break (cnt DESC, word). `events.ts` arrives through the session nanos
shim (session.py:load_table) — funnel/retention compare and truncate
within-engine, so micro-vs-nano precision never reaches the hash.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet


@register(
    "events_funnel_conversion",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(t1) AS BIGINT) AS n_view,
               CAST(sum(CASE WHEN t2 > t1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_view_click,
               CAST(sum(CASE WHEN t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_full
        FROM (SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
                min(CASE WHEN event_type = 'click' THEN ts END) AS t2,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
              FROM events GROUP BY user_id) u
    """,
    group="pipeline_analytics",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase: per-user first-touch timestamps
    per stage, then strict-ordering conversion counts.

    Scale shape: one shuffle on user_id with map-side partial min()s (the
    conditional mins are plain aggregates, not windows — no per-user sort
    anywhere); the final census is a partial-agg → 1-row exchange. NULL
    ordering semantics (a user missing a stage) stay inside each engine's
    CASE/comparison rules, which agree.
    """
    e = load_table(spark, sf_dir, "events")
    stage = [
        F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(a)
        for t, a in (("view", "t1"), ("click", "t2"), ("purchase", "t3"))
    ]
    u = e.groupBy("user_id").agg(*stage)
    return u.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("n_view"),
        F.sum(F.when(F.col("t2") > F.col("t1"), 1).otherwise(0))
        .cast("long")
        .alias("n_view_click"),
        F.sum(
            F.when((F.col("t2") > F.col("t1")) & (F.col("t3") > F.col("t2")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_full"),
    )


@register(
    "events_retention_cohort",
    oracle="""
        SELECT cohort_week, active_week,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        FROM (SELECT e.user_id,
                     date_trunc('week', f.first_ts) AS cohort_week,
                     date_trunc('week', e.ts) AS active_week
              FROM events e
              JOIN (SELECT user_id, min(ts) AS first_ts
                    FROM events GROUP BY user_id) f USING (user_id)) x
        GROUP BY cohort_week, active_week
    """,
    group="pipeline_analytics",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users bucketed by first-seen week
    (cohort), counted distinct in each week they were active.

    Scale shape: the first-seen aggregate and the events⋈first join hash
    on the same user_id key, so Catalyst reuses one exchange; the final
    count-distinct re-shuffles on the (cohort, active) week pair —
    |weeks|² keys, never skewed. Both week truncations happen after the
    join, inside codegen.
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).alias("cohort_week"),
            F.date_trunc("week", F.col("ts")).alias("active_week"),
        )
        .groupBy("cohort_week", "active_week")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "text_word_topk_per_lang",
    oracle="""
        SELECT lang, word, cnt FROM (
          SELECT lang, word, cnt,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY cnt DESC, word) AS rk
          FROM (SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt
                FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
                      FROM documents) t
                WHERE word <> '' GROUP BY lang, word) g) r
        WHERE rk <= 5
    """,
    group="pipeline_analytics",
)
def text_word_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency: top-5 words per language (split → explode →
    count → per-group rank), the vocabulary-census primitive of a
    training-data pipeline.

    Scale shape: explode fans out inside the scan stage (no exchange);
    the (lang, word) count is partial-aggregated map-side before its one
    shuffle, so the exchange carries unique words per task, not token
    instances; the per-language top-5 window re-partitions on lang only
    after the count has collapsed cardinality to |vocab|. Tie-break
    (cnt DESC, word) makes row_number total, per §5.3.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).where(F.col("word") != "")
    cnt = words.groupBy("lang", "word").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("lang", "word", "cnt")
    )


@register(
    "emb_label_centroid_cosine",
    oracle="""
        WITH comps AS (
          SELECT label, unnest(embedding) AS val,
                 unnest(range(1, len(embedding) + 1)) AS pos
          FROM embeddings),
        cent AS (SELECT label, pos, avg(val) AS c
                 FROM comps GROUP BY label, pos)
        SELECT a.label AS label_a, b.label AS label_b,
               round(sum(a.c * b.c)
                     / (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))),
                     6) AS cos_sim
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    """,
    group="pipeline_analytics",
)
def emb_label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid geometry: mean vector per label, then pairwise
    cosine between centroids — the cluster-separation diagnostic for an
    embedding table (are my class centroids collapsing?).

    Scale shape: posexplode fans each vector into (label, pos, val) rows
    scan-side; the centroid groupBy partial-aggregates map-side, so its
    shuffle carries |labels|×dim rows regardless of corpus size. The
    centroid⋈centroid self-join and the pair aggregate run on that tiny
    frame (|labels|×dim ≈ 640 rows) — corpus size never touches them.
    DuckDB mirror uses zipped unnest + range for posexplode.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = comps.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("pos_b"),
        F.col("c").alias("cb"),
    )
    pairs = a.join(
        b, (F.col("pos") == F.col("pos_b")) & (F.col("label_a") < F.col("label_b"))
    )
    return pairs.groupBy("label_a", "label_b").agg(
        F.round(
            F.sum(F.col("ca") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            ),
            6,
        ).alias("cos_sim")
    )


@register(
    "sink_partitioned_parquet",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    """,
    group="pipeline_analytics",
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet write→pruned read: events written
    ``partitionBy(event_type)``, re-read with a partition filter, and
    aggregated — hash-checked against the *source* table, proving the
    round trip is lossless and the pruned read complete.

    Scale shape: the write is executor-parallel with one directory per
    partition value (5 here — at 100 TB you'd partition by a bounded-
    cardinality column exactly like this, never by a key). The read back
    applies partition pruning: the `event_type IN (...)` filter is
    resolved against directory names at planning time, so 3/5 of the
    data is never opened (asserted in tests/test_cli_sinks.py).
    """
    e = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        f"desdb_part_events_{spark.sparkContext.applicationId}",
    )
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = read_parquet(spark, out).where(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "events_minute_gapfill",
    oracle="""
        WITH spine AS (
          SELECT ts_min FROM generate_series(
              TIMESTAMP '2024-01-01 00:00:00',
              TIMESTAMP '2024-01-01 02:00:00',
              INTERVAL 1 MINUTE) AS t(ts_min)),
        cnts AS (
          SELECT date_trunc('minute', ts) AS ts_min,
                 CAST(count(*) AS BIGINT) AS n
          FROM events
          WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
            AND ts <= TIMESTAMP '2024-01-01 02:00:00'
          GROUP BY date_trunc('minute', ts))
        SELECT spine.ts_min, coalesce(n, 0) AS n_events
        FROM spine LEFT JOIN cnts ON spine.ts_min = cnts.ts_min
    """,
    group="pipeline_analytics",
)
def events_minute_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense minute spine over a 2-hour window, left-joined with event
    counts and zero-filled — the gap-filling primitive behind every
    regular time-series chart or downstream resampler (sparse event data
    must become a dense grid).

    Scale shape: the spine is generated (sequence+explode, 121 rows —
    never read from disk) and broadcast to the counts side; the counts
    aggregate prunes events at the scan by the pushed time-range filter
    and partial-aggregates per minute before its shuffle. At 100 TB the
    spine stays O(window/step) regardless of data volume — generation
    cost is independent of the fact table.
    """
    e = load_table(spark, sf_dir, "events")
    spine = spark.sql(
        """
        SELECT explode(sequence(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-01 02:00:00',
                                INTERVAL 1 MINUTE)) AS ts_min
        """
    )
    cnts = (
        e.where(
            (F.col("ts") >= F.lit("2024-01-01 00:00:00").cast("timestamp"))
            & (F.col("ts") <= F.lit("2024-01-01 02:00:00").cast("timestamp"))
        )
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("cnt_min"))
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(cnts, spine.ts_min == cnts.cnt_min, "left")
        .select("ts_min", F.coalesce("n", F.lit(0)).alias("n_events"))
    )


@register(
    "profile_table_summary",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null_price,
               min(o_orderdate) AS first_order,
               max(o_orderdate) AS last_order,
               round(avg(o_totalprice), 2) AS avg_price,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders
    """,
    group="pipeline_analytics",
)
def profile_table_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: row count, key cardinality, null census,
    value ranges, rounded mean — the describe-before-you-query step of
    catalog exploration (desdb users ran exactly this against Oracle
    dictionary views; here it is one distributed aggregate over the
    data itself [desdb:desdb.py describe — reconstructed, SURVEY.md §2A
    A4]).

    Scale shape: a single global aggregate — every measure
    partial-aggregates map-side except the two exact count-distincts,
    which expand to a two-phase hash agg keyed on the distinct column;
    the final exchange carries one row per task. For
    billions-of-distinct-keys profiling swap in
    approx_count_distinct (agg_approx_count_distinct op) — exact
    distinct is the right default at dimension-table cardinalities.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )
