"""Round-8: sequential pattern matching over per-user event streams —
the MATCH_RECOGNIZE (SQL:2016 row-pattern recognition) workload
re-expressed relationally: encode each user's time-ordered event types
as a compact string, then run the row-pattern as a REGEX on that string
(non-overlapping leftmost matches, the same semantics MATCH_RECOGNIZE's
`AFTER MATCH SKIP PAST LAST ROW` default gives).

Scale shape: one shuffle (groupBy user) carrying (ts, event_id, char)
triples; the per-user sequence build is `array_sort` + `transform` +
`array_join` — all JVM expression work inside whole-stage codegen, no
Python — and the regex scan is one `regexp_count` per user string.
Per-user state is bounded by that user's event count (the same bound
any per-entity pattern engine carries); a pathological power user would
be chunked by session first (events_sessionize_batch) before matching.

Cross-engine note: 'vc*p' produces identical non-overlapping leftmost
matches under Java regex (Spark) and RE2 (DuckDB) — no backreferences,
no lookaround, greedy-vs-lazy irrelevant to match COUNT for this
pattern class. The hashed output is counts, not spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table

#: Row pattern: a view, any number of clicks, then a purchase.
PATTERN = "vc*p"

#: event_type → single-char code (deterministic, total over the fixture).
_CODE = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "signup": "s",
    "error": "e",
}


@register(
    "events_pattern_match_regex",
    oracle=f"""
        WITH coded AS (
            SELECT user_id, ts, event_id,
                   CASE event_type
                        WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        ELSE 'e' END AS c
            FROM events
        ), seq AS (
            SELECT user_id, string_agg(c, '' ORDER BY ts, event_id) AS s
            FROM coded GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(count(*) FILTER (WHERE n > 0) AS BIGINT)
                   AS n_users_matched,
               CAST(sum(n) AS BIGINT) AS total_matches
        FROM (
            SELECT length(regexp_extract_all(s, '{PATTERN}')) AS n FROM seq
        ) t
    """,
    group="sequence_ext",
)
def events_pattern_match_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern recognition: per user, the (ts, event_id)-ordered
    event-type string is scanned for non-overlapping 'view clicks*
    purchase' occurrences; output = users total / users with ≥1 match /
    total match count, hashed against DuckDB building the identical
    sequences with ordered string_agg. The (ts, event_id) composite
    order key makes the sequence deterministic under timestamp ties.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    # coalesce to 'e' so an out-of-domain event_type matches the oracle's
    # ELSE branch instead of becoming a NULL that array_join silently
    # drops (which would make an intervening event invisible to the
    # pattern — a semantic bug, not just a hash mismatch).
    code = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _CODE.items() for x in kv])[
            F.col("event_type")
        ],
        F.lit("e"),
    )
    seq = (
        ev.withColumn("c", code)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("s")
        )
    )
    m = seq.select(F.regexp_count("s", F.lit(PATTERN)).alias("n"))
    return m.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count(F.when(F.col("n") > 0, 1)).cast("bigint").alias("n_users_matched"),
        F.sum("n").cast("bigint").alias("total_matches"),
    )
