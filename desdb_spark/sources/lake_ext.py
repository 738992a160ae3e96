"""Lake-layout extensions, round 5 batch 3: dynamic partition pruning
under a dimension join, and range-clustered sorted file layout — the two
storage-side levers (besides bucketing, sources/lake.py) that decide
whether a 100 TB scan reads a day or a decade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet

#: The three busiest fixture days — the "dimension selection" the pruned
#: scan must reduce to.
_PRUNE_DAYS = ("2024-01-05", "2024-01-12", "2024-01-21")


@register(
    "join_partition_pruned_scan",
    oracle=f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, count(*) AS cnt,
               round(sum(value), 4) AS sum_value
        FROM events
        WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') IN
              {_PRUNE_DAYS!r}
        GROUP BY day, event_type
    """,
    group="lake_ext",
)
def join_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events persisted day-partitioned, then
    joined to a 3-row day dimension — Spark broadcasts the dim, derives
    the surviving partition values at runtime, and the scan reads ONLY
    those directories (plan asserted in tests/test_lake_ext.py:
    ``dynamicpruning`` subquery inside PartitionFilters).

    Hash-checked against DuckDB filtering the ORIGINAL parquet, so the
    partitioned round trip is also proven lossless.

    Scale shape: this is desdb's release/date-keyed archive scan (§2A
    A5/A6) done right at 100 TB — the fact scan's I/O is proportional to
    the dim selection, not the table size, with no query rewrite: the
    pruning values flow from the join itself.
    """
    from desdb_spark.sources.lake import write_partitioned_by_date
    from desdb_spark.sources.sinks import _stage_dir

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    path = _stage_dir(spark, "lake_dpp_events")
    # write_partitioned_by_date returns the unpartitioned-source reader;
    # re-read the partitioned tree so the partition column is real.
    write_partitioned_by_date(ev, path, ts_col="ts", granularity="day")
    part = read_parquet(spark, path)  # ts_day inferred as a DATE partition col
    # The dim carries a real selective predicate (keep = 1): Spark's DPP
    # planner only injects the pruning subquery when the build side is
    # actually filtered — a bare 3-row relation does not qualify. The key
    # is cast to DATE on the dim side so the partition attribute stays
    # bare (a cast around the partition column would defeat pruning).
    dim = (
        spark.createDataFrame(
            [(d, 1) for d in _PRUNE_DAYS], "day_str string, keep int"
        )
        .where(F.col("keep") == 1)
        .select(F.col("day_str").cast("date").alias("ts_day"))
    )
    return (
        part.join(F.broadcast(dim), "ts_day")
        .groupBy(
            F.date_format("ts_day", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def sorted_layout_profile(spark: SparkSession) -> DataFrame:
    """Per-file (n_rows, min, max) profile of the sorted-sink output —
    the zone-map evidence (disjoint ranges, asserted in
    tests/test_lake_ext.py). Diagnostic surface: per-file stats depend
    on the sampled range-partitioning bounds, so they are NOT part of
    the hash-checked contract."""
    from desdb_spark.sources.sinks import _stage_dir

    out = _stage_dir(spark, "lake_sorted_orders")
    return (
        read_parquet(spark, out)
        .withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .select("n_rows", "min_price", "max_price")
        .orderBy("min_price")
    )


# sink_sorted_parquet moved to sources/sinks.py (it is a sink; the write
# paths live together, and its sorted output feeds sorted_layout_profile
# above).
