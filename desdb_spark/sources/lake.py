"""Lake layout: partitioned & bucketed tables, CBO statistics (SURVEY.md §4).

The reference leaned on Oracle's server-side partitioning and optimizer
stats; the engine's equivalents are:

- **Date-partitioned writes** → static + dynamic partition pruning: a
  filter on the partition column prunes directories before any I/O. At
  100 TB this is the difference between scanning a day and scanning a
  decade.
- **Bucketed tables** → co-located joins: two tables bucketed on the same
  key join with *zero* shuffle (asserted in tests/test_lake.py). This is
  the pre-shuffle investment for every hot join key (orderkey, custkey).
- **Table statistics** → CBO join reordering + broadcast selection
  (`spark.sql.cbo.enabled`); collect after load, refresh after append.

Bucketed tables require the session catalog (``saveAsTable``); plain
partitioned writes work path-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned_by_date(
    df: DataFrame,
    path: str,
    ts_col: str,
    granularity: str = "month",
    mode: str = "overwrite",
) -> DataFrame:
    """Write parquet partitioned by a derived date column; returns a reader.

    The partition column is *added*, not replacing ts_col, so queries keep
    full timestamp precision while scans prune on the directory key.
    """
    part_col = f"{ts_col}_{granularity}"
    out = df.withColumn(
        part_col, F.date_format(F.date_trunc(granularity, F.col(ts_col)), "yyyy-MM-dd")
    )
    out.write.mode(mode).partitionBy(part_col).parquet(path)
    return read_parquet(df.sparkSession, path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist as a bucketed (+optionally sorted) catalog table.

    Joins between tables bucketed identically on the join key skip the
    shuffle entirely; sorting within buckets additionally skips the
    sort-merge sort.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)
    return df.sparkSession.table(table)


def analyze_table(spark: SparkSession, table: str, columns: list[str] | None = None) -> None:
    """Collect CBO statistics (row counts + per-column NDV/min/max)."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


# --------------------------------------------------------------- registered op
from desdb_spark.registry import register  # noqa: E402
from desdb_spark.session import load_table, read_parquet  # noqa: E402


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """Idempotent reset for a managed table: DROP from the catalog AND
    clear an orphaned warehouse location (a fresh session's in-memory
    catalog forgets the table, but the managed directory survives on
    disk, and saveAsTable refuses to reuse it — LOCATION_ALREADY_EXISTS).
    Local-fs rmtree; on a cluster the warehouse is an object-store prefix
    and the same orphan cleanup goes through its delete API."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = urlparse(warehouse).path or warehouse
    shutil.rmtree(f"{path.rstrip('/')}/{table}", ignore_errors=True)


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_lines,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus
    """,
    group="lake",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned join: orders and lineitem persisted as catalog tables
    bucketed 8-ways on their order key, then joined bucket-to-bucket and
    aggregated — hash-checked against the plain join on the source
    parquet, proving the bucketed round trip is lossless.

    Scale shape: identical bucketing on the join key makes the sort-merge
    join read matching buckets directly — ZERO join-side exchange
    (asserted with broadcast disabled in tests/test_lake.py; at fixture
    scale AQE may elect broadcast instead, which is also shuffle-free).
    At 100 TB this is the pre-shuffle investment for every hot join key:
    pay one clustered write, skip the shuffle on every subsequent join.
    The aggregate's |statuses|-row exchange is the only one left.
    """
    for t in ("b4_orders", "b4_lineitem"):
        _drop_table_and_location(spark, t)
    bo = write_bucketed_table(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "b4_orders",
        "o_orderkey",
        num_buckets=8,
    )
    bl = write_bucketed_table(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "b4_lineitem",
        "l_orderkey",
        num_buckets=8,
    )
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )
