"""Round-6 batch-5 schema-evolution read (mergeSchema).

Long-lived 100 TB tables are written by YEARS of pipeline versions: old
files lack columns that new files carry. The engine must read the union
schema across file vintages without rewriting history — Spark's parquet
``mergeSchema`` option (schema merging across footers, with missing
columns null-filled per file). The registered op stages two vintages
derived deterministically from orders (v1: key+price; v2: adds a
channel column), reads the directory with mergeSchema, and aggregates
per vintage — null-filling and column union are both visible in the
hashed result.

Scale note: ``mergeSchema`` reads EVERY file footer at planning time
(that is its cost — a footer metadata pass, not a data pass); at
100 TB/millions of files you pin the merged schema in a catalog or use
``spark.read.schema(merged)`` instead, which this op's code path
degenerates to once the schema is known. The data-side plan is an
ordinary pruned parquet scan either way.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet

_ORACLE = """
    WITH merged AS (
        SELECT o_orderkey, o_totalprice, NULL AS channel, 'v1' AS vintage
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority AS channel,
               'v2' AS vintage
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT vintage,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(channel) AS BIGINT) AS n_with_channel,
           round(sum(o_totalprice), 2) AS total
    FROM merged GROUP BY vintage
"""


@register("source_schema_evolution_merge", oracle=_ORACLE, group="sources")
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two parquet vintages of orders (v1 without the channel
    column, v2 with it), read the directory back with
    ``mergeSchema=true``, and report per-vintage row counts, non-null
    channel counts, and price totals. v1 rows MUST surface with
    channel=NULL (count(channel)=0) and v2 rows with it populated — the
    exact null-filling contract the oracle reproduces relationally.

    The vintage tag is written into the files (not inferred from
    paths), so the op also proves column union keeps unrelated columns
    aligned across footers.
    """
    o = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="desdb_schemaevo_")
    try:
        v1 = o.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice", F.lit("v1").alias("vintage")
        )
        v2 = o.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderpriority").alias("channel"),
            F.lit("v2").alias("vintage"),
        )
        v1.write.parquet(os.path.join(base, "files_v1"))
        v2.write.parquet(os.path.join(base, "files_v2"))
        # Read both vintages' files as one dataset; mergeSchema unions
        # the footers (v1 lacks `channel` entirely).
        merged = read_parquet(
            spark,
            os.path.join(base, "files_v1"),
            os.path.join(base, "files_v2"),
            merge_schema=True,
        )
        result = merged.groupBy("vintage").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("channel").cast("bigint").alias("n_with_channel"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
