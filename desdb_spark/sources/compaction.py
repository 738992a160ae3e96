"""Round-7 lakehouse maintenance: small-file compaction — the OPTIMIZE
pass every table format (Delta OPTIMIZE, Iceberg rewrite_data_files,
Hudi clustering) runs to undo streaming/trickle ingest fragmentation.
Thousands of KB-sized files cap scan parallelism at the scheduler (one
task per file, per-task overhead dominates) and bloat the footer/
manifest path; compaction rewrites them into files near a target size.

Engine shape: read the fragmented table, ``coalesce`` to the computed
file count — coalesce, NOT repartition: it merges input splits without
a shuffle, which is the whole point of a rewrite whose only goal is
layout — and write back. File count = ceil(bytes / target_file_size),
the same arithmetic every format's optimizer uses.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from desdb_spark.registry import register
from desdb_spark.session import load_table, read_parquet

#: Fragment the staged copy this many ways, then compact toward
#: TARGET_FILE_BYTES (tiny for the fixture; production targets ~1 GB).
FRAGMENT_PARTS = 64
TARGET_FILE_BYTES = 4 * 1024 * 1024


def compact_parquet_dir(
    spark: SparkSession, src_dir: str, dst_dir: str, target_bytes: int
) -> int:
    """Rewrite ``src_dir`` into ``dst_dir`` with files sized toward
    ``target_bytes``; returns the file count written. Library surface —
    the registered op drives it through a staged fragmented copy."""
    import os

    total = sum(
        os.path.getsize(os.path.join(src_dir, f))
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes))
    df = read_parquet(spark, src_dir)
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_dir)
    # r17: count the written files from the filesystem — the old
    # input_file_name().distinct().count() spun a whole Spark job (scan +
    # distinct exchange) to learn a number the directory listing already
    # holds. Same value by construction: one part file per write task.
    return len([f for f in os.listdir(dst_dir) if f.endswith(".parquet")])


@register(
    "sink_compact_small_files",
    # Hash discipline: the proof is the CONTENT roundtrip through the
    # fragment → compact → re-read cycle (count, key cardinality, exact
    # cents, extrema vs DuckDB on the source); the layout improvement
    # (file count collapses from FRAGMENT_PARTS toward the size target)
    # is fs-specific and pinned in tests/test_compaction.py.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(min(l_orderkey) AS BIGINT) AS min_key,
               CAST(max(l_orderkey) AS BIGINT) AS max_key
        FROM lineitem
    """,
    group="compaction",
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment lineitem into {FRAGMENT_PARTS} small files (simulating
    trickle ingest), compact toward TARGET_FILE_BYTES, and prove the
    rewrite lost nothing: the hashed return is the re-read content
    aggregate, checked against DuckDB on the pristine source.

    Scale shape: the fragmenting write is the *simulated pathology*; the
    compaction itself is scan → coalesce → write, shuffle-free — each
    output task concatenates whole input splits. At 100 TB this runs
    per-partition (compact yesterday's partition, not the table) and
    the target is ~1 GB so downstream scans get full-split tasks;
    with Spark 4's AQE coalescing a repartition-by-range variant also
    re-clusters while compacting (sink_sorted_parquet's layout).
    """
    from desdb_spark.sources.sinks import _stage_dir

    li = load_table(spark, sf_dir, "lineitem")
    frag = _stage_dir(spark, "compact_fragmented")
    # r17: hash-partition the fragmenting write on the key instead of
    # round-robin — keyless repartition(n) first pays a LOCAL SORT of its
    # whole input (spark.sql.execution.sortBeforeRepartition, needed so
    # task retries reproduce the row→partition map; guide §2.5), a cost
    # the simulated-pathology write doesn't need. Hash on the high-
    # cardinality key gives the same 64 non-empty fragment files (test-
    # pinned) without sorting 600k rows; the compacted CONTENT aggregate
    # is partitioning-independent either way.
    li.repartition(FRAGMENT_PARTS, F.col("l_orderkey")).write.mode(
        "overwrite"
    ).parquet(frag)
    compacted = _stage_dir(spark, "compact_output")
    compact_parquet_dir(spark, frag, compacted, TARGET_FILE_BYTES)
    back = read_parquet(spark, compacted)
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
        F.min("l_orderkey").cast("bigint").alias("min_key"),
        F.max("l_orderkey").cast("bigint").alias("max_key"),
    )
